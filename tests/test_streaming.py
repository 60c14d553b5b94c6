"""Structured Streaming ingest: stream==batch parity on the same files."""

import pytest
from pyspark.sql import functions as F

from warc_spark.sources.pages import synth_pages
from warc_spark.streaming import (
    run_available_now,
    run_available_now_to_dir,
    stream_pages,
    streaming_bloom_seen,
    streaming_host_rollup,
    streaming_parse_records,
    streaming_url_dedup,
)


@pytest.fixture(scope="module")
def landing_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("landing"))
    # two separate drops so the stream sees multiple files
    synth_pages(spark, 150, seed=42, partitions=2).write.mode("append").parquet(d)
    synth_pages(spark, 150, seed=43, partitions=2).write.mode("append").parquet(d)
    return d


def test_streaming_rollup_matches_batch(spark, landing_dir):
    stream = stream_pages(spark, landing_dir, max_files_per_trigger=2)
    got = run_available_now(
        streaming_host_rollup(stream), "rollup_test", output_mode="append"
    )
    # append mode emits only watermark-closed windows; compare against the
    # batch rollup restricted to the same windows
    batch = spark.read.parquet(landing_dir)
    host = F.regexp_extract(F.col("url"), r"//([^/:?#]+)", 1)
    expected = (
        batch.groupBy(
            F.window("warc_ts", "1 hour").alias("win"), host.alias("host"), "lang"
        )
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("win.start").alias("window_start"), "host", "lang", "n_pages")
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g.issubset(e)
    assert len(g) > 0


def test_streaming_parse_records(spark, landing_dir):
    stream = stream_pages(spark, landing_dir)
    parsed = streaming_parse_records(stream).select(
        "url", "target_uri", "warc_type", "error"
    )
    got = run_available_now(parsed, "parse_test")
    rows = got.collect()
    assert len(rows) == 300
    assert all(r.target_uri == r.url and r.error is None for r in rows)


def test_streaming_dedup(spark, landing_dir):
    stream = stream_pages(spark, landing_dir)
    got = run_available_now(streaming_url_dedup(stream), "dedup_test")
    n_distinct_batch = spark.read.parquet(landing_dir).select("url").distinct().count()
    assert got.count() == n_distinct_batch


def test_streaming_bloom_seen_stateful_resume(spark, tmp_path):
    """applyInPandasWithState URL-seen: first-seen-only emission across the
    whole stream, and — the resume property — state survives a second
    AvailableNow invocation through the streaming checkpoint: re-dropped
    urls are NOT re-emitted."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    synth_pages(spark, 120, seed=42, partitions=2).write.mode("append").parquet(landing)

    def drain():
        stream = stream_pages(spark, landing, max_files_per_trigger=1)
        return run_available_now_to_dir(streaming_bloom_seen(stream), out, ckpt)

    got1 = drain()
    urls1 = {r.url for r in got1.collect()}
    expected = {r.url for r in spark.read.parquet(landing).select("url").collect()}
    assert urls1 == expected  # every url emitted exactly once (fpp ~ 0 here)

    # second drop: one file of pure repeats (already in bloom state) and
    # one file of genuinely-new urls (different generator seed)
    synth_pages(spark, 120, seed=42, partitions=1).write.mode("append").parquet(landing)
    synth_pages(spark, 60, seed=99, partitions=1).write.mode("append").parquet(landing)

    got2 = drain()  # resumes bloom state from the checkpoint
    urls2 = {r.url for r in got2.collect()} - urls1  # sink is cumulative
    new_expected = {
        r.url for r in synth_pages(spark, 60, seed=99).select("url").collect()
    }
    # nothing from the repeated drop re-emitted; the genuinely-new urls are
    assert urls2 & expected == set()
    assert new_expected - urls1 <= urls2


def test_streaming_bloom_kernel_pinned(spark):
    """The Bloom kernel's outputs are the layout of every stored
    ``streaming_bloom_seen`` checkpoint: the two seeded url hashes, the
    double-hash bit positions and the host bucket. Pinned to fixed values
    so a change to any of them (which would make a restarted stream forget
    the urls its bitmaps hold) fails here."""
    import pandas as pd

    from warc_spark.streaming.stream import _bit_positions, _hash2, bucket_of

    urls = [
        "http://host0.example.org/page/0",
        "https://Shop.Example.COM:8443/cart?id=7#top",
        "http://a.b.c.example.net/x/y/z.html",
        "ftp://files.example.org/pub/README",
    ]
    h1, h2 = _hash2(pd.Series(urls))
    assert h1.tolist() == [
        10436549747158546923, 18087295335819850597,
        10356858257203207157, 596556129135566502,
    ]
    assert h2.tolist() == [
        10742505201343883073, 9935252282777236027,
        12508129664789972265, 11896123625069802135,
    ]
    assert _bit_positions(h1, h2, 7, 1 << 16).tolist() == [
        [63979, 24876, 51309, 12206, 38639, 65072, 25969],
        [13157, 42400, 6107, 35350, 64593, 28300, 57543],
        [7157, 8478, 9799, 11120, 12441, 13762, 15083],
        [7846, 4413, 980, 63083, 59650, 56217, 52784],
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, url string")
    rows = df.select("i", bucket_of(F.col("url"), 16).alias("b")).orderBy("i").collect()
    assert [r.b for r in rows] == [0, 4, 4, 11]


def test_stream_wet_export_matches_batch(spark, landing_dir, tmp_path):
    """stream==batch parity for the WET export: draining the landing dir
    through stream_archive_export (foreachBatch -> the streamed WARC
    sink, one epoch dir per micro-batch) yields exactly the batch
    write_wet record set — same deterministic ids, same payload bytes —
    and a second invocation with the same checkpoint drains nothing new
    (AvailableNow restart semantics)."""
    import glob
    import os

    from warc_spark.sources import read_warc
    from warc_spark.sources.wet import write_wet
    from warc_spark.streaming.stream import stream_archive_export, stream_pages

    out = str(tmp_path / "wet_stream")
    ckpt = str(tmp_path / "wet_ckpt")
    stream_archive_export(
        stream_pages(spark, landing_dir, max_files_per_trigger=2),
        out, ckpt, kind="wet",
    )
    epochs = sorted(glob.glob(os.path.join(out, "epoch=*")))
    assert len(epochs) >= 2  # 4 landing files / 2 per trigger

    batch_out = str(tmp_path / "wet_batch")
    write_wet(spark.read.parquet(landing_dir), batch_out).collect()

    def recset(path_glob):
        return {
            (r["record_id"], r["target_uri"], bytes(r["payload"]))
            for r in read_warc(spark, path_glob).select(
                "record_id", "target_uri", "payload").collect()
        }

    got = recset(os.path.join(out, "epoch=*", "*.warc.gz"))
    want = recset(os.path.join(batch_out, "*.warc.gz"))
    assert got == want and len(got) > 0

    # restart with the same checkpoint: nothing new to drain
    stream_archive_export(
        stream_pages(spark, landing_dir, max_files_per_trigger=2),
        out, ckpt, kind="wet",
    )
    assert sorted(glob.glob(os.path.join(out, "epoch=*"))) == epochs
