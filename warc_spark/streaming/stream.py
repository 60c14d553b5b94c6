"""Structured Streaming variants of the ingest path: a continuously-arriving
pages table (the production shape of a live crawl: WARC drops landing in
object storage) processed incrementally.

The reference library is a blocking pull iterator (warc/warc.py:389-393);
the streaming mapping is ``readStream`` over the landing directory ->
the same vectorized parse kernel (mapInPandas works unchanged on streams) ->
watermarked windowed aggregation / streaming dedup -> ``writeStream``.

Scale notes:
- file-source streaming scales by files-per-trigger; each WARC drop is an
  independent task (per-record gzip members keep it splittable, SURVEY §1.4);
- ``withWatermark + dropDuplicates(url)`` is the streaming URL-seen set —
  state is bounded by the watermark horizon; ``streaming_bloom_seen`` (one
  Bloom bitmap per host-hash bucket) is the unbounded-horizon complement;
- windowed counts use the event-time ``warc_ts``, tolerating late fetches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA
from ..sources.warc_source import WARC_RECORD_SCHEMA, parse_warc_column


def stream_pages(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Incrementally read a growing pages-table directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def streaming_parse_records(pages_stream: DataFrame) -> DataFrame:
    """The vectorized WARC parse kernel applied to a stream — identical
    code path as batch (parse_warc_column is stream-safe: map-only)."""
    return parse_warc_column(pages_stream, "html", keep=["url", "lang", "warc_ts"])


def streaming_host_rollup(
    pages_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time windowed page counts per host/lang with late-data
    tolerance via watermark."""
    host = F.regexp_extract(F.col("url"), r"//([^/:?#]+)", 1)
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), host.alias("host"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            "host",
            "lang",
            "n_pages",
        )
    )


def streaming_url_dedup(pages_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming URL-seen set: exactly-once url emission within the
    watermark horizon (state bounded by the horizon)."""
    return pages_stream.withWatermark("warc_ts", watermark).dropDuplicates(["url"])


# The streaming Bloom kernel. The hash keys, the double-hash positions and
# the bucket expression are the layout of every ``streaming_bloom_seen``
# checkpoint: changing any of them makes a restarted stream forget the urls
# its stored bitmaps hold (pinned by tests/test_streaming.py).
_HASH_KEY_1 = "warcsparkbloomh1"
_HASH_KEY_2 = "warcsparkbloomh2"


def _hash2(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = urls.astype(object).to_numpy()
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2)
    return h1, h2


def _bit_positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing h1 + i*h2 mod m."""
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
            np.int64
        )


def bucket_of(url_col, n_buckets: int):
    """Deterministic state bucket of a url (JVM-side xxhash64 of its
    lower-cased host): a host's urls share one Bloom bitmap."""
    host = F.lower(F.regexp_extract(url_col, r"//([^/:?#]+)", 1))
    return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")


def streaming_bloom_seen(
    pages_stream: DataFrame,
    n_buckets: int = 16,
    m_bits: int = 1 << 16,
    k: int = 7,
    url_col: str = "url",
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    an UNBOUNDED-horizon streaming URL-seen set (SURVEY §2.B E4; the batch
    frontier dedups with an exact anti-join against its seen log instead).
    ``dropDuplicates`` + watermark bounds state by evicting old keys;
    here the state is one Bloom bitmap per host-hash bucket (fixed bytes,
    never grows), so urls deduplicate across the entire stream lifetime —
    and across restarts via the streaming checkpoint. Emits first-seen rows
    only.

    At scale the operator shuffles by bucket once (the groupBy) and each
    bucket's state is m_bits/8 bytes regardless of url count.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType([StructField(url_col, StringType())])
    state_schema = StructType([StructField("blob", BinaryType())])

    def dedup(key, pdf_iter, state: GroupState):
        if state.exists:
            arr = np.frombuffer(bytes(state.get[0]), dtype=np.uint8).copy()
        else:
            arr = np.zeros(m_bits // 8, dtype=np.uint8)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            urls = pdf[url_col]
            h1, h2 = _hash2(urls)
            pos = _bit_positions(h1, h2, k, m_bits)
            bits = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            fresh = ~bits.all(axis=1)
            # set bits for everything in this batch (fresh or not: idempotent)
            flat = pos.ravel()
            np.bitwise_or.at(arr, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
            # within-batch repeats: first occurrence wins
            emit = urls[fresh]
            emit = emit[~emit.duplicated()]
            if len(emit):
                yield pd.DataFrame({url_col: emit})
        state.update((arr.tobytes(),))

    return (
        pages_stream.withColumn("_bucket", bucket_of(F.col(url_col), n_buckets))
        .groupBy("_bucket")
        .applyInPandasWithState(
            dedup, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, timeout_sec: int = 120,
    output_mode: str = "append", checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain everything currently available through the streaming engine
    into an in-memory sink and return the result as a DataFrame (test /
    backfill harness; Trigger.AvailableNow processes all pending files in
    bounded batches then stops). Pass ``checkpoint_dir`` to make stateful
    operators (streaming_bloom_seen) resume across invocations — the
    streaming analog of the batch engine's snapshot resume."""
    w = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination(timeout_sec)
    spark = stream_df.sparkSession
    return spark.table(query_name)


def run_available_now_to_dir(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str,
    timeout_sec: int = 120,
) -> DataFrame:
    """AvailableNow drain into a DURABLE parquet sink with an explicit
    checkpoint — the restartable harness: invoking it again after more
    files land resumes the stateful operators (streaming_bloom_seen's
    blobs) from the checkpointed state store and appends only the new
    output. (The in-memory sink of run_available_now cannot recover from a
    checkpoint.) Returns the cumulative sink contents."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stream_df.sparkSession.read.parquet(out_dir)


def stream_archive_export(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    kind: str = "wet",
    compress: bool = True,
    timeout_sec: int = 120,
) -> None:
    """Continuous WET/WAT export of a live stream — the streaming analog
    of ``write_wet``/``write_wat`` (CC's derived formats generated as
    captures land, not in a nightly batch). ``kind="wet"`` expects a
    pages-shaped stream (url, warc_ts, text), ``kind="wat"`` a records
    scan stream.

    Each micro-batch serializes through the streamed ``write_warc`` sink
    (one gzip member per record, bounded memory, crash-safe part files)
    into ``out_dir/epoch=N``. foreachBatch is at-least-once on retries,
    so the epoch directory is cleared before a rerun writes — per-epoch
    idempotence on top of deterministic record ids. That clear is a
    local-filesystem ``os.path.exists`` + ``shutil.rmtree``, so
    ``out_dir`` must be a POSIX path the driver and executors share, not
    an object-store URI. Trigger.AvailableNow + the streaming checkpoint
    make repeated invocations drain only NEW input files (the restartable
    backfill harness)."""
    if kind not in ("wet", "wat"):
        raise ValueError(f"kind must be wet|wat, got {kind!r}")

    from ..sources.warc_source import write_warc
    from ..sources.wet import wat_records, wet_records

    to_rows = wet_records if kind == "wet" else wat_records

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil

        edir = os.path.join(out_dir, f"epoch={epoch_id}")
        if os.path.exists(edir):  # retried epoch: idempotent re-write
            shutil.rmtree(edir)
        write_warc(to_rows(batch_df), edir, compress=compress).collect()

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
