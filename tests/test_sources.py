"""End-to-end Spark tests for the vectorized sources: WARC/ARC ingest,
pages generator (incl. the byte-identity invariant), distributed WARC sink
round-trip."""

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from warc_spark.kernels import make_record, sha1_digest_hex
from warc_spark.kernels.gzipmember import compress_records_as_members
from warc_spark.sources import (
    open_archive,
    parse_warc_column,
    read_warc,
    synth_pages,
    write_warc,
)
from warc_spark.sources.pages import extract_text_kernel, synth_seeds


@pytest.fixture(scope="module")
def warc_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("warcs")
    records = [
        make_record(
            payload=b"payload %d" % i,
            headers=[("WARC-Target-URI", "http://example.com/%d" % i)],
            record_id="00000000-0000-0000-0000-%012d" % i,
            date="2026-08-01T00:00:%02dZ" % (i % 60),
        ).to_bytes()
        for i in range(25)
    ]
    path = str(d / "sample.warc.gz")
    with open(path, "wb") as f:
        f.write(compress_records_as_members(records))
    plain = str(d / "sample.warc")
    with open(plain, "wb") as f:
        f.write(b"".join(records))
    return path, plain


def test_read_warc_gz(spark, warc_file):
    gz, plain = warc_file
    df = read_warc(spark, gz)
    rows = df.orderBy("record_index").collect()
    assert len(rows) == 25
    assert rows[0].target_uri == "http://example.com/0"
    assert rows[0].warc_type == "response"
    assert bytes(rows[0].payload) == b"payload 0"
    assert rows[0].payload_digest == sha1_digest_hex(b"payload 0")
    assert rows[0].offset == 0 and rows[0].size > 0
    # compressed offsets are cumulative member sizes (browse() semantics)
    assert rows[1].offset == rows[0].size
    assert rows[0].error is None


def test_read_warc_plain_and_dispatch(spark, warc_file):
    gz, plain = warc_file
    df = open_archive(spark, plain)
    assert df.count() == 25
    with pytest.raises(IOError):
        open_archive(spark, "file.unknown")


def test_header_only_scan_prunes_payload(spark, warc_file):
    gz, _ = warc_file
    df = read_warc(spark, gz).select("target_uri", "warc_type")
    assert df.count() == 25  # no payload materialization required downstream


def test_write_warc_roundtrip(spark, warc_file, tmp_path):
    gz, _ = warc_file
    df = read_warc(spark, gz)
    out = str(tmp_path / "out")
    manifest = write_warc(df, out, compress=True).collect()
    assert sum(m.records for m in manifest) == 25
    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    a = {(r.target_uri, bytes(r.payload)) for r in df.collect()}
    b = {(r.target_uri, bytes(r.payload)) for r in back.collect()}
    assert a == b


def test_synth_pages_schema_and_identity(spark):
    pages = synth_pages(spark, 300, seed=42)
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    pdf = pages.toPandas()
    assert len(pdf) == 300
    assert pdf["url"].is_unique
    # byte-identity invariant (BASELINE.json input_hint)
    assert (extract_text_kernel(pdf["html"]) == pdf["text"]).all()


def test_synth_pages_deterministic_across_parallelism(spark):
    a = synth_pages(spark, 200, seed=42, partitions=2).orderBy("url").toPandas()
    b = synth_pages(spark, 200, seed=42, partitions=16).orderBy("url").toPandas()
    assert (a["url"] == b["url"]).all()
    assert (a["text"] == b["text"]).all()
    assert [bytes(x) for x in a["html"]] == [bytes(x) for x in b["html"]]


def test_parse_warc_column_on_pages(spark):
    pages = synth_pages(spark, 100, seed=42)
    recs = parse_warc_column(pages, "html", keep=["url", "lang"])
    rows = recs.select("url", "target_uri", "warc_type", "error").collect()
    assert len(rows) == 100
    for r in rows:
        assert r.target_uri == r.url
        assert r.warc_type == "response"
        assert r.error is None


def test_synth_seeds(spark):
    seeds = synth_seeds(spark, 300, n_seeds=10)
    pdf = seeds.toPandas()
    assert pdf["url"].is_unique
    assert (pdf["priority"] <= 1.0).all()


def _full(rows, record_index=None):
    """Full record tuples in file order; ``record_index`` overrides the
    rows' own (random-access reads carry -1)."""
    return [
        (r.filename, r.record_index if record_index is None else record_index,
         r.offset, r.size, r.target_uri, bytes(r.payload), r.payload_digest,
         r.record_id)
        for r in sorted(rows, key=lambda r: (r.offset, r.record_id))
    ]


ARC_DATE = dt.datetime(2026, 8, 1)


def _arc_fields(i: int) -> dict:
    """Header fields of ARC test record ``i`` (payload ``payload i``)."""
    return {
        "url": "http://example.com/%d" % i, "ip_address": "127.0.0.1",
        "date": "20260801000000", "content_type": "text/html",
        "length": str(len(b"payload %d" % i)), "result_code": "200",
        "checksum": "-", "location": "-", "offset": "0", "filename": "part.arc",
    }


def _arc_input(spark, n: int):
    """``n`` ARC_RECORD_SCHEMA-shaped rows for write_arc."""
    return spark.createDataFrame([
        {"url": "http://example.com/%d" % i, "ip_address": "127.0.0.1",
         "arc_date": ARC_DATE, "content_type": "text/html",
         "payload": b"payload %d" % i}
        for i in range(n)
    ])


def test_presplit_scan_matches_read_warc(spark, warc_file, tmp_path):
    """Member-offset pre-split scan: >1 input split over one multi-member
    file must yield byte-identical records to the whole-file scan
    (reference member framing, warc/gzip2.py:88-109), and so must the
    random-access read of every member in the index."""
    from warc_spark.sources import (
        index_warc_members,
        plan_warc_splits,
        read_warc_records,
    )

    gz, _ = warc_file
    idx = index_warc_members(spark, gz)
    idx_rows = idx.orderBy("member_index").collect()
    assert len(idx_rows) == 25
    assert idx_rows[0].offset == 0
    # offsets tile the file contiguously
    for a, b in zip(idx_rows, idx_rows[1:]):
        assert b.offset == a.offset + a.length
    file_bytes = os.path.getsize(gz)
    split_bytes = max(1, file_bytes // 5)  # force >1 split
    splits = plan_warc_splits(idx, split_bytes).collect()
    assert len(splits) > 1
    ref = _full(read_warc(spark, gz).collect())
    assert _full(read_warc(spark, gz, split_bytes=split_bytes).collect()) == ref
    assert _full(
        read_warc(spark, gz, split_bytes=split_bytes, index=idx).collect()
    ) == ref
    assert _full(read_warc_records(spark, idx).collect(), -1) == [
        (t[0], -1) + t[2:] for t in ref
    ]


def test_write_warc_streams_and_roundtrips_plain(spark, warc_file, tmp_path):
    gz, _ = warc_file
    df = read_warc(spark, gz)
    out = str(tmp_path / "plain")
    manifest = write_warc(df, out, compress=False).collect()
    assert sum(m.records for m in manifest) == 25
    # no stray .tmp files, hidden in-progress names included (the stream
    # sink renames atomically)
    assert not [n for n in os.listdir(out) if n.endswith(".tmp")]
    for m in manifest:
        assert os.path.getsize(m.filename) == m.bytes
    back = read_warc(spark, os.path.join(out, "*.warc"))
    a = {(r.target_uri, bytes(r.payload)) for r in df.collect()}
    b = {(r.target_uri, bytes(r.payload)) for r in back.collect()}
    assert a == b


@pytest.mark.parametrize("fmt", ["warc", "arc"])
def test_killed_writer_part_not_read(spark, warc_file, tmp_path, fmt):
    """A truncated part left under the writer's in-progress name (a worker
    SIGKILLed mid-write) is invisible to a read of the output dir."""
    import datetime as dt

    from warc_spark.sources import read_arc, write_arc
    from warc_spark.sources.warc_source import in_progress_path

    out = str(tmp_path / fmt)
    if fmt == "warc":
        manifest = write_warc(read_warc(spark, warc_file[0]), out).collect()
        read, ext = read_warc, ".warc.gz"
    else:
        date = dt.datetime(2026, 8, 1)
        rows = [
            {"url": "http://example.com/%d" % i, "ip_address": "127.0.0.1",
             "arc_date": date, "content_type": "text/html",
             "payload": b"payload %d" % i}
            for i in range(20)
        ]
        df = spark.createDataFrame(rows).repartition(2)
        manifest = write_arc(df, out, date=date).collect()
        read, ext = read_arc, ".arc"
    manifest = [m for m in manifest if m.records]
    with open(manifest[0].filename, "rb") as f:
        data = f.read()
    with open(in_progress_path(os.path.join(out, "part-killed" + ext)), "wb") as f:
        f.write(data[: len(data) // 2])
    back = read(spark, out).collect()
    assert len(back) == sum(m.records for m in manifest)
    assert {os.path.basename(r.filename) for r in back} == {
        os.path.basename(m.filename) for m in manifest
    }


@pytest.mark.parametrize("wrap", [False, True])
def test_part_file_commits_or_drops(tmp_path, wrap):
    """The sinks' shared part-file writer: a part with no record creates
    no file, a clean exit renames the part into place (a wrapper such as
    write_arc's whole-part gzip flushed into it first), and an error
    unlinks the in-progress file."""
    import gzip

    from warc_spark.sources.warc_source import _PartFile

    def start(raw, name):
        f = gzip.GzipFile(fileobj=raw, mode="wb", mtime=0)
        f.write(b"head:" + name.encode())
        return f

    kw = {"start": start} if wrap else {}
    with _PartFile(str(tmp_path), ".x", **kw) as empty:
        pass
    assert empty.manifest().empty and os.listdir(tmp_path) == []
    with _PartFile(str(tmp_path), ".x", **kw) as part:
        part.write(b"a")
        part.write(b"b")
    (m,) = part.manifest().itertuples()
    assert (m.filename, m.records, m.bytes) == (
        part.name, 2, os.path.getsize(part.name)
    )
    with open(part.name, "rb") as f:
        data = f.read()
    name = os.path.basename(part.name)
    assert (gzip.decompress(data) if wrap else data) == (
        b"head:" + name.encode() + b"ab" if wrap else b"ab"
    )
    with pytest.raises(RuntimeError):
        with _PartFile(str(tmp_path), ".x", **kw) as failed:
            failed.write(b"a")
            raise RuntimeError("task failed mid-part")
    assert os.listdir(tmp_path) == [name]


def test_write_arc_roundtrip_and_golden(spark, tmp_path):
    """Distributed ARC sink: files-on-disk round-trip via read_arc, and the
    single-partition file byte-matches the reference-golden kernel
    serializer (serialize_arc_file)."""
    import datetime as dt

    from warc_spark.kernels.arcrec import parse_arc_file, serialize_arc_file
    from warc_spark.sources import read_arc, write_arc

    date = dt.datetime(2026, 8, 1)
    rows = [
        {
            "url": "http://example.com/%d" % i,
            "ip_address": "127.0.0.1",
            "arc_date": date,
            "content_type": "text/html",
            "result_code": "200",
            "checksum": "-",
            "location": "-",
            "offset": "0",
            "arc_filename": "part.arc",
            "length": 9,
            "payload": b"payload %d" % i,
        }
        for i in range(10)
    ]
    df = spark.createDataFrame(rows).coalesce(1)
    out = str(tmp_path / "arcs")
    manifest = write_arc(df.orderBy("url"), out, version=2, date=date).collect()
    manifest = [m for m in manifest if m.records]
    assert sum(m.records for m in manifest) == 10
    back = read_arc(spark, os.path.join(out, "*.arc"))
    got = {(r.url, bytes(r.payload)) for r in back.collect()}
    assert got == {(r["url"], r["payload"]) for r in rows}
    # byte-identity vs the kernel's whole-file serializer
    assert len(manifest) == 1
    fname = manifest[0].filename
    recs = [
        (
            {
                "url": r["url"], "ip_address": r["ip_address"],
                "date": "20260801000000", "content_type": r["content_type"],
                "length": str(len(r["payload"])), "result_code": "200",
                "checksum": "-", "location": "-", "offset": "0",
                "filename": r["arc_filename"],
            },
            r["payload"].decode("latin-1"),
        )
        for r in sorted(rows, key=lambda x: x["url"])
    ]
    expect = serialize_arc_file(
        recs, os.path.basename(fname), version=2, date=date
    )
    with open(fname, "rb") as f:
        assert f.read().decode("latin-1") == expect
    # gz variant round-trips too
    out_gz = str(tmp_path / "arcs_gz")
    mz = write_arc(df, out_gz, version=2, date=date, compress=True).collect()
    assert sum(m.records for m in mz if m.records) == 10
    back_gz = read_arc(spark, os.path.join(out_gz, "*.arc.gz"))
    assert {(r.url, bytes(r.payload)) for r in back_gz.collect()} == got


def test_dispatch_presplit(spark, warc_file):
    gz, _ = warc_file
    split = max(1, os.path.getsize(gz) // 4)
    a = open_archive(spark, gz).count()
    b = open_archive(spark, gz, split_bytes=split).count()
    assert a == b == 25


def test_presplit_plain_file_fallback(spark, warc_file):
    """Plain (uncompressed) WARCs go through the split and random-access
    paths as one ranged member per file — and every record keeps its own
    byte span, as in read_warc (both used to report offset 0 and the file
    size for every record)."""
    from warc_spark.sources import index_warc_members, read_warc_records

    _, plain = warc_file
    ref = _full(read_warc(spark, plain).collect())
    assert len(ref) == 25 and len({t[2] for t in ref}) == 25
    assert _full(read_warc(spark, plain, split_bytes=100).collect()) == ref
    got = read_warc_records(spark, index_warc_members(spark, plain)).collect()
    assert _full(got, -1) == [(t[0], -1) + t[2:] for t in ref]


def test_random_access_by_offset_index(spark, warc_file):
    """cc-index pattern: select rows from the member index, ranged-read
    exactly those records — byte-identical to the scan's records."""
    from pyspark.sql import functions as SF

    from warc_spark.sources import index_warc_members, read_warc_records

    gz, _ = warc_file
    idx = index_warc_members(spark, gz)
    wanted = idx.filter(SF.col("member_index").isin(3, 7, 19)).withColumn(
        "tag", SF.concat(SF.lit("m"), SF.col("member_index").cast("string"))
    ).drop("member_index")
    got = read_warc_records(spark, wanted).collect()
    assert len(got) == 3
    ref = {
        r.offset: r
        for r in read_warc(spark, gz).collect()
        if r.record_index in (3, 7, 19)
    }
    for r in got:
        e = ref[r.offset]
        assert (r.target_uri, bytes(r.payload), r.record_id, r.size) == (
            e.target_uri, bytes(e.payload), e.record_id, e.size
        )
        assert r.tag == "m%d" % e.record_index  # passthrough column


def test_streamed_member_index_matches_whole_file(spark, warc_file):
    """The bounded-memory member indexer must give exactly the member
    geometry ``iter_gzip_members`` finds over the whole file's bytes —
    forced through many tiny chunk boundaries (chunk_bytes=64) so member
    frames straddle reads — and the split scan over it must equal
    read_warc. Plain files index as one whole-file member."""
    from warc_spark.kernels.gzipmember import iter_gzip_members
    from warc_spark.sources import index_warc_members

    gz, plain = warc_file
    key = lambda r: (r.offset, r.length, r.member_index)  # noqa: E731
    with open(gz, "rb") as f:
        want = [(off, size, i) for i, (off, size, _) in
                enumerate(iter_gzip_members(f.read()))]
    streamed = index_warc_members(spark, [gz], chunk_bytes=64)
    assert sorted(map(key, streamed.collect())) == want and len(want) == 25
    got = {(r.target_uri, bytes(r.payload))
           for r in read_warc(spark, gz, split_bytes=1, index=streamed).collect()}
    ref = {(r.target_uri, bytes(r.payload))
           for r in read_warc(spark, gz).collect()}
    assert got == ref and len(got) == 25
    pstreamed = index_warc_members(spark, plain, chunk_bytes=64).collect()
    assert list(map(key, pstreamed)) == [(0, os.path.getsize(plain), 0)]


def test_readers_path_with_space(spark, warc_file, tmp_path):
    """Spark lists a file under a dir with a space as an unencoded Hadoop
    URI (``file:/a b/x``); every ranged read still opens it."""
    import shutil

    from warc_spark.sources import (
        index_arc_records,
        index_warc_members,
        read_arc,
        read_arc_records,
        read_warc_records,
        write_arc,
    )

    gz, _ = warc_file
    d = tmp_path / "with space"
    d.mkdir()
    shutil.copy(gz, d / "sample.warc.gz")
    ref = _full(read_warc(spark, gz).collect())
    assert _full(read_warc(spark, str(d)).collect()) == ref
    assert _full(read_warc(spark, str(d), split_bytes=1000).collect()) == ref
    idx = index_warc_members(spark, str(d))
    assert read_warc_records(spark, idx).count() == 25
    arcs = str(tmp_path / "arc with space")
    write_arc(_arc_input(spark, 5).coalesce(1), arcs, date=ARC_DATE).collect()
    aref = sorted((r.record_index, r.url) for r in read_arc(spark, arcs).collect())
    assert len(aref) == 5
    aidx = index_arc_records(spark, arcs)
    assert aidx.count() == 5
    got = read_arc_records(spark, aidx).collect()
    assert sorted((r.record_index, r.url) for r in got) == aref


def test_readers_list_files_without_content(spark, warc_file, tmp_path):
    """Every archive reader lists its files through Spark's binaryFile
    source without the ``content`` column — the bytes are ranged-read
    through pyarrow.fs, never pulled into the JVM."""
    import datetime as dt
    import re

    from warc_spark.sources import (
        index_arc_records,
        index_warc_members,
        read_arc,
        write_arc,
    )

    gz, _ = warc_file
    date = dt.datetime(2026, 8, 1)
    arcs = str(tmp_path / "arcs")
    write_arc(
        spark.createDataFrame([{"url": "http://example.com/", "ip_address": "127.0.0.1",
                                "arc_date": date, "content_type": "text/html",
                                "payload": b"p"}]),
        arcs, date=date,
    ).collect()
    readers = {
        "read_warc": read_warc(spark, gz),
        "read_warc split": read_warc(spark, gz, split_bytes=1 << 20),
        "index_warc_members": index_warc_members(spark, gz),
        "read_arc": read_arc(spark, arcs),
        "index_arc_records": index_arc_records(spark, arcs),
    }
    for name, df in readers.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        schemas = re.findall(r"FileScan binaryFile.*?ReadSchema: (struct<[^>]*>)", plan)
        assert schemas, (name, plan)
        for schema in schemas:
            assert "content" not in schema, (name, schema)
        assert df.count() > 0, name


def test_arc_random_access_by_offset_index(spark, tmp_path):
    """ARC mirror of the cc-index pattern (VERDICT r2 #8): per-record byte
    offsets on plain files, per-member compressed offsets on gzipped ones
    — ranged reads recover exactly the records the scan sees."""
    import datetime as dt

    from pyspark.sql import functions as SF

    from warc_spark.kernels.arcrec import (
        make_filedesc_record,
        serialize_arc_record,
    )
    from warc_spark.kernels.gzipmember import compress_gzip_member
    from warc_spark.sources import (
        index_arc_records,
        read_arc,
        read_arc_records,
        write_arc,
    )

    date = dt.datetime(2026, 8, 1)
    rows = [
        {
            "url": "http://example.com/%d" % i,
            "ip_address": "127.0.0.1",
            "arc_date": date,
            "content_type": "text/html",
            "result_code": "200",
            "checksum": "-",
            "location": "-",
            "offset": "0",
            "arc_filename": "part.arc",
            "length": 9,
            "payload": b"payload %d" % i,
        }
        for i in range(10)
    ]
    expect = {(r["url"], r["payload"]) for r in rows}

    # ---- plain file: per-record byte offsets --------------------------
    out = str(tmp_path / "arcs")
    write_arc(
        spark.createDataFrame(rows).coalesce(1).orderBy("url"),
        out, version=2, date=date,
    ).collect()
    idx = index_arc_records(spark, os.path.join(out, "*.arc"))
    assert idx.count() == 10
    wanted = idx.filter(SF.col("record_index").isin(2, 5, 9)).drop("record_index")
    got = read_arc_records(spark, wanted).collect()
    assert len(got) == 3
    ref = {
        r.url: r
        for r in read_arc(spark, os.path.join(out, "*.arc")).collect()
        if r.record_index in (2, 5, 9)
    }
    assert {r.url for r in got} == set(ref)
    for r in got:
        e = ref[r.url]
        assert (bytes(r.payload), r.arc_version, r.content_type) == (
            bytes(e.payload), e.arc_version, e.content_type
        )

    # ---- member-per-record gzip (the IA convention) -------------------
    gz_path = str(tmp_path / "members.arc.gz")
    fd_fields, fd_payload = make_filedesc_record("members.arc.gz", 2, date=date)
    with open(gz_path, "wb") as f:
        f.write(
            compress_gzip_member(
                (serialize_arc_record(fd_fields, fd_payload, 2) + "\n").encode("latin-1")
            )
        )
        for r in rows:
            fields = {
                "url": r["url"], "ip_address": r["ip_address"],
                "date": "20260801000000", "content_type": r["content_type"],
                "length": str(len(r["payload"])), "result_code": "200",
                "checksum": "-", "location": "-", "offset": "0",
                "filename": r["arc_filename"],
            }
            f.write(
                compress_gzip_member(
                    (serialize_arc_record(fields, r["payload"].decode("latin-1"), 2)
                     + "\n").encode("latin-1")
                )
            )
    midx = index_arc_records(spark, gz_path)
    assert midx.count() == 10  # distinct member offsets, one record each
    assert midx.select("offset").distinct().count() == 10
    one = midx.filter(SF.col("record_index") == 4)
    got1 = read_arc_records(spark, one).collect()
    assert len(got1) == 1
    assert (got1[0].url, bytes(got1[0].payload)) == (
        rows[4]["url"], rows[4]["payload"]
    )

    # ---- whole-file gzip (write_arc compress=True): one member --------
    out_gz = str(tmp_path / "arcs_gz")
    write_arc(
        spark.createDataFrame(rows).coalesce(1),
        out_gz, version=2, date=date, compress=True,
    ).collect()
    gidx = index_arc_records(spark, os.path.join(out_gz, "*.arc.gz"))
    assert gidx.count() == 10
    # all 10 index rows address the SAME member; read_arc_records must
    # fetch the member once, not once per row (ADVICE r3: feeding the
    # index straight in used to return NxN duplicated records), and the
    # emitted record_index must stay the per-file ordinal
    gall = read_arc_records(spark, gidx).collect()
    assert len(gall) == 10
    assert {(r.url, bytes(r.payload)) for r in gall} == expect
    assert sorted(r.record_index for r in gall) == list(range(10))
    by_ordinal = {r.record_index: r.url for r in gall}
    ref_gz = {
        r.record_index: r.url
        for r in read_arc(spark, os.path.join(out_gz, "*.arc.gz")).collect()
    }
    assert by_ordinal == ref_gz


def test_arc_v1_whole_file_gzip_random_access(spark, tmp_path):
    """A whole-file-gzip v1 ARC is one member that starts with the
    ``filedesc://`` header: random access through its index finds the
    header inside the member, takes v1 from it and returns each record
    once, with its per-file ordinal."""
    from warc_spark.sources import (
        index_arc_records,
        read_arc,
        read_arc_records,
        write_arc,
    )

    out = str(tmp_path / "v1gz")
    write_arc(
        _arc_input(spark, 6).coalesce(1), out, version=1, date=ARC_DATE,
        compress=True,
    ).collect()
    key = lambda r: (r.url, bytes(r.payload), r.arc_version, r.arc_date)  # noqa: E731
    ref = {r.record_index: key(r) for r in read_arc(spark, out).collect()}
    assert sorted(ref) == list(range(6))
    assert {v[2] for v in ref.values()} == {1}
    idx = index_arc_records(spark, out)
    assert idx.select("offset", "length").distinct().count() == 1
    assert {r.arc_version for r in idx.collect()} == {1}
    got = read_arc_records(spark, idx).collect()
    assert len(got) == 6
    assert {r.record_index: key(r) for r in got} == ref


def test_arc_member_index_geometry(spark, tmp_path):
    """Over a member-per-record ``.arc.gz`` each index row addresses its
    record's own member: the ``(offset, length)`` ``iter_gzip_members``
    finds over the file's bytes (the header-only first member holds no
    record)."""
    from warc_spark.kernels.arcrec import make_filedesc_record, serialize_arc_record
    from warc_spark.kernels.gzipmember import compress_gzip_member, iter_gzip_members
    from warc_spark.sources import index_arc_records

    path = str(tmp_path / "members.arc.gz")
    header = make_filedesc_record("members.arc.gz", 2, date=ARC_DATE)
    blobs = [serialize_arc_record(*header, 2)] + [
        serialize_arc_record(_arc_fields(i), "payload %d" % i, 2) for i in range(7)
    ]
    with open(path, "wb") as f:
        for b in blobs:
            f.write(compress_gzip_member((b + "\n").encode("latin-1")))
    with open(path, "rb") as f:
        members = [(off, size) for off, size, _ in iter_gzip_members(f.read())]
    got = sorted(
        (r.offset, r.length, r.record_index, r.arc_version, r.url)
        for r in index_arc_records(spark, path).collect()
    )
    assert got == [
        (off, size, i, 2, "http://example.com/%d" % i)
        for i, (off, size) in enumerate(members[1:])
    ]


def test_arc_unparseable_date_reads_null(spark, tmp_path):
    """An ARC date that is not 14 digits reads back as a null ``arc_date``
    (the batch's one vectorized date conversion coerces it); the rest of
    the record still reads."""
    from warc_spark.kernels.arcrec import serialize_arc_file
    from warc_spark.sources import read_arc

    text = serialize_arc_file(
        [(_arc_fields(0), "payload 0")], "bad.arc", version=1, date=ARC_DATE
    ) + "http://example.com/bad 127.0.0.1 2026-08-01 text/html 3\nabc\n\n"
    path = tmp_path / "bad.arc"
    path.write_bytes(text.encode("latin-1"))
    rows = sorted(read_arc(spark, str(path)).collect(), key=lambda r: r.record_index)
    assert [(r.url, r.arc_date, bytes(r.payload)) for r in rows] == [
        ("http://example.com/0", ARC_DATE, b"payload 0"),
        ("http://example.com/bad", None, b"abc"),
    ]


def test_pages_from_records_feeds_frontier(spark, tmp_path):
    """The ingest bridge end to end: synthetic pages -> WARC files on disk
    -> scanned back -> pages table -> a frontier crawl whose scheduling is
    IDENTICAL to crawling the original pages table."""
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore
    from warc_spark.sources.pages import pages_from_records, synth_seeds

    orig = synth_pages(spark, 300, seed=42, n_hosts=6)
    wdir = str(tmp_path / "warcs")
    write_warc(
        parse_warc_column(orig, "html", keep=[]).select(
            "header_names", "headers", "payload"
        ),
        wdir,
        compress=True,
    ).collect()
    back = pages_from_records(read_warc(spark, os.path.join(wdir, "*.warc.gz")))
    # the rebuilt pages table equals the original on every column
    a = orig.orderBy("url").collect()
    b = back.orderBy("url").collect()
    assert len(a) == len(b) == 300
    for ra, rb in zip(a, b):
        assert (ra.url, bytes(ra.html), ra.text) == (rb.url, bytes(rb.html), rb.text)
        assert ra.warc_ts == rb.warc_ts
    seeds = synth_seeds(spark, 300, n_seeds=8, seed=42, n_hosts=6)
    cfg = FrontierConfig(max_batches=2, default_budget=4)
    s1, s2 = SnapStore(str(tmp_path / "s1")), SnapStore(str(tmp_path / "s2"))
    FrontierEngine(spark, orig, s1, config=cfg).run(seeds)
    FrontierEngine(spark, back, s2, config=cfg).run(seeds)
    for k in range(2):
        x = [(r.url, r.priority) for r in s1.read_df(spark, k, "scheduled").orderBy("url").collect()]
        y = [(r.url, r.priority) for r in s2.read_df(spark, k, "scheduled").orderBy("url").collect()]
        assert x == y


def test_real_html_warc_roundtrip_feeds_frontier(spark, tmp_path):
    """VERDICT r2 #1 done-criterion: a fixture WARC with real-world-shaped
    HTML (nested tags, script/style payloads, comments, entities, relative
    hrefs, <base>) round-trips through pages_from_records(extractor='html')
    -> FrontierEngine(extractor='html') with correct tag-stripped text and
    RESOLVED links."""
    from warc_spark.kernels.gzipmember import compress_gzip_member
    from warc_spark.kernels.warcrec import serialize_warc_record
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore
    from warc_spark.sources.pages import pages_from_records

    site = "http://site.example.com"
    pages = {
        f"{site}/a/index.html": (
            '<html><head><title>Index</title><style>a {color: blue}</style>'
            '<script>var h = "<a href=\'dead.html\'>x</a>";</script></head>'
            "<body><!-- menu -->"
            "<div><p>Welcome &amp; enjoy &#8212; caf&eacute;!</p></div>"
            '<a href="b.html">b</a><a href="../c.html">c</a>'
            '<a href="/d.html">d</a><a href="e.html?x=1&amp;y=2">e</a>'
            '<a href="#top">t</a><a href="javascript:void(0)">j</a>'
            '<a href="http://other.example.org/abs.html">o</a></body></html>'
        ),
        f"{site}/a/b.html": (
            f'<html><head><base href="{site}/z/"></head>'
            '<body><p>Beta page</p><a href="f.html">f</a></body></html>'
        ),
        f"{site}/c.html": "<html><body><p>Gamma</p></body></html>",
        f"{site}/z/f.html": "<html><body><p>Final leaf</p></body></html>",
    }
    expect_text = {
        f"{site}/a/index.html": "Index\nWelcome & enjoy — café!\nbcdetjo",
        f"{site}/a/b.html": "Beta page\nf",
        f"{site}/c.html": "Gamma",
        f"{site}/z/f.html": "Final leaf",
    }
    index_links = {
        f"{site}/a/b.html",
        f"{site}/c.html",
        f"{site}/d.html",
        f"{site}/a/e.html?x=1&y=2",
        "http://other.example.org/abs.html",
    }
    wpath = str(tmp_path / "real.warc.gz")
    with open(wpath, "wb") as f:
        for i, (url, body) in enumerate(pages.items()):
            http = (
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                "Content-Length: %d\r\n\r\n%s" % (len(body), body)
            )
            headers = [
                ("WARC-Type", "response"),
                ("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-%012d>" % i),
                ("WARC-Date", "2026-08-01T00:00:00Z"),
                ("WARC-Target-URI", url),
                ("Content-Type", "application/http; msgtype=response"),
                ("Content-Length", str(len(http))),
            ]
            f.write(
                compress_gzip_member(
                    serialize_warc_record(headers, http.encode("latin-1"))
                )
            )

    corpus = pages_from_records(
        read_warc(spark, wpath), extractor="html"
    )
    got_text = {r.url: r.text for r in corpus.collect()}
    assert got_text == expect_text

    store = SnapStore(str(tmp_path / "snap"))
    eng = FrontierEngine(
        spark, corpus, store,
        config=FrontierConfig(extractor="html", max_batches=4, default_budget=10),
    )
    seeds = spark.createDataFrame(
        [(f"{site}/a/index.html", 1.0)], "url string, priority double"
    )
    manifests = eng.run(seeds)
    assert len(manifests) == 3  # index -> its links -> f.html
    b0 = store.read_df(spark, 0, "scheduled").collect()
    assert [r.url for r in b0] == [f"{site}/a/index.html"]
    assert b0[0].text_extracted == expect_text[f"{site}/a/index.html"]
    b1 = {r.url: r for r in store.read_df(spark, 1, "scheduled").collect()}
    assert set(b1) == index_links  # fragments/javascript skipped, hrefs resolved
    assert b1[f"{site}/a/b.html"].status == "found"
    assert b1[f"{site}/c.html"].status == "found"
    assert b1[f"{site}/d.html"].status == "missing"
    assert b1[f"{site}/a/e.html?x=1&y=2"].status == "missing"
    assert b1[f"{site}/c.html"].text_extracted == "Gamma"
    b2 = [r for r in store.read_df(spark, 2, "scheduled").collect()]
    # b.html's relative link resolved against its <base>, not its url
    assert [r.url for r in b2] == [f"{site}/z/f.html"]
    assert b2[0].status == "found"
    assert b2[0].text_extracted == "Final leaf"


def test_parse_sitemap_entries(spark):
    """JVM sitemap parser: per-entry hints, entity decode, index rows,
    passthrough keep columns — and a map-only, Python-free plan."""
    import io
    import re
    from contextlib import redirect_stdout

    from warc_spark.sources.pages import parse_sitemap_entries

    body = """<?xml version="1.0"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>http://h.example.org/a?x=1&amp;y=&quot;2&quot;</loc>
           <lastmod>2026-01-05</lastmod>
           <changefreq>daily</changefreq>
           <priority>0.8</priority></url>
      <url><loc> http://h.example.org/b </loc></url>
      <url><lastmod>2026-01-06</lastmod></url>
    </urlset>"""
    idx = """<sitemapindex>
      <sitemap><loc>http://h.example.org/s1.xml</loc>
               <lastmod>2026-02-01</lastmod></sitemap>
    </sitemapindex>"""
    df = spark.createDataFrame(
        [("sm0", body), ("sm1", idx), ("sm2", None)], "src string, body string"
    )
    ent = parse_sitemap_entries(df, keep=("src",))
    rows = {r.loc: r for r in ent.collect()}
    # the loc-less <url> block and the null body drop out
    assert set(rows) == {
        'http://h.example.org/a?x=1&y="2"',
        "http://h.example.org/b",
        "http://h.example.org/s1.xml",
    }
    a = rows['http://h.example.org/a?x=1&y="2"']
    assert (a.src, a.lastmod, a.changefreq, a.priority, a.is_index) == (
        "sm0", "2026-01-05", "daily", 0.8, False,
    )
    b = rows["http://h.example.org/b"]
    assert (b.lastmod, b.changefreq, b.priority, b.is_index) == (
        None, None, None, False,
    )
    s1 = rows["http://h.example.org/s1.xml"]
    assert (s1.src, s1.lastmod, s1.is_index) == ("sm1", "2026-02-01", True)

    buf = io.StringIO()
    with redirect_stdout(buf):
        ent.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not re.findall(r"\(\d+\) Exchange", plan)  # map-only


def test_parse_sitemap_entries_gzip(spark):
    """binary=True gunzips .xml.gz blobs; plain and corrupt blobs pass
    through the lax fallback."""
    import gzip

    from warc_spark.sources.pages import parse_sitemap_entries

    xml = "<urlset><url><loc>http://h.example.org/gz</loc></url></urlset>"
    plain = "<urlset><url><loc>http://h.example.org/plain</loc></url></urlset>"
    df = spark.createDataFrame(
        [
            (bytearray(gzip.compress(xml.encode())),),
            (bytearray(plain.encode()),),
            (bytearray(b"\x1f\x8b\x00truncated"),),  # lax: raw fallback
            # valid 10-byte gzip header, corrupt DEFLATE body: raises
            # zlib.error (not an OSError) — must also fall back, not
            # kill the task
            (bytearray(b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\x03garbage"),),
            (None,),
        ],
        "body binary",
    )
    locs = {r.loc for r in parse_sitemap_entries(df, binary=True).collect()}
    assert locs == {"http://h.example.org/gz", "http://h.example.org/plain"}


def test_seeds_from_sitemaps(spark):
    from warc_spark.sources.pages import seeds_from_sitemaps

    urlset = """<?xml version="1.0"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>http://h0.example.org/a</loc><priority>0.9</priority></url>
      <url><loc> http://h0.example.org/b?x=1&amp;y=2 </loc></url>
      <url><loc>http://h0.example.org/a</loc><priority>0.3</priority></url>
    </urlset>"""
    index = """<sitemapindex>
      <sitemap><loc>http://h0.example.org/sitemap2.xml</loc></sitemap>
    </sitemapindex>"""
    seeds = seeds_from_sitemaps(
        spark.createDataFrame([(urlset,), (index,), (None,)], "body string"),
        default_priority=0.5,
    )
    got = {r.url: r.priority for r in seeds.collect()}
    assert got == {
        "http://h0.example.org/a": 0.9,            # duplicate max-merged
        "http://h0.example.org/b?x=1&y=2": 0.5,    # entity unescaped, default pri
        "http://h0.example.org/sitemap2.xml": None, # index row to expand
    }
    # feeds the frontier seed path directly (url + priority columns)
    assert set(seeds.columns) == {"url", "priority"}


def test_read_warc11_lax_with_fractional_date(spark, tmp_path):
    """WARC/1.1 segments (fractional-second WARC-Date, ISO revision) parse
    in the default lax scan: no error rows, version column carries 1.1,
    and the date lands on the general ISO-8601 parse path."""
    rec = (
        b"WARC/1.1\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Date: 2026-08-02T10:20:30.123456Z\r\n"
        b"WARC-Target-URI: http://v11.example/a\r\n"
        b"Content-Length: 5\r\n"
        b"\r\nhello\r\n\r\n"
    )
    p = str(tmp_path / "v11.warc")
    with open(p, "wb") as f:
        f.write(rec)
    rows = read_warc(spark, p).collect()
    assert len(rows) == 1 and rows[0].error is None
    assert rows[0].version == "1.1"
    assert rows[0].warc_date.microsecond == 123456
    assert rows[0].payload == b"hello"


def test_arc_whole_file_gzip_subset_reads_only_named_records(spark, tmp_path):
    """A subset of a whole-file-gzip ARC's index reads back exactly the
    records it names, each under its own ``record_index``: the index rows
    share one member, and ``member_record`` says which of its records each
    row is."""
    from warc_spark.sources import index_arc_records, read_arc_records, write_arc

    out = str(tmp_path / "gz")
    rows = [
        {"url": "http://e/%d" % i, "ip_address": "127.0.0.1",
         "arc_date": ARC_DATE, "content_type": "text/html",
         "payload": b"payload %d" % i}
        for i in range(10)
    ]
    write_arc(
        spark.createDataFrame(rows).coalesce(1).orderBy("url"), out,
        date=ARC_DATE, compress=True,
    ).collect()
    idx = index_arc_records(spark, out)
    assert sorted((r.record_index, r.member_record) for r in idx.collect()) == [
        (i, i) for i in range(10)
    ]
    one = read_arc_records(spark, idx.filter(F.col("record_index") == 4)).collect()
    assert [(r.url, r.record_index, bytes(r.payload)) for r in one] == [
        ("http://e/4", 4, b"payload 4")
    ]
    two = read_arc_records(spark, idx.filter(F.col("record_index").isin(4, 7)))
    assert sorted((r.url, r.record_index) for r in two.collect()) == [
        ("http://e/4", 4), ("http://e/7", 7)
    ]


def _old_warc_dates(raw):
    """The WARC date rule as a pandas batch conversion: the fixed 1.0
    format, then an ISO-8601 retry of the misses; unparseable -> NaT."""
    raw = pd.Series(raw, dtype=object)
    ts = pd.to_datetime(raw, format="%Y-%m-%dT%H:%M:%SZ", errors="coerce")
    miss = ts.isna() & raw.notna()
    if miss.any():
        ts[miss] = (
            pd.to_datetime(raw[miss], format="ISO8601", errors="coerce", utc=True)
            .dt.tz_localize(None)
        )
    return ts


def _old_arc_dates(raw):
    """The ARC date rule: ``%Y%m%d%H%M%S``; unparseable -> NaT."""
    return pd.to_datetime(
        pd.Series(raw, dtype=object), format="%Y%m%d%H%M%S", errors="coerce"
    )


def _naive(ts):
    """An oracle Series as the values Spark reads: micros, NaT -> None."""
    return [None if pd.isna(t) else t.floor("us").to_pydatetime() for t in ts]


WARC_DATE_EDGES = [
    "2026-08-01T23:01:53Z",            # valid 1.0
    "2026-8-1T3:1:5Z",                 # non-padded fields
    "2026-08-01T23:01:53.123456Z",     # 1.1 fractional seconds
    "2026-08-01T23:01:53.123456789Z",  # nanoseconds
    "2026-08-01T23:01:53+02:00",       # offset
    "2026-02-30T00:00:00Z",            # no such day
    "2026-08-01T23:01:53Z junk",       # trailing junk
    " 2026-08-01T23:01:53Z",           # leading space
    "",
    None,
]
ARC_DATE_EDGES = [
    "20260801231053", "20260230000000", "2026080123105", "202608012310531",
    "2026-08-01", " 20260801231053", "20260801231053x", "", None,
]


def test_scan_date_conversion_matches_pandas_rules():
    """The scan's date columns equal the pandas batch rules over an edge
    corpus (Arrow's own strptime would turn 2026-02-30 into 2026-03-02;
    the rule makes it null)."""
    from warc_spark.sources.arc_source import _arc_dates
    from warc_spark.sources.warc_source import _warc_dates

    for convert, oracle, corpus in (
        (_warc_dates, _old_warc_dates, WARC_DATE_EDGES),
        (_arc_dates, _old_arc_dates, ARC_DATE_EDGES),
    ):
        got = convert(list(corpus))
        assert str(got.type) == "timestamp[us, tz=UTC]"
        values = [None if t is None else t.replace(tzinfo=None) for t in got.to_pylist()]
        assert values == _naive(oracle(corpus)), corpus
    assert _warc_dates(["2026-02-30T00:00:00Z"]).to_pylist() == [None]
    assert _arc_dates(["20260230000000"]).to_pylist() == [None]
    assert _warc_dates(["2026-08-01T23:01:53Z"]).to_pylist()[0].replace(
        tzinfo=None
    ) == dt.datetime(2026, 8, 1, 23, 1, 53)


def test_scan_empty_range_is_typed_empty(spark, warc_file, tmp_path):
    """A range that holds no record yields an empty batch of the scan's
    Arrow schema, with and without ``keep`` columns: the readers return
    no row for it, under the full schema, and a non-empty range in the
    same batch still reads."""
    from warc_spark.sources import (
        ARC_RECORD_SCHEMA,
        WARC_RECORD_SCHEMA,
        read_arc_records,
        read_warc_records,
    )

    gz, _ = warc_file
    empty = tmp_path / "empty.warc"
    empty.write_bytes(b"")
    idx = spark.createDataFrame(
        [(str(empty), 0, 0, "x")], "path string, offset long, length long, label string"
    )
    for keep in ([], ["label"]):
        got = read_warc_records(spark, idx.select("path", "offset", "length", *keep))
        assert got.collect() == []
        assert got.schema.fields == (
            [idx.schema["label"]] * len(keep) + WARC_RECORD_SCHEMA.fields
        )
    first = read_warc(spark, gz).filter(F.col("record_index") == 0).first()
    both = idx.unionByName(spark.createDataFrame(
        [(gz, first.offset, first.size, "y")],
        "path string, offset long, length long, label string",
    )).coalesce(1)
    got = read_warc_records(spark, both).collect()
    assert [(r.label, r.record_id) for r in got] == [("y", first.record_id)]

    arc_idx = spark.createDataFrame(
        [(str(empty), 0, 0, 2, "x")],
        "path string, offset long, length long, arc_version int, label string",
    )
    for keep in ([], ["label"]):
        got = read_arc_records(
            spark, arc_idx.select("path", "offset", "length", "arc_version", *keep)
        )
        assert got.collect() == []
        assert got.schema.fields == (
            [arc_idx.schema["label"]] * len(keep) + ARC_RECORD_SCHEMA.fields
        )
