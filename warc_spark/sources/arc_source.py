"""Vectorized ARC v1/v2 ingest/egest (the ARC mirror of warc_source; the
reference's read path is warc/arc.py:307-382).

One scan, two kernels: every ARC reader is warc_source's Arrow-native
archive scan (``_scan_ranges``, a ``mapInArrow`` stage) run with this
module's column kernel, ``_arc_kernel``, and finalizer, ``_arc_batch``, in
place of the WARC pair; both read records through ``_arc_records``.
``read_arc`` scans one range per file, ``read_arc_records`` one range per
indexed record or gzip member (emitting only the records the index names),
and ``index_arc_records`` maps ``_arc_records`` to index rows. The sink,
``write_arc``, streams each task's records into one part file through the
part-file writer ``write_warc`` uses (``_PartFile``).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels.arcrec import parse_arc_file_indexed, parse_arc_records_indexed
from ..kernels.gzipmember import GZIP_MAGIC, iter_gzip_members
from .warc_source import (
    MANIFEST_SCHEMA,
    _list_files,
    _open_ranged,
    _PartFile,
    _scan_ranges,
    _to_batch,
    _utc_timestamps,
)

ARC_RECORD_SCHEMA = StructType(
    [
        StructField("filename", StringType()),
        StructField("record_index", LongType()),
        StructField("arc_version", IntegerType()),
        StructField("url", StringType()),
        StructField("ip_address", StringType()),
        StructField("arc_date", TimestampType()),
        StructField("content_type", StringType()),
        StructField("result_code", StringType()),
        StructField("checksum", StringType()),
        StructField("location", StringType()),
        StructField("offset", StringType()),
        StructField("arc_filename", StringType()),
        StructField("length", LongType()),
        StructField("payload", BinaryType()),
    ]
)
# the Arrow schema Spark reads ARC_RECORD_SCHEMA batches in
_ARC_ARROW = to_arrow_schema(ARC_RECORD_SCHEMA)


def _arc_records(data: bytes, start: int, version: int | None):
    """Kernel: the bytes of one ARC range (file offset ``start``) ->
    ``(offset, length, version, record)`` per record, in file space.

    A gzip range is split into members, decompressed one at a time, and
    each record carries its member's ``(offset, size)`` in compressed
    space (the IA member-per-record convention; a whole-file-gzip ARC is
    one member holding every record). A plain range carries each record's
    own span, header line plus payload: the reference's v2 ``offset``
    field (arc.py:126-127) as real file geometry. Text that starts with
    a ``filedesc://`` file header takes the version from it (arc.py:319-333);
    any other text needs ``version`` (an index carries it)."""
    gz = data[:2] == GZIP_MAGIC
    for m_off, m_size, raw in iter_gzip_members(data) if gz else [(0, 0, data)]:
        text = raw.decode("latin-1")
        if text.startswith("filedesc://"):
            recs = parse_arc_file_indexed(text)
            version = next(recs)
        elif version is None:
            raise IOError("ARC range at %d has no filedesc:// header and no "
                          "version" % (start + m_off))
        else:
            recs = parse_arc_records_indexed(text, version)
        for off, length, rec in recs:
            if gz:
                yield start + m_off, m_size, version, rec
            else:
                yield start + off, length, version, rec


def _arc_kernel(cols: dict[str, list], data: bytes, name: str, rng: dict) -> int:
    """The ARC kernel in the scan's shape (see ``_scan_ranges``): append one
    range's records to the ARC_RECORD_SCHEMA column lists. ``record_index``
    counts up from the range's ``first_index``, unless the range carries
    ``picks``, a list of ``(member_record, record_index)``: then only the
    records at those positions in the range's member are appended, each
    with its own ``record_index``. ``arc_date`` stays the raw string;
    ``_arc_batch`` converts the whole column at once."""
    picks = rng.get("picks")
    want = None if picks is None else {
        p["member_record"]: p["record_index"] for p in picks
    }
    n = 0
    for i, (_, _, ver, rec) in enumerate(
        _arc_records(data, rng["start"], rng.get("arc_version"))
    ):
        if want is None:
            index = rng["first_index"] + i
        elif i in want:
            index = want[i]
        else:
            continue
        f = rec.fields
        cols["filename"].append(name)
        cols["record_index"].append(index)
        cols["arc_version"].append(ver)
        cols["url"].append(f.get("url"))
        cols["ip_address"].append(f.get("ip_address"))
        cols["arc_date"].append(f.get("date"))
        cols["content_type"].append(f.get("content_type"))
        cols["result_code"].append(f.get("result_code") or None)
        cols["checksum"].append(f.get("checksum") or None)
        cols["location"].append(f.get("location") or None)
        cols["offset"].append(f.get("offset") or None)
        cols["arc_filename"].append(f.get("filename") or None)
        cols["length"].append(int(f["length"]) if f.get("length") else 0)
        cols["payload"].append(rec.payload.encode("latin-1"))
        n += 1
    return n


def _arc_dates(raw: list) -> pa.Array:
    """14-digit ARC dates -> timestamps, converted once per batch,
    vectorized; an unparseable date becomes null."""
    return _utc_timestamps(
        pd.to_datetime(pd.Series(raw, dtype=object), format="%Y%m%d%H%M%S",
                       errors="coerce")
    )


def _arc_batch(cols: dict[str, list]) -> pa.RecordBatch:
    """The ARC finalizer: ARC column lists -> an ARC_RECORD_SCHEMA batch."""
    cols["arc_date"] = _arc_dates(cols["arc_date"])
    return _to_batch(cols, _ARC_ARROW)


def read_arc(spark: SparkSession, path: str) -> DataFrame:
    """Scan ARC file(s) (plain, member-per-record gzip or whole-file gzip)
    into a records table: one range per file, each taking its version
    from its file header."""
    return _scan_ranges(
        _list_files(spark, path), [], _arc_kernel, ARC_RECORD_SCHEMA, _arc_batch
    )


ARC_INDEX_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("offset", LongType()),       # byte offset (plain) / member offset (gzip)
        StructField("length", LongType()),       # record span / member size
        StructField("record_index", LongType()),  # per-file ordinal
        StructField("arc_version", IntegerType()),
        StructField("url", StringType()),
        StructField("member_record", LongType()),  # position in its member
    ]
)


def index_arc_records(spark: SparkSession, path: str) -> DataFrame:
    """Offset index for ARC files — the ARC mirror of
    ``index_warc_members`` (VERDICT r2 #8): one row per record
    ``(path, offset, length, record_index, arc_version, url,
    member_record)``, the geometry ``_arc_records`` gives. Plain files:
    ``offset`` is the byte position of the record's header line and
    ``length`` spans header line + payload. Gzipped files: ``(offset,
    length)`` address the record's gzip member in compressed space (a
    whole-file-gzip ARC indexes as one member covering all records).
    ``member_record`` is the record's position inside that member: 0 for
    plain and member-per-record files, 0..n-1 across a whole-file-gzip
    member. ``arc_version`` rides the index so a ranged read can parse a
    record without re-reading the file header."""
    cols = [f.name for f in ARC_INDEX_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                with _open_ranged(p) as fh:
                    data = fh.read()
                prev, j = None, 0
                recs = _arc_records(data, 0, None)
                for i, (off, length, ver, rec) in enumerate(recs):
                    j = j + 1 if off == prev else 0  # one member's records share off
                    prev = off
                    rows.append((p, off, length, i, ver, rec.fields.get("url"), j))
            yield pd.DataFrame(rows, columns=cols)

    return _list_files(spark, path).select("path").mapInPandas(gen, ARC_INDEX_SCHEMA)


def read_arc_records(spark: SparkSession, index: DataFrame) -> DataFrame:
    """Distributed RANDOM ACCESS over ARC files: fetch exactly the records
    named by an ``index_arc_records``-shaped table via ranged reads (the
    ARC mirror of ``read_warc_records``, through the same scan). Plain
    offsets slice one record; gzip offsets decompress one member, and of
    its records only those the index rows name (by ``member_record``) are
    returned, each with its row's ``record_index``. An index without
    ``member_record`` gets every record of each member it names, numbered
    from the smallest ``record_index`` of the member's rows. Extra index
    columns pass through; rows that share a whole-file-gzip member pass
    one row's values to all its records."""
    rec_names = {f.name for f in ARC_RECORD_SCHEMA.fields}
    keep = [
        c for c in index.columns
        if c not in ("path", "member_record") and c not in rec_names  # record cols win
    ]
    # A whole-file-gzip ARC indexes every record against the SAME member
    # (path, offset, length) — a range per index row would re-parse the
    # member once per record (NxN duplicate records; ADVICE r3). Group to
    # one range per distinct member that carries the positions asked for
    # (``picks``), so the kernel emits just those records under their own
    # per-file ordinals. Slim shuffle: index metadata only, never payload
    # bytes.
    has = set(index.columns)
    first = F.min("record_index") if "record_index" in has else F.lit(0)
    aggs = [first.cast("long").alias("first_index")]
    if {"member_record", "record_index"} <= has:
        aggs.append(F.collect_list(F.struct(
            F.col("member_record").cast("long").alias("member_record"),
            F.col("record_index").cast("long").alias("record_index"),
        )).alias("picks"))
    ranges = index.groupBy("path", "offset", "length", "arc_version").agg(
        *aggs, *[F.first(c).alias(c) for c in keep],
    ).withColumnRenamed("offset", "start")
    return _scan_ranges(ranges, keep, _arc_kernel, ARC_RECORD_SCHEMA, _arc_batch)


def write_arc(
    df: DataFrame,
    out_dir: str,
    version: int = 2,
    date=None,
    org: str = "Unknown",
    ip_address: str = "127.0.0.1",
    compress: bool = False,
) -> DataFrame:
    """Distributed ARC sink mirroring the reference's ``ARCFile.write``
    (arc.py:264-305) at multi-file scale: each task streams its partition's
    records into one ``part-*.arc[.gz]`` file, prefixed by the byte-exact
    ``filedesc://`` file-header record (v1/v2 length quirk included,
    kernels/arcrec.py). ``date`` must be injected (the reference's utcnow()
    made deterministic). Expects ARC_RECORD_SCHEMA-shaped columns (the
    ``read_arc`` output round-trips directly); ``length`` is recomputed
    from the payload. Returns the (filename, records, bytes) manifest."""
    import datetime as _dt
    import gzip

    from ..kernels.arcrec import (
        format_arc_date,
        make_filedesc_record,
        serialize_arc_record,
    )

    if date is None:
        raise ValueError("date must be injected (reference uses utcnow())")
    os.makedirs(out_dir, exist_ok=True)
    ext = ".arc.gz" if compress else ".arc"

    def start(raw, name: str):
        # one gzip member for the whole part (mtime pinned for reproducible
        # bytes); the readers see it as one member holding every record
        f = gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) if compress else raw
        fd_fields, fd_payload = make_filedesc_record(
            name, version, org=org, ip_address=ip_address, date=date,
        )
        f.write(
            (serialize_arc_record(fd_fields, fd_payload, version) + "\n")
            .encode("latin-1")
        )
        return f

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with _PartFile(out_dir, ext, start) as part:
            for pdf in batches:
                for row in pdf.itertuples():
                    payload = (
                        bytes(row.payload).decode("latin-1")
                        if row.payload is not None
                        else ""
                    )
                    ts = row.arc_date
                    fields = {
                        "url": row.url,
                        "ip_address": row.ip_address or "0.0.0.0",
                        "date": format_arc_date(
                            ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                        ) if ts is not None else format_arc_date(_dt.datetime(1970, 1, 1)),
                        "content_type": row.content_type or "application/octet-stream",
                        "length": str(len(payload)),
                        "result_code": getattr(row, "result_code", None) or "200",
                        "checksum": getattr(row, "checksum", None) or "-",
                        "location": getattr(row, "location", None) or "-",
                        "offset": getattr(row, "offset", None) or "0",
                        "filename": getattr(row, "arc_filename", None)
                        or os.path.basename(part.name),
                    }
                    part.write(
                        (serialize_arc_record(fields, payload, version) + "\n")
                        .encode("latin-1")
                    )
        yield part.manifest()

    cols = [c for c in (f.name for f in ARC_RECORD_SCHEMA.fields) if c in df.columns]
    return df.select(cols).mapInPandas(sink, MANIFEST_SCHEMA)
