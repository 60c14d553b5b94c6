"""Vectorized ARC v1/v2 ingest (mirror of warc_source for the ARC format;
reference read path /root/reference/warc/arc.py:307-382)."""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels.arcrec import parse_arc_file
from ..kernels.gzipmember import GZIP_MAGIC, iter_gzip_members
from .warc_source import _list_files, _open_ranged, in_progress_path

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


def _arc_row(rec, name: str, index: int, version: int) -> dict:
    """One parsed ARC record -> an ARC_RECORD_SCHEMA row (every reader
    builds its rows here)."""
    f = rec.fields
    return {
        "filename": name,
        "record_index": index,
        "arc_version": version,
        "url": f.get("url"),
        "ip_address": f.get("ip_address"),
        "arc_date": pd.to_datetime(
            f.get("date"), format="%Y%m%d%H%M%S", errors="coerce"
        ),
        "content_type": f.get("content_type"),
        "result_code": f.get("result_code") or None,
        "checksum": f.get("checksum") or None,
        "location": f.get("location") or None,
        "offset": f.get("offset") or None,
        "arc_filename": f.get("filename") or None,
        "length": int(f["length"]) if f.get("length") else 0,
        "payload": rec.payload.encode("latin-1"),
    }


def _records_of_arc(name: str, data: bytes) -> list[dict]:
    if data[:2] == GZIP_MAGIC:
        text = b"".join(p for _, _, p in iter_gzip_members(data)).decode("latin-1")
    else:
        text = data.decode("latin-1")
    it = parse_arc_file(text)
    version = next(it)
    return [_arc_row(rec, name, idx, version) for idx, rec in enumerate(it)]


def _read_file(p: str) -> bytes:
    with _open_ranged(p) as fh:
        return fh.read()


def read_arc(spark: SparkSession, path: str) -> DataFrame:
    """Scan ARC file(s) (plain, member-per-record gzip or whole-file gzip)
    into a records table, one task reading whole files."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rows.extend(_records_of_arc(os.path.basename(p), _read_file(p)))
            yield pd.DataFrame(rows, columns=[f.name for f in ARC_RECORD_SCHEMA.fields])

    return _list_files(spark, path).select("path").mapInPandas(gen, ARC_RECORD_SCHEMA)


ARC_INDEX_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("offset", LongType()),       # byte offset (plain) / member offset (gzip)
        StructField("length", LongType()),       # record span / member size
        StructField("record_index", LongType()),  # per-file ordinal
        StructField("arc_version", IntegerType()),
        StructField("url", StringType()),
    ]
)


def index_arc_records(spark: SparkSession, path: str) -> DataFrame:
    """Offset index for ARC files — the ARC mirror of
    ``index_warc_members`` (VERDICT r2 #8): one row per record
    ``(path, offset, length, record_index, arc_version, url)``.

    Plain files: ``offset`` is the byte position of the record's header
    line and ``length`` spans header line + payload — the reference's v2
    ``offset`` header-field semantics (/root/reference/warc/arc.py:126-127)
    realized as actual file geometry. Gzipped files: ``(offset, length)``
    address the record's gzip member in compressed space (the IA
    member-per-record convention; a whole-file-gzip ARC indexes as one
    member covering all records). ``arc_version`` rides the index so a
    ranged read can parse a record without re-reading the file header."""
    from ..kernels.arcrec import parse_arc_file_indexed, parse_arc_records_indexed

    cols = [f.name for f in ARC_INDEX_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                data = _read_file(p)
                if data[:2] == GZIP_MAGIC:
                    members = list(iter_gzip_members(data))
                    # version from the file header (first member's start)
                    head = members[0][2].decode("latin-1")
                    it = parse_arc_file_indexed(head)
                    version = next(it)
                    first_recs = list(it)
                    idx = 0
                    for mi, (off, size, payload) in enumerate(members):
                        if mi == 0:
                            recs = first_recs
                        else:
                            recs = list(
                                parse_arc_records_indexed(
                                    payload.decode("latin-1"), version
                                )
                            )
                        for _, _, rec in recs:
                            rows.append(
                                {
                                    "path": p, "offset": off, "length": size,
                                    "record_index": idx, "arc_version": version,
                                    "url": rec.fields.get("url"),
                                }
                            )
                            idx += 1
                else:
                    it = parse_arc_file_indexed(data.decode("latin-1"))
                    version = next(it)
                    for idx, (off, size, rec) in enumerate(it):
                        rows.append(
                            {
                                "path": p, "offset": off, "length": size,
                                "record_index": idx, "arc_version": version,
                                "url": rec.fields.get("url"),
                            }
                        )
            yield pd.DataFrame(rows, columns=cols)

    return _list_files(spark, path).select("path").mapInPandas(gen, ARC_INDEX_SCHEMA)


def read_arc_records(spark: SparkSession, index: DataFrame) -> DataFrame:
    """Distributed RANDOM ACCESS over ARC files: fetch exactly the records
    named by an ``index_arc_records``-shaped table via ranged reads (the
    ARC mirror of ``read_warc_records``; remote schemes supported through
    the same ``pyarrow.fs`` opener). Plain offsets slice one record;
    gzip offsets decompress one member (all its records are returned).
    Extra index columns pass through."""
    from pyspark.sql import functions as F

    from ..kernels.arcrec import parse_arc_records_indexed

    rec_names = {f.name for f in ARC_RECORD_SCHEMA.fields}
    keep = [
        c for c in index.columns
        if c not in ("path",) and c not in rec_names  # record cols win
    ]
    out_schema = StructType(
        [index.schema[c] for c in keep] + list(ARC_RECORD_SCHEMA.fields)
    )
    rec_cols = [f.name for f in ARC_RECORD_SCHEMA.fields]

    # A whole-file-gzip ARC indexes every record against the SAME member
    # (path, offset, length) — fetching per index row would re-parse the
    # member once per record (NxN duplicate records; ADVICE r3). Group to
    # one fetch per distinct member and remember the member's base ordinal
    # so the emitted record_index stays the per-file ordinal the index
    # carries. Slim shuffle: index metadata only, never payload bytes.
    base_expr = (
        F.min("record_index") if "record_index" in index.columns else F.lit(0)
    )
    index = index.groupBy("path", "offset", "length", "arc_version").agg(
        base_expr.alias("rec_base__"),
        *[F.first(c).alias(c) for c in keep],
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, keeps = [], []
            handles: dict[str, object] = {}
            try:
                for row in pdf.itertuples(index=False):
                    p = row.path
                    fh = handles.get(p)
                    if fh is None:
                        fh = handles[p] = _open_ranged(p)
                    fh.seek(int(row.offset))
                    raw = fh.read(int(row.length))
                    if raw[:2] == GZIP_MAGIC:
                        text = next(iter_gzip_members(raw))[2].decode("latin-1")
                        if text.startswith("filedesc://"):
                            # whole-file member: skip the 3-line file header
                            # + separator before the records
                            pos = 0
                            for _ in range(4):
                                pos = text.find("\n", pos) + 1
                            text = text[pos:]
                    else:
                        text = raw.decode("latin-1")
                    version = int(row.arc_version)
                    name = os.path.basename(p)
                    for ri, (_, _, rec) in enumerate(
                        parse_arc_records_indexed(text, version)
                    ):
                        rows.append(
                            _arc_row(rec, name, int(row.rec_base__) + ri, version)
                        )
                        keeps.append({c: getattr(row, c) for c in keep})
            finally:
                for fh in handles.values():
                    fh.close()
            rec_df = pd.DataFrame(rows, columns=rec_cols)
            keep_df = pd.DataFrame(keeps, columns=keep)
            yield pd.concat(
                [keep_df.reset_index(drop=True), rec_df.reset_index(drop=True)],
                axis=1,
            )

    return index.mapInPandas(gen, out_schema)


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
    import gzip
    import uuid

    import datetime as _dt

    from ..kernels.arcrec import (
        format_arc_date,
        make_filedesc_record,
        serialize_arc_record,
    )

    if date is None:
        raise ValueError("date must be injected (reference uses utcnow())")
    os.makedirs(out_dir, exist_ok=True)
    ext = ".arc.gz" if compress else ".arc"
    manifest_schema = "filename string, records bigint, bytes bigint"

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = None
        n = 0
        fname = os.path.join(out_dir, "part-%s%s" % (uuid.uuid4().hex[:12], ext))
        tmp = in_progress_path(fname)

        def _open():
            raw = open(tmp, "wb")
            if compress:
                # one gzip member for the whole part (mtime pinned for
                # reproducible bytes); read_arc joins members before parsing
                return gzip.GzipFile(fileobj=raw, mode="wb", mtime=0), raw
            return raw, raw

        try:
            for pdf in batches:
                for row in pdf.itertuples():
                    if f is None:
                        f, raw = _open()
                        fd_fields, fd_payload = make_filedesc_record(
                            os.path.basename(fname), version,
                            org=org, ip_address=ip_address, date=date,
                        )
                        f.write(
                            (serialize_arc_record(fd_fields, fd_payload, version) + "\n")
                            .encode("latin-1")
                        )
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
                        or os.path.basename(fname),
                    }
                    f.write(
                        (serialize_arc_record(fields, payload, version) + "\n")
                        .encode("latin-1")
                    )
                    n += 1
            if f is None:
                yield pd.DataFrame(columns=["filename", "records", "bytes"])
                return
            if raw is not f:
                f.close()  # flush the gzip trailer into raw
                nbytes = raw.tell()
                raw.close()
            else:
                nbytes = f.tell()
                f.close()
            f = None
            os.replace(tmp, fname)
        finally:
            if f is not None:  # error path: drop the partial tmp file
                try:
                    f.close()
                    if raw is not f:
                        raw.close()
                finally:
                    if os.path.exists(tmp):
                        os.unlink(tmp)
        yield pd.DataFrame([{"filename": fname, "records": n, "bytes": nbytes}])

    cols = [c for c in (f.name for f in ARC_RECORD_SCHEMA.fields) if c in df.columns]
    return df.select(cols).mapInPandas(sink, manifest_schema)
