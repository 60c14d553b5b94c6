"""Format dispatch, mirroring warc.open/detect_format
(/root/reference/warc/__init__.py:13-38): substring match, so ``.warc.gz``
and ``.arc.gz`` resolve correctly; unknown formats raise IOError."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def detect_format(filename: str) -> str:
    if ".arc" in filename:
        return "arc"
    if ".warc" in filename:
        return "warc"
    return "unknown"


def open_archive(
    spark: SparkSession, path: str, format: str | None = None, **kw
) -> DataFrame:
    """Records DataFrame for a WARC or ARC path (format auto-detected from
    the filename, like the reference's ``warc.open``). ``kw`` goes to the
    reader: e.g. ``split_bytes`` scans WARCs with intra-file parallelism
    (``read_warc``)."""
    from .arc_source import read_arc
    from .warc_source import read_warc

    if format in (None, "auto"):
        format = detect_format(path)
    if format == "warc":
        return read_warc(spark, path, **kw)
    if format == "arc":
        return read_arc(spark, path, **kw)
    raise IOError("Don't know how to open '%s' files" % format)
