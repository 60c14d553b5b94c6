"""Digest-based revisit deduplication for WARC archives: later captures
of an identical payload are rewritten as slim ``revisit`` records that
reference the first capture (the storage dedup real crawlers apply at
write time — WARC 1.0 §6.7.2 identical-payload-digest profile).

The reference library has no such operator (it serializes whatever
records it is handed — /root/reference/warc/warc.py:265-272); this is
engine-level crawl semantics over the same record model.

Plan shape for 100 TB
---------------------
Two exchanges, neither skewed by hot content:

1. A SLIM projection (record_id, digest, date, uri — never the payload)
   shuffles by digest for the first-capture window. Hot digests (error
   pages, empty bodies) skew only these ~100-byte rows.
2. The verdict (one row per DUPLICATE only) joins back to the full
   records on ``record_id`` — a unique key, so AQE never sees skew; the
   payload crosses exactly this one exchange. At steady state the
   verdict side is small (dup rate × corpus) and broadcasts.

The rewrite itself is pure built-ins (map_filter/map_concat/filter on
the header map + array) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

REVISIT_PROFILE = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"

# headers the rewrite owns (lowercase); retained ones keep their order
_REWRITTEN = (
    "warc-type",
    "content-length",
    "warc-profile",
    "warc-refers-to",
    "warc-refers-to-target-uri",
    "warc-refers-to-date",
    "warc-payload-digest",
)


def _iso(col):
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def revisit_dedup(records: DataFrame) -> DataFrame:
    """Rewrite every non-first ``response`` capture of each payload digest
    as a ``revisit`` record (empty payload, ``WARC-Refers-To`` the first
    capture's id/uri/date, identical-payload-digest profile). First
    captures and non-response records pass through untouched.

    "First" = min ``(warc_date, record_id)`` per digest — total order,
    deterministic at any parallelism. Digest = ``payload_digest`` when
    the record carries one, else ``sha1:`` + hex over the whole payload
    (the reference's digest convention, warc/warc.py:156-157).

    Adds a boolean ``is_revisit`` column; every other column keeps the
    ``WARC_RECORD_SCHEMA`` shape, so the result feeds ``write_warc``
    directly."""
    digest = F.coalesce(
        F.col("payload_digest"),
        F.concat(F.lit("sha1:"), F.sha1(F.col("payload"))),
    )
    resp = records.where(
        (F.col("warc_type") == "response") & F.col("payload").isNotNull()
    )
    slim = resp.select(
        "record_id",
        digest.alias("_dg"),
        "warc_date",
        "target_uri",
    )
    w = Window.partitionBy("_dg").orderBy("warc_date", "record_id")
    ranked = slim.withColumn("_rn", F.row_number().over(w))
    firsts = ranked.where(F.col("_rn") == 1).select(
        F.col("_dg"),
        F.col("record_id").alias("_refers_to"),
        F.col("warc_date").alias("_refers_date"),
        F.col("target_uri").alias("_refers_uri"),
    )
    verdict = (
        ranked.where(F.col("_rn") > 1)
        .join(firsts, "_dg")
        .select(
            "record_id",
            "_refers_to",
            "_refers_date",
            "_refers_uri",
            F.col("_dg").alias("_digest"),
        )
    )

    out = records.join(verdict, "record_id", "left")
    dup = F.col("_refers_to").isNotNull()

    new_pairs = [
        ("WARC-Type", F.lit("revisit")),
        ("WARC-Profile", F.lit(REVISIT_PROFILE)),
        ("WARC-Refers-To", F.col("_refers_to")),
        ("WARC-Refers-To-Target-URI", F.col("_refers_uri")),
        ("WARC-Refers-To-Date", _iso(F.col("_refers_date"))),
        ("WARC-Payload-Digest", F.col("_digest")),
        ("Content-Length", F.lit("0")),
    ]
    kept_map = F.map_filter(
        F.col("headers"), lambda k, v: ~k.isin(*_REWRITTEN)
    )
    new_map = F.map_from_arrays(
        F.array(*[F.lit(n.lower()) for n, _ in new_pairs]),
        F.array(*[v for _, v in new_pairs]),
    )
    kept_names = F.filter(
        F.col("header_names"), lambda n: ~F.lower(n).isin(*_REWRITTEN)
    )
    new_names = F.array(*[F.lit(n) for n, _ in new_pairs])

    rewritten = (
        out.withColumn(
            "headers",
            F.when(dup, F.map_concat(kept_map, new_map)).otherwise(
                F.col("headers")
            ),
        )
        .withColumn(
            "header_names",
            F.when(dup, F.concat(kept_names, new_names)).otherwise(
                F.col("header_names")
            ),
        )
        .withColumn(
            "warc_type", F.when(dup, F.lit("revisit")).otherwise(F.col("warc_type"))
        )
        .withColumn(
            "payload",
            F.when(dup, F.lit(b"")).otherwise(F.col("payload")),
        )
        .withColumn(
            "content_length", F.when(dup, F.lit(0)).otherwise(F.col("content_length"))
        )
        .withColumn(
            "payload_digest",
            F.when(dup, F.col("_digest")).otherwise(F.col("payload_digest")),
        )
        .withColumn("is_revisit", dup)
    )
    return rewritten.drop("_refers_to", "_refers_date", "_refers_uri", "_digest")
