"""Deterministic synthetic Common-Crawl-style pages table + the one
page-extraction kernel.

Shape is the BASELINE.json:15 input_hint exactly:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
where ``html`` is a *full serialized WARC response record* (version line +
headers + HTTP response payload + CRLF CRLF footer, per
/root/reference/warc/warc.py:90-104,159-164) so the parse kernel is exercised
end-to-end, and ``text`` is the reference-extracted text for that html — the
byte-identity oracle column: ``extract_text_kernel(html) == text`` must hold
for every row.

Everything is derived from (seed, row-index) through a splitmix64-style mixer
— vectorized numpy, no RNG state, so generation is order- and
partition-independent (the same row id yields the same page at any
parallelism; required for the two-parallelism scaling proof and for exact
crawl-oracle replay). Hosts are Zipf-skewed (log-uniform rank) so politeness
and skew-handling paths are genuinely exercised; pages embed deterministic
``<a href>`` links to other pages, giving the frontier a crawlable graph.

Every link/text extraction (frontier fetch, ``pages_from_records``, host
graph, ``warc_parse_agg``) runs ``extract_page_col``, keyed by framing
layer and extractor: JVM built-ins for the synthetic extractor, a pandas
UDF over ``extract_page`` for html. ``extract_page`` is also the synthetic
extractor's pure-Python oracle.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels import htmlext

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_LANGS = np.array(["en", "de", "fr", "es", "zh", "ru", "ja"])
_LANG_CDF = np.array([0.55, 0.67, 0.77, 0.85, 0.91, 0.96, 1.0])
_PHRASES = np.array(
    [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
        "sphinx of black quartz judge my vow",
        "crawling the open web requires politeness and patience",
        "distributed systems fail in correlated and amusing ways",
        "a bloom filter never forgets but sometimes imagines",
        "shuffle partitions should scale with the data not the cluster",
        "broadcast the small side and salt the hot keys",
        "columnar storage prunes what row stores must read",
        "adaptive execution replans when statistics disagree",
        "checkpoint early checkpoint often resume exactly",
        "robots dot txt is a promise not a firewall",
        "the frontier grows faster than any single queue",
        "deduplicate before you fetch not after you store",
        "latency hides in the tail of the slowest host",
    ]
)
_BASE_TS = np.datetime64("2026-08-01T00:00:00")
_MAX_LINKS = 8


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer — stateless per-index randomness (uint64
    wraparound is the point, so overflow warnings are suppressed)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(
            (salt * 0x9E3779B97F4A7C15) % (1 << 64)
        )
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray, salt: int) -> np.ndarray:
    return (_mix(x, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _hosts(ids: np.ndarray, n_hosts: int, seed: int, hot_frac: float = 0.0) -> np.ndarray:
    # log-uniform rank -> Zipf-ish skew: rank 0 is the hottest host.
    # hot_frac > 0 pins that fraction of pages onto host 0 on top of the
    # natural skew (the skew-stress knob: e.g. 0.3 = one host holds 30%
    # of the corpus/frontier — bench_skew.py's north_star evidence).
    u = _u01(ids, seed + 1)
    rank = np.minimum(
        (np.exp(u * np.log(n_hosts)) - 1.0).astype(np.int64), n_hosts - 1
    )
    if hot_frac:
        rank = np.where(_u01(ids, seed + 8) < hot_frac, 0, rank)
    return rank


def _host_names(rank: np.ndarray) -> pd.Series:
    return "host" + pd.Series(rank).astype(str) + ".example.org"


def _urls_for(
    ids: np.ndarray, n_hosts: int, seed: int, hot_frac: float = 0.0
) -> pd.Series:
    host = _host_names(_hosts(ids, n_hosts, seed, hot_frac))
    return "http://" + host + "/page/" + pd.Series(ids).astype(str)


def _texts_for(ids: np.ndarray, seed: int) -> pd.Series:
    """Deterministic text: 4 phrase slots + a per-doc marker sentence.

    ~5%% of pages are exact duplicates of a nearby 'canonical' page (same
    text, different url) so dedup operators have real work.
    """
    base = ids - (ids % 17)
    is_dup = _u01(ids, seed + 2) < 0.05
    eff = np.where(is_dup, base, ids)
    parts = []
    for k in range(4):
        idx = (_mix(eff, seed + 10 + k) % np.uint64(len(_PHRASES))).astype(np.int64)
        parts.append(pd.Series(_PHRASES[idx]))
    marker = "document " + pd.Series(eff).astype(str) + " of the synthetic crawl."
    return parts[0] + ". " + parts[1] + ". " + parts[2] + ". " + parts[3] + ". " + marker


def _langs_for(ids: np.ndarray, seed: int) -> pd.Series:
    u = _u01(ids, seed + 3)
    idx = np.searchsorted(_LANG_CDF, u, side="right")
    return pd.Series(_LANGS[np.minimum(idx, len(_LANGS) - 1)])


def _links_for(
    ids: np.ndarray, n: int, n_hosts: int, seed: int, hot_frac: float = 0.0
) -> pd.Series:
    """Per-page anchor list (html string); targets are other page ids."""
    n_links = 2 + (_mix(ids, seed + 4) % np.uint64(_MAX_LINKS - 1)).astype(np.int64)
    out = pd.Series([""] * len(ids))
    for k in range(_MAX_LINKS):
        tgt = (_mix(ids, seed + 20 + k) % np.uint64(n)).astype(np.int64)
        anchor = '<a href="' + _urls_for(tgt, n_hosts, seed, hot_frac) + '">l</a>'
        out = out.where(~(k < n_links), out + anchor)
    return out


def _pseudo_uuid(ids: np.ndarray, seed: int) -> pd.Series:
    a = pd.Series(_mix(ids, seed + 5)).apply(lambda v: format(v, "016x"))
    b = pd.Series(_mix(ids, seed + 6)).apply(lambda v: format(v, "016x"))
    return (
        a.str[:8] + "-" + a.str[8:12] + "-" + a.str[12:16]
        + "-" + b.str[:4] + "-" + b.str[4:16]
    )


def gen_pages_pdf(
    ids: np.ndarray, n: int, n_hosts: int, seed: int, hot_frac: float = 0.0
) -> pd.DataFrame:
    """The generation kernel: page rows for the given ids (vectorized)."""
    ids = ids.astype(np.uint64)
    url = _urls_for(ids, n_hosts, seed, hot_frac)
    text = _texts_for(ids, seed)
    lang = _langs_for(ids, seed)
    links = _links_for(ids, n, n_hosts, seed, hot_frac)
    secs = (_mix(ids, seed + 7) % np.uint64(86400)).astype("timedelta64[s]")
    warc_ts = pd.Series((_BASE_TS + secs).astype("datetime64[ns]"))
    date_str = warc_ts.dt.strftime("%Y-%m-%dT%H:%M:%SZ")

    body = (
        "<html><head><title>page</title></head><body><p>" + text + "</p><ul>"
        + links + "</ul></body></html>"
    )
    http = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "
        + body.str.len().astype(str) + "\r\n\r\n" + body
    )
    record = (
        "WARC/1.0\r\n"
        + "WARC-Type: response\r\n"
        + "WARC-Record-ID: <urn:uuid:" + _pseudo_uuid(ids, seed) + ">\r\n"
        + "WARC-Date: " + date_str + "\r\n"
        + "WARC-Target-URI: " + url + "\r\n"
        + "Content-Type: application/http; msgtype=response\r\n"
        + "Content-Length: " + http.str.len().astype(str) + "\r\n"
        + "\r\n" + http + "\r\n\r\n"
    )
    html = record.map(lambda s: s.encode("latin-1"))
    return pd.DataFrame(
        {"url": url, "warc_ts": warc_ts, "html": html, "text": text, "lang": lang}
    )


def synth_pages(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    n_hosts: int | None = None,
    partitions: int | None = None,
    hot_frac: float = 0.0,
) -> DataFrame:
    """Distributed deterministic pages table (map-only over spark.range).
    ``hot_frac`` pins that fraction of pages (and link targets) onto one
    host — the host-skew stress corpus."""
    n_hosts = n_hosts or max(8, n // 200)
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield gen_pages_pdf(pdf["id"].to_numpy(), n, n_hosts, seed, hot_frac)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, PAGES_SCHEMA)


# ---- the page-extraction kernel (vectorized; the byte-identity invariant) -

_TEXT_RE = r"<p>(.*?)</p>"
_HREF_RE = r'href="([^"]+)"'
# \r\n\r\n-terminated header blocks before the body: WARC + HTTP headers
# in a record, HTTP headers in a payload, none in an (already split) body
_HEADER_BLOCKS = {"record": 2, "payload": 1, "body": 0}
_FIELD_TYPES = {"links": "array<string>", "text": "string"}


def _check(framing: str, extractor: str) -> None:
    if framing not in _HEADER_BLOCKS or extractor not in ("synthetic", "html"):
        raise ValueError(f"unknown framing/extractor {framing!r}/{extractor!r}")


def _nullsafe(s: pd.Series) -> pd.Series:
    """Missing (NaN from object .str ops, pd.NA from string dtype) -> None,
    object dtype. pd.NA in particular breaks Spark's Arrow conversion for
    array<string> output columns ('NAType' object is not iterable), so every
    kernel result that crosses back to Spark goes through this."""
    return s.astype(object).where(s.notna(), None)


def page_bodies(
    col: pd.Series, framing: str, extractor: str = "html", content_type=None
):
    """The shared framing step: latin-1 mirror decode (bijective, no byte
    lost), then the text after the framing's header blocks; null input, or
    input with fewer blocks than its framing promises (truncated/non-HTTP
    captures), is missing (ADVICE r3, high). The synthetic extractor reads
    that string Series as is; for ``"html"`` each body is charset-fixed by
    ``redecode_html`` (declared ``content_type`` when given, else any
    ``<meta charset>``) into a list with None for missing rows."""
    s = col.map(
        lambda b: bytes(b).decode("latin-1") if b is not None else None
    ).astype("string")
    n = _HEADER_BLOCKS[framing]
    body = s.str.split("\r\n\r\n", n=n).str[n] if n else s
    if extractor == "synthetic":
        return body
    cts = content_type if content_type is not None else repeat(None)
    return [
        htmlext.redecode_html(b, ct if isinstance(ct, str) else None)
        if isinstance(b, str) else None
        for b, ct in zip(body, cts)
    ]


def extract_page(
    col: pd.Series, framing: str = "record", extractor: str = "synthetic",
    fields: tuple[str, ...] = ("links", "text"), url=None, content_type=None,
) -> pd.DataFrame:
    """Binary column -> the requested ``links`` (array<string>) and/or
    ``text`` (string) columns; null/unframed rows yield nulls.

    ``framing``: ``"record"`` (full WARC response records), ``"payload"``
    (HTTP responses, ``read_warc``'s payload) or ``"body"`` (HTTP bodies).
    ``extractor``: ``"synthetic"`` reads the generated corpus's shape
    (first ``<p>..</p>``, flat ``href="..."``) off the raw latin-1 mirror —
    the byte-identity oracle; ``"html"`` runs kernels/htmlext on the
    charset-fixed body, resolving hrefs against ``url``. Only requested
    fields are computed: a links-only call never runs ``html_to_text``,
    the expensive half."""
    _check(framing, extractor)
    body = page_bodies(col, framing, extractor, content_type)
    out = {}
    if extractor == "synthetic":
        if "links" in fields:
            out["links"] = _nullsafe(body.str.findall(_HREF_RE))
        if "text" in fields:
            out["text"] = _nullsafe(body.str.extract(_TEXT_RE, expand=False))
    else:
        if "links" in fields:
            out["links"] = [
                htmlext.extract_links(b, u) if b is not None else None
                for b, u in zip(body, url if url is not None else repeat(None))
            ]
        if "text" in fields:
            out["text"] = [htmlext.html_to_text(b) for b in body]
    return pd.DataFrame(out, index=col.index)[list(fields)]


def extract_text_kernel(html: pd.Series) -> pd.Series:
    """WARC record bytes -> text; equals the generated ``text`` column."""
    return extract_page(html, "record", "synthetic", ("text",))["text"]


def extract_links_kernel(html: pd.Series) -> pd.Series:
    """WARC record bytes -> list<string> of out-link urls."""
    return extract_page(html, "record", "synthetic", ("links",))["links"]


@functools.cache
def extract_page_udf(
    framing: str, fields: tuple[str, ...] = ("links", "text"),
    url: bool = False, content_type: bool = False,
):
    """The html extractor as a pandas UDF over ``(col[, url][, content_type])``,
    built and validated once per signature on the driver. Several fields
    come back as one struct, so the binary column crosses the Arrow
    boundary once however many fields are derived from it. Callers go
    through ``extract_page_col``."""
    from pyspark.sql import functions as F

    _check(framing, "html")
    inputs = [k for k, on in (("url", url), ("content_type", content_type)) if on]

    def kernel(col, *extra):
        kw = dict(zip(inputs, extra))
        out = extract_page(col, framing, "html", fields, **kw)
        return out if len(fields) > 1 else out[fields[0]]

    types = [f"{f} {_FIELD_TYPES[f]}" for f in fields]
    dtype = ", ".join(types) if len(fields) > 1 else _FIELD_TYPES[fields[0]]
    return F.pandas_udf(kernel, dtype)


def extract_page_col(
    col, framing: str = "record", extractor: str = "synthetic",
    fields: tuple[str, ...] = ("links", "text"), url=None, content_type=None,
):
    """``extract_page`` as a Column over the binary column ``col`` (a
    Column or a name): a struct of the requested fields, or the one field
    when a single one is asked for. ``url``/``content_type`` are Columns
    (the html extractor's inputs; the synthetic one ignores them).

    ``"synthetic"`` is plain JVM built-ins, row for row equal to
    ``extract_page`` (tests/test_extract_kernel.py) with no Python worker
    and no Arrow crossing: the latin-1 mirror via ``decode``, the framing
    as a bounded ``split`` whose missing element (unframed input) is null,
    then the two regexes. ``(?d)`` makes Java's ``.`` stop at ``\\n``
    only, like Python's; without it ``\\r`` and ``\\x85`` (the other
    Java line terminators a latin-1 string can hold) would end a ``<p>``
    match early. ``get(..., 0)`` keeps "no ``<p>``" (null) apart from
    ``<p></p>`` (empty string). ``"html"`` runs the pandas UDF."""
    from pyspark.sql import functions as F

    _check(framing, extractor)
    if extractor == "html":
        udf = extract_page_udf(
            framing, tuple(fields), url is not None, content_type is not None
        )
        return udf(col, *[c for c in (url, content_type) if c is not None])
    s = F.decode(col, "ISO-8859-1")
    n = _HEADER_BLOCKS[framing]
    body = F.get(F.split(s, "\r\n\r\n", n + 1), n) if n else s
    out = {
        "links": F.regexp_extract_all(body, F.lit(_HREF_RE), 1),
        "text": F.get(F.regexp_extract_all(body, F.lit("(?d)" + _TEXT_RE), 1), 0),
    }
    if len(fields) == 1:
        return out[fields[0]]
    return F.struct(*[out[f].alias(f) for f in fields])


def synth_seeds(
    spark: SparkSession, n_pages: int, n_seeds: int = 20, seed: int = 42,
    n_hosts: int | None = None, hot_frac: float = 0.0,
) -> DataFrame:
    """Distributed deterministic seed list (same rows the oracle simulator
    uses). Generated executor-side over ``spark.range`` — a driver-local
    relation would be re-shipped to every task on every recompute, which at
    a 10^10-URL frontier is exactly the wrong shape (real seed lists are a
    table, not driver memory)."""
    n_hosts_v = n_hosts or max(8, n_pages // 200)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                i = pdf["id"].to_numpy().astype(np.uint64)
                ids = i * np.uint64(7) % np.uint64(n_pages)
                yield pd.DataFrame(
                    {
                        "url": _urls_for(ids, n_hosts_v, seed, hot_frac),
                        "priority": 1.0 - (i.astype(np.int64) % 499) * 1e-3,
                    }
                )

    parts = max(1, min(spark.sparkContext.defaultParallelism, n_seeds // 500 + 1))
    df = spark.range(0, n_seeds, 1, parts).mapInPandas(
        gen, "url string, priority double"
    )
    # duplicate urls MAX-merge their priorities (the priority formula is
    # non-monotone in seed index, so this is not keep-first) — the same
    # max-merge the oracle simulator applies to its seed list
    from pyspark.sql import functions as F

    return df.groupBy("url").agg(F.max("priority").alias("priority"))


def pages_from_records(
    records: DataFrame,
    extractor: str = "synthetic",
    require_status: int | None = None,
) -> DataFrame:
    """WARC records table (``read_warc`` output, split or not) ->
    the input_hint pages table (url, warc_ts, html, text, lang): response
    records re-serialized to their wire bytes (byte-identical — round-trip
    law in tests/test_kernels_warc.py), text extracted from the payload,
    lang identified heuristically. This is the ingest bridge: real WARC
    files in, the frontier's corpus out — one map-only Arrow pass, no
    shuffle.

    ``extractor``: ``"synthetic"`` keeps the corpus-shape kernel (the
    byte-identity oracle for generated corpora); ``"html"`` uses the
    REAL-HTML kernel (kernels/htmlext — tag stripping, entity decode,
    whitespace normalization) — what a real Common-Crawl segment needs.
    Any other name raises ValueError.

    ``require_status``: when set (typically 200), the payload is split into
    HTTP status/headers/body first (sources.warc_source.split_http_payload)
    and only responses with that status survive — the standard first filter
    of a real crawl corpus. Text then extracts straight from the HTTP body
    (no second framing split); the ``html`` column stays the byte-exact
    wire record either way."""
    from pyspark.sql import functions as F

    from ..functions.text import lang_id_udf
    from ..kernels.warcrec import serialize_warc_record

    def reserialize(names: pd.Series, hmaps: pd.Series, payloads: pd.Series) -> pd.Series:
        out = []
        for ns, hm, pl in zip(names, hmaps, payloads):
            headers = [(n, hm[n.lower()]) for n in ns]
            out.append(serialize_warc_record(headers, bytes(pl or b"")))
        return pd.Series(out)

    reser_udf = F.pandas_udf(reserialize, BinaryType())
    resp = records.filter(
        (F.col("warc_type") == "response") & F.col("target_uri").isNotNull()
    )
    if require_status is not None:
        from .warc_source import split_http_payload

        resp = split_http_payload(resp).filter(
            F.col("http_status") == int(require_status)
        )
        # raw Content-Type header (charset param intact) feeds the html
        # extractor's declared-charset redecode (VERDICT r3 #6)
        text_col = extract_page_col(
            F.col("http_body"), "body", extractor, ("text",),
            content_type=F.col("http_headers").getItem("content-type"),
        )
    else:
        text_col = extract_page_col(F.col("payload"), "payload", extractor, ("text",))
    # text first, then lang over the column: the extraction runs once,
    # not again as the lang UDF's input
    return resp.select(
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("warc_ts"),
        reser_udf("header_names", "headers", "payload").alias("html"),
        text_col.alias("text"),
    ).withColumn("lang", lang_id_udf("text"))


SITEMAP_SCHEMA = "url string, priority double"


def _xml_unescape(col):
    """The five predefined XML entities, as chained literal replaces
    (codegen'd JVM string ops). ``&amp;`` LAST, per XML decode order."""
    from pyspark.sql import functions as F

    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def _gunzip_text_kernel(col: pd.Series) -> pd.Series:
    """binary -> text: whole-blob gunzip when gzip-magic'd (sitemaps ship
    as .xml.gz), then utf-8 with a latin-1 fallback. Truncated/corrupt
    gzip falls back to the raw bytes (lax, like the record scanners)."""
    import gzip
    import zlib

    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        b = bytes(b)
        if b[:2] == b"\x1f\x8b":
            try:
                b = gzip.decompress(b)
            # zlib.error is NOT an OSError: a valid gzip header with a
            # corrupt deflate body raises it and would kill the task
            except (OSError, EOFError, zlib.error):
                pass
        try:
            out.append(b.decode("utf-8"))
        except UnicodeDecodeError:
            out.append(b.decode("latin-1"))
    return pd.Series(out, dtype=object)


def parse_sitemap_entries(
    bodies: DataFrame,
    body_col: str = "body",
    keep: tuple[str, ...] = (),
    binary: bool = False,
) -> DataFrame:
    """Sitemap XML -> one row per entry, entirely JVM-side (regexp
    built-ins inside whole-stage codegen — no Python in this hot path;
    the sitemap XML subset needs no real XML parser). Emits::

        *keep, loc, lastmod, changefreq, priority, is_index

    ``is_index`` rows are ``<sitemap><loc>`` children of a sitemapindex
    file (fetch + re-parse to expand — a driver loop over index levels,
    each level one distributed map-only pass); urlset rows carry the
    optional per-url ``lastmod``/``changefreq``/``priority`` hints (null
    when absent). ``loc`` values are XML-entity-unescaped. Map-only:
    explode + per-block regexp extraction, no exchange. ``binary=True``
    accepts a binary column and first gunzips gzip-magic'd blobs
    (``sitemap.xml.gz`` — the standard wire format) in one Arrow pass;
    plain-text sitemaps keep the all-JVM path."""
    from pyspark.sql import functions as F

    if binary:
        bodies = bodies.withColumn(
            body_col,
            F.pandas_udf(_gunzip_text_kernel, StringType())(F.col(body_col)),
        )
    block = F.explode(
        F.regexp_extract_all(
            F.col(body_col), F.lit(r"(?s)<(url|sitemap)\b.*?</\1\s*>"), 0
        )
    ).alias("_block")
    df = bodies.select(*keep, block)

    def tag(name, grab=r"(.*?)"):
        pat = r"(?s)<%s\s*>\s*%s\s*</%s\s*>" % (name, grab, name)
        return F.nullif(F.regexp_extract("_block", pat, 1), F.lit(""))

    return (
        df.select(
            *keep,
            _xml_unescape(tag("loc")).alias("loc"),
            tag("lastmod").alias("lastmod"),
            tag("changefreq").alias("changefreq"),
            tag("priority", r"([0-9.eE+\-]+)").cast("double").alias("priority"),
            F.col("_block").startswith("<sitemap").alias("is_index"),
        )
        .where(F.col("loc").isNotNull())
    )


def seeds_from_sitemaps(bodies: DataFrame, default_priority: float = 0.5) -> DataFrame:
    """Sitemap XML bodies -> a (url, priority) seeds table (the standard
    seed source of a production crawl). Urlset entries get their
    ``<priority>`` hint (missing -> ``default_priority``); sitemap-index
    rows are emitted with priority NULL so the caller can fetch and
    expand them. Duplicate urls max-merge like synth_seeds. Built on
    ``parse_sitemap_entries`` — map-only JVM extraction, then ONE slim
    (url, priority) exchange for the merge."""
    from pyspark.sql import functions as F

    entries = parse_sitemap_entries(bodies)
    return (
        entries.select(
            F.col("loc").alias("url"),
            F.when(
                F.col("is_index"), F.lit(None).cast("double")
            )
            .otherwise(F.coalesce("priority", F.lit(default_priority)))
            .alias("priority"),
        )
        .groupBy("url")
        .agg(F.max("priority").alias("priority"))
    )
