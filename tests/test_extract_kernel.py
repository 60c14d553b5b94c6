"""Table-driven parity for the page-extraction kernel: every framing layer
(record, payload, body) x extractor (synthetic, html) over six edge
records. The expected values are literals, so any change to the
extracted text or links of a url shows up here, row for row."""

import pandas as pd
import pytest

URL = "http://h.example.org/d/page.html"
CT_1251 = "text/html; charset=windows-1251"

# raw bodies (None = fetch miss); ct_1251 declares its charset only through
# the Content-Type header, which reaches the kernel at the body layer
_BODIES = {
    "null": None,
    # a truncated/non-HTTP capture: nulls at the record and payload layers,
    # never a failed task (pandas yields float NaN for the missing split)
    "unframed": b"no-framing-here",
    "extra_crlf": (
        b'<html><body><p>one</p>\r\n\r\n<p>two</p><a href="rel/x.html">l</a>'
        b'<a href="#f">s</a><a href="q?a=1&amp;b=2">m</a></body></html>'
    ),
    "utf8": '<html><body><p>Zoë &amp; 中文</p><a href="/ü">l</a></body></html>'.encode(),
    "meta_1251": (
        '<html><head><meta charset=windows-1251><title>Тест</title></head>'
        '<body><p>Первый абзац</p><a href="../up">l</a></body></html>'
    ).encode("windows-1251"),
    "ct_1251": "<html><body><p>Зимняя страница</p></body></html>".encode(
        "windows-1251"
    ),
}
EDGES = tuple(_BODIES)
_CTS = [CT_1251 if e == "ct_1251" else None for e in EDGES]


def _framed(body, framing):
    """Wrap a body in the header blocks its framing layer carries; the
    null and unframed edges reach every layer as they are."""
    if body is None or body == _BODIES["unframed"] or framing == "body":
        return body
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    if framing == "payload":
        return payload
    return b"WARC/1.0\r\nWARC-Type: response\r\n\r\n" + payload + b"\r\n\r\n"


def _column(framing):
    return pd.Series(
        [None if b is None else bytearray(_framed(b, framing)) for b in _BODIES.values()]
    )


def _extract(col, framing, extractor, fields, url=None, content_type=None):
    """The kernel under test. On a tree that predates ``extract_page`` the
    same contract is assembled from the per-layer kernels it replaced, so
    this table also runs, unchanged, against them."""
    from warc_spark.sources import pages

    if hasattr(pages, "extract_page"):
        return pages.extract_page(col, framing, extractor, fields, url, content_type)
    if framing == "record":
        if extractor == "synthetic":
            return pages.extract_page_kernel(col)[list(fields)]
        if fields == ("links",):
            from warc_spark.functions.graph import _links_only_html_kernel

            return pd.DataFrame({"links": _links_only_html_kernel(col, url)})
        return pages.extract_page_html_kernel(col, url)[list(fields)]
    name = "extract_text_%sfrom_%s_kernel" % (
        "html_" if extractor == "html" else "", framing
    )
    args = (col, content_type) if (framing, extractor) == ("body", "html") else (col,)
    return pd.DataFrame({"text": getattr(pages, name)(*args)})


# what each layer returned before the layers shared one kernel
_FIELDS = {"record": ("links", "text"), "payload": ("text",), "body": ("text",)}


def _run(framing, extractor, fields):
    return _extract(
        _column(framing), framing, extractor, fields,
        url=pd.Series([URL] * len(EDGES)),
        content_type=pd.Series(_CTS) if framing == "body" else None,
    )


# captured from the per-layer kernels this one replaced; synthetic text is
# the raw latin-1 mirror, so non-ascii bodies read as mojibake there
EXPECTED = {
    ('record', 'synthetic', 'null'): {'links': None, 'text': None},
    ('record', 'synthetic', 'unframed'): {'links': None, 'text': None},
    ('record', 'synthetic', 'extra_crlf'): {'links': ['rel/x.html', '#f', 'q?a=1&amp;b=2'], 'text': 'one'},
    ('record', 'synthetic', 'utf8'): {'links': ['/Ã¼'], 'text': 'ZoÃ« &amp; ä¸\xadæ\x96\x87'},
    ('record', 'synthetic', 'meta_1251'): {'links': ['../up'], 'text': 'Ïåðâûé àáçàö'},
    ('record', 'synthetic', 'ct_1251'): {'links': [], 'text': 'Çèìíÿÿ ñòðàíèöà'},
    ('record', 'html', 'null'): {'links': None, 'text': None},
    ('record', 'html', 'unframed'): {'links': None, 'text': None},
    ('record', 'html', 'extra_crlf'): {'links': ['http://h.example.org/d/rel/x.html', 'http://h.example.org/d/q?a=1&b=2'], 'text': 'one\ntwo\nlsm'},
    ('record', 'html', 'utf8'): {'links': ['http://h.example.org/ü'], 'text': 'Zoë & 中文\nl'},
    ('record', 'html', 'meta_1251'): {'links': ['http://h.example.org/up'], 'text': 'Тест\nПервый абзац\nl'},
    ('record', 'html', 'ct_1251'): {'links': [], 'text': 'Çèìíÿÿ ñòðàíèöà'},
    ('payload', 'synthetic', 'null'): {'text': None},
    ('payload', 'synthetic', 'unframed'): {'text': None},
    ('payload', 'synthetic', 'extra_crlf'): {'text': 'one'},
    ('payload', 'synthetic', 'utf8'): {'text': 'ZoÃ« &amp; ä¸\xadæ\x96\x87'},
    ('payload', 'synthetic', 'meta_1251'): {'text': 'Ïåðâûé àáçàö'},
    ('payload', 'synthetic', 'ct_1251'): {'text': 'Çèìíÿÿ ñòðàíèöà'},
    ('payload', 'html', 'null'): {'text': None},
    ('payload', 'html', 'unframed'): {'text': None},
    ('payload', 'html', 'extra_crlf'): {'text': 'one\ntwo\nlsm'},
    ('payload', 'html', 'utf8'): {'text': 'Zoë & 中文\nl'},
    ('payload', 'html', 'meta_1251'): {'text': 'Тест\nПервый абзац\nl'},
    ('payload', 'html', 'ct_1251'): {'text': 'Çèìíÿÿ ñòðàíèöà'},
    ('body', 'synthetic', 'null'): {'text': None},
    ('body', 'synthetic', 'unframed'): {'text': None},
    ('body', 'synthetic', 'extra_crlf'): {'text': 'one'},
    ('body', 'synthetic', 'utf8'): {'text': 'ZoÃ« &amp; ä¸\xadæ\x96\x87'},
    ('body', 'synthetic', 'meta_1251'): {'text': 'Ïåðâûé àáçàö'},
    ('body', 'synthetic', 'ct_1251'): {'text': 'Çèìíÿÿ ñòðàíèöà'},
    ('body', 'html', 'null'): {'text': None},
    ('body', 'html', 'unframed'): {'text': 'no-framing-here'},
    ('body', 'html', 'extra_crlf'): {'text': 'one\ntwo\nlsm'},
    ('body', 'html', 'utf8'): {'text': 'Zoë & 中文\nl'},
    ('body', 'html', 'meta_1251'): {'text': 'Тест\nПервый абзац\nl'},
    ('body', 'html', 'ct_1251'): {'text': 'Зимняя страница'},
}


def _case(framing, extractor, edge):
    return pytest.param(framing, extractor, edge, id=f"{framing}-{extractor}-{edge}")


@pytest.mark.parametrize(
    "framing,extractor,edge",
    [_case(f, x, e) for f in _FIELDS for x in ("synthetic", "html") for e in EDGES],
)
def test_parity(framing, extractor, edge):
    """One edge record's extraction at one framing layer, run as part of
    the whole six-record batch (so the rows stay aligned too)."""
    want = EXPECTED[(framing, extractor, edge)]
    got = _run(framing, extractor, tuple(want))
    row = EDGES.index(edge)
    assert {f: got[f].tolist()[row] for f in want} == want


def test_links_only_never_runs_html_to_text(monkeypatch):
    """``html_to_text`` is the expensive half of the html extractor; a
    links-only call (the host-graph path) must not run it."""
    import warc_spark.kernels.htmlext as htmlext

    def boom(_):
        raise AssertionError("html_to_text ran on a links-only call")

    monkeypatch.setattr(htmlext, "html_to_text", boom)
    got = _run("record", "html", ("links",))
    assert got["links"].tolist() == [
        EXPECTED[("record", "html", e)]["links"] for e in EDGES
    ]


@pytest.mark.parametrize("extractor", ["synthetic", "html"])
def test_links_at_every_layer(extractor):
    """The payload and body layers, which used to extract text only, give
    the links the record layer gives for the same body."""
    want = [EXPECTED[("record", extractor, e)]["links"] for e in EDGES]
    for framing in ("payload", "body"):
        got = _run(framing, extractor, ("links",))["links"].tolist()
        row = EDGES.index("unframed")  # a body needs no framing
        assert got[:row] + got[row + 1:] == want[:row] + want[row + 1:], framing


# rows only the parity against the JVM form below reads: Java's ``.``
# stops at \r and \x85 (and \u2028, which the latin-1 mirror cannot
# hold; its utf-8 bytes arrive as three latin-1 chars) unless ``(?d)``
# is set; an empty <p></p> is "" where a body with no <p> is null
_JVM_EDGES = {
    "cr_in_p": b'<p>one\rtwo</p><a href="x">l</a>',
    "nel_in_p": b"<p>one\x85two</p>",
    "ls_in_p": "<p>one\u2028two</p>".encode(),
    "empty_p": b'<p></p><p>late</p><a href="">e</a>',
    "no_p": b'<html><body>text<a href="y">l</a></body></html>',
}


@pytest.mark.parametrize("extractor", ["synthetic", "html"])
@pytest.mark.parametrize("framing", list(_FIELDS))
def test_col_parity(spark, framing, extractor):
    """``extract_page_col`` (the Column form every Spark caller uses: JVM
    built-ins for synthetic, the pandas UDF for html) equals
    ``extract_page`` row for row, on the six ``test_parity`` edges and
    the rows above, for both fields together and each alone."""
    from pyspark.sql import functions as F

    from warc_spark.sources.pages import extract_page, extract_page_col

    bodies = list(_BODIES.values()) + list(_JVM_EDGES.values())
    col = pd.Series(
        [None if b is None else bytearray(_framed(b, framing)) for b in bodies]
    )
    cts = pd.Series(_CTS + [None] * len(_JVM_EDGES))
    df = spark.createDataFrame(
        [(i, c, URL, ct) for i, (c, ct) in enumerate(zip(col, cts))],
        "i int, b binary, url string, ct string",
    )
    for fields in (("links", "text"), ("text",), ("links",)):
        want = extract_page(
            col, framing, extractor, fields, url=pd.Series([URL] * len(col)),
            content_type=cts if framing == "body" else None,
        )
        page = extract_page_col(
            F.col("b"), framing, extractor, fields, url=F.col("url"),
            content_type=F.col("ct") if framing == "body" else None,
        )
        if len(fields) == 1:
            page = F.struct(page.alias(fields[0]))
        rows = df.select("i", page.alias("p")).orderBy("i").collect()
        got = [[r.p[f] for f in fields] for r in rows]
        assert got == want[list(fields)].values.tolist(), fields


class TestUnknownNamesRaise:
    """An unknown framing or extractor raises ValueError on the driver,
    where the UDF is built, instead of falling back to the synthetic
    extractor."""

    def test_kernel(self):
        from warc_spark.sources.pages import (
            extract_page,
            extract_page_col,
            extract_page_udf,
        )

        col = _column("record")
        with pytest.raises(ValueError, match="extractor"):
            extract_page(col, "record", "HTML")
        with pytest.raises(ValueError, match="framing"):
            extract_page(col, "warc", "html")
        with pytest.raises(ValueError, match="framing"):
            extract_page_col("html", "http", "synthetic", ("text",))
        with pytest.raises(ValueError, match="extractor"):
            extract_page_col("html", "record", "HTML")
        with pytest.raises(ValueError, match="framing"):
            extract_page_udf("http", ("text",))

    def test_frontier_config(self, spark, tmp_path):
        from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
        from warc_spark.plans.snapstore import SnapStore

        pages = spark.createDataFrame([], "url string, html binary")
        with pytest.raises(ValueError, match="'HTML'"):
            FrontierEngine(
                spark, pages, SnapStore(str(tmp_path)),
                config=FrontierConfig(extractor="HTML"), pages_prepared=True,
            )

    def test_host_graph_from_pages(self, spark):
        from warc_spark.functions.graph import host_graph_from_pages

        pages = spark.createDataFrame([], "url string, html binary")
        with pytest.raises(ValueError, match="'htm'"):
            host_graph_from_pages(pages, extractor="htm")

    @pytest.mark.parametrize("require_status", [None, 200])
    def test_pages_from_records(self, spark, require_status):
        from warc_spark.sources import WARC_RECORD_SCHEMA
        from warc_spark.sources.pages import pages_from_records

        recs = spark.createDataFrame([], WARC_RECORD_SCHEMA)
        with pytest.raises(ValueError, match="'text'"):
            pages_from_records(recs, extractor="text", require_status=require_status)

