"""Redirect-chain resolution (operators/redirects.py): edge extraction
rules, chain walking, loops, dangling targets, and the Python-free plan."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F  # noqa: F401

from warc_spark.operators.redirects import redirect_edges, resolve_redirects


def _caps(spark, rows):
    """rows: (url, http_status, location)"""
    return spark.createDataFrame(
        rows, "url string, http_status int, location string"
    )


class TestEdges:
    def test_statuses_and_location_resolution(self, spark):
        c = _caps(spark, [
            ("http://h.example.org/a", 301, "http://x.example.org/t"),
            ("http://h.example.org/b", 302, "/rooted"),       # root-relative
            ("http://h.example.org/c", 200, "http://ignored/"),  # not a 3xx
            ("http://h.example.org/d", 307, None),            # no Location
            ("http://h.example.org/e", 308, ""),              # empty Location
            ("http://h.example.org/f", 303, "relative/path"), # merge-path
        ])
        got = {r.url: r.target for r in redirect_edges(c).collect()}
        assert got == {
            "http://h.example.org/a": "http://x.example.org/t",
            "http://h.example.org/b": "http://h.example.org/rooted",
            "http://h.example.org/f": "http://h.example.org/relative/path",
        }

    def test_path_relative_locations(self, spark):
        """RFC 3986 §5.3 merge-path + §5.2.4 dot-segment removal for
        path-relative Locations (VERDICT r4 #3 — 'Location: next.html' is
        common on real captures)."""
        c = _caps(spark, [
            ("http://h.example.org/dir/page.html", 301, "next.html"),
            ("http://h.example.org/dir/sub/p", 301, "../up.html"),
            ("http://h.example.org/a/b/c", 301, "../../z"),
            ("http://h.example.org/d/e", 301, "./same.html"),
            ("http://h.example.org/q/r", 301, "x/./y/../z.html"),
            ("http://h.example.org", 301, "bare.html"),       # empty base path
            ("http://h.example.org/p", 301, "../above.html"), # pop past root
            ("http://h.example.org/f/g?k=1", 301, "n.html?q=/a/../b"),  # query untouched
            ("http://h.example.org/x/", 301, ".."),           # trailing ..
            ("http://h.example.org/s/t", 301, "?page=2"),     # query-only ref
            ("http://h.example.org/dot/u", 301, "/a/../rooted.html"),  # root-rel with dots
        ])
        got = {r.url: r.target for r in redirect_edges(c).collect()}
        assert got == {
            "http://h.example.org/dir/page.html": "http://h.example.org/dir/next.html",
            "http://h.example.org/dir/sub/p": "http://h.example.org/dir/up.html",
            "http://h.example.org/a/b/c": "http://h.example.org/z",
            "http://h.example.org/d/e": "http://h.example.org/d/same.html",
            "http://h.example.org/q/r": "http://h.example.org/q/x/z.html",
            "http://h.example.org": "http://h.example.org/bare.html",
            "http://h.example.org/p": "http://h.example.org/above.html",
            "http://h.example.org/f/g?k=1": "http://h.example.org/f/n.html?q=/a/../b",
            "http://h.example.org/x/": "http://h.example.org/",
            "http://h.example.org/s/t": "http://h.example.org/s/t?page=2",
            "http://h.example.org/dot/u": "http://h.example.org/rooted.html",
        }

    def test_scheme_prefixed_locations_pass_through(self, spark):
        """A reference with ANY scheme prefix is absolute (RFC 3986 §4.2)
        — non-hierarchical mailto:/urn:/data: Locations must pass through
        verbatim (landing as dangling), never be merge-pathed into a
        fabricated url (r5 review #1)."""
        c = _caps(spark, [
            ("http://h.example.org/a/b", 301, "mailto:webmaster@h.com"),
            ("http://h.example.org/a/c", 301, "urn:isbn:0451450523"),
            ("http://h.example.org/a/d", 301, "data:text/plain,hi"),
            ("http://h.example.org/a/e", 301, "http:opaque"),
        ])
        got = {r.url: r.target for r in redirect_edges(c).collect()}
        assert got == {
            "http://h.example.org/a/b": "mailto:webmaster@h.com",
            "http://h.example.org/a/c": "urn:isbn:0451450523",
            "http://h.example.org/a/d": "data:text/plain,hi",
            "http://h.example.org/a/e": "http:opaque",
        }

    def test_base_url_query_handling(self, spark):
        """The capture url's own ?query must never leak into the origin
        (r5 review #2: [^/]+ swallowed it on path-less urls), a
        fragment-only reference keeps the base query (RFC 3986 §5.3), a
        query-only one replaces it, and '/./' runs of any depth collapse
        (r5 review: the 2-pass unroll left '/./' residue at depth >=4)."""
        c = _caps(spark, [
            ("http://h.example.org?q=1", 301, "next.html"),    # query, no path
            ("http://h.example.org/p?a=1", 301, "#sec"),       # frag keeps query
            ("http://h.example.org/p?a=1&b=2", 301, "?c=3"),   # query replaced
            ("http://h.example.org/dir/p", 301, "./././././x"),  # deep ./ run
        ])
        got = {r.url: r.target for r in redirect_edges(c).collect()}
        assert got == {
            "http://h.example.org?q=1": "http://h.example.org/next.html",
            "http://h.example.org/p?a=1": "http://h.example.org/p?a=1#sec",
            "http://h.example.org/p?a=1&b=2": "http://h.example.org/p?c=3",
            "http://h.example.org/dir/p": "http://h.example.org/dir/x",
        }

    def test_network_path_location_keeps_scheme(self, spark):
        """'Location: //cdn.example.org/x' is a network-path reference:
        it keeps the capture's scheme, NOT its origin."""
        c = _caps(spark, [
            ("https://h.example.org/a", 301, "//cdn.example.org/x"),
        ])
        [r] = redirect_edges(c).collect()
        assert r.target == "https://cdn.example.org/x"


class TestResolve:
    def test_chain_dangling_and_loop(self, spark):
        c = _caps(spark, [
            # a -> b -> c (200): 2 hops, resolved, status 200
            ("http://h/a", 301, "http://h/b"),
            ("http://h/b", 301, "http://h/c"),
            ("http://h/c", 200, None),
            # d -> missing: dangling (resolved, null status)
            ("http://h/d", 302, "http://h/nowhere"),
            # e <-> f loop: unresolved after max_hops
            ("http://h/e", 301, "http://h/f"),
            ("http://h/f", 301, "http://h/e"),
        ])
        got = {r.url: r for r in resolve_redirects(c, max_hops=8).collect()}
        a = got["http://h/a"]
        assert (a.final_url, a.hops, a.final_status, a.resolved) == (
            "http://h/c", 2, 200, True)
        assert (got["http://h/c"].hops, got["http://h/c"].final_status) == (0, 200)
        d = got["http://h/d"]
        assert (d.final_url, d.final_status, d.resolved) == (
            "http://h/nowhere", None, True)
        e = got["http://h/e"]
        assert (e.final_url, e.hops, e.resolved) == ("http://h/e", 8, False)
        assert e.final_status is None

    def test_chain_cut_at_max_hops(self, spark):
        urls = [f"http://h/{i}" for i in range(6)]
        rows = [(urls[i], 301, urls[i + 1]) for i in range(5)] + [
            (urls[5], 200, None)
        ]
        got = {r.url: r for r in resolve_redirects(_caps(spark, rows), max_hops=3).collect()}
        r0 = got[urls[0]]
        # stopped mid-chain on a redirect -> unresolved
        assert (r0.final_url, r0.hops, r0.resolved) == (urls[3], 3, False)
        r3 = got[urls[3]]
        assert (r3.final_url, r3.hops, r3.resolved) == (urls[5], 2, True)

    def test_no_python_in_plan(self, spark):
        """Checked on the internal lazy walk plan — the public function
        eagerly checkpoints (its returned plan is just an RDD scan)."""
        from warc_spark.operators.redirects import _walk_plan

        c = _caps(spark, [("http://h/a", 301, "http://h/b"), ("http://h/b", 200, None)])
        buf = io.StringIO()
        with redirect_stdout(buf):
            _walk_plan(c, redirect_edges(c), 4, "url", "http_status").explain("formatted")
        plan = buf.getvalue()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestUrljoinParity:
    def test_resolution_matches_urljoin_cross_product(self, spark):
        """Independent RFC 3986 oracle: every (base x reference) pair in
        the documented subset must resolve exactly as urllib.parse.urljoin
        (CPython's own RFC 3986 §5 implementation), with dot segments
        removed from network-path references as §5.2.2 requires (see
        ``rfc_join``). One Spark job over the
        full cross product (405 cases). Subset bounds honored by
        construction: bases carry a non-empty path, references are
        non-empty, '..' nests at most 4 deep."""
        from urllib.parse import urljoin

        bases = [
            "http://h.example.org/p",
            "http://h.example.org/a/",
            "http://h.example.org/a/b",
            "http://h.example.org/a/b/",
            "http://h.example.org/a/b/c.html",
            "http://h.example.org/a/b?q=1",
            "http://h.example.org/a/b/c?q=1&r=2",
            "https://h.example.org/dir/sub/leaf",
            "http://h.example.org/x/y",
        ]
        refs = [
            "z", "z.html", "y2/z", "w/x/y/z",
            "./z", "././z", "./././././z",
            "..", "../", "../z", "../../z", "../../../z", "../../../../z",
            "a/../z", "a/b/../../z", "a/./b/../z", "a/..",
            "/", "/z", "/a/../z", "/./z",
            "?r=2", "#f", "?r=2#f",
            "z?q=a/../b",
            "//cdn.example.org/z", "//cdn.example.org",
            "http://other.example.org/z", "https://other.example.org",
            "mailto:a@b.example", "urn:isbn:123", "data:text/plain,hi",
            "a:b-not-a-path",  # ':' in first segment -> absolute
            "seg/a:b",         # ':' in a LATER segment -> relative
            "z;m=v/w", ".././z", "z/", "z/.", "z/..", "z/./",
            # dotted network-path references
            "//cdn.example.org/a/../z", "//cdn.example.org/./z",
            "//cdn.example.org/a/b/../../z?q=a/../b#f/../x",
            "//cdn.example.org/..", "//cdn.example.org/a/.",
        ]

        def rfc_join(b, r):
            # CPython's urljoin returns an authority-bearing reference
            # without removing dot segments; RFC 3986 §5.2.2 removes them
            # from its path, which urljoin does do when the path is
            # resolved root-relative against the new authority
            auth, slash, rest = r[2:].partition("/")
            if r.startswith("//") and slash:
                return urljoin(urljoin(b, "//" + auth), "/" + rest)
            return urljoin(b, r)

        cases = [(i, b, r) for i, (b, r) in enumerate(
            (b, r) for b in bases for r in refs)]
        tagged = spark.createDataFrame(
            [(str(i), b, 301, r) for i, b, r in cases],
            "i string, url string, http_status int, location string",
        )
        got = {
            int(row.i): row.target
            for row in redirect_edges(tagged, extra_cols=("i",)).collect()
        }
        mismatches = [
            (b, r, got[i], rfc_join(b, r))
            for i, b, r in cases
            if got[i] != rfc_join(b, r)
        ]
        assert not mismatches, mismatches[:10]
