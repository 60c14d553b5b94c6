"""CLI subcommands (python -m warc_spark ...) driven in-process: compact
(revisit dedup) and the wet/wat/cdx derived-format exports. get_spark is
monkeypatched to the shared test session (and stop() to a no-op) so the
CLI runs against the fixture JVM instead of booting its own."""

import json
import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from warc_spark import __main__ as cli
from warc_spark.kernels.gzipmember import compress_records_as_members
from warc_spark.kernels.warcrec import make_record


def _http_html(i: int, body_tag: int) -> bytes:
    body = (
        b"<html><head><title>t%d</title></head>"
        b"<body><p>shared body %d</p>"
        b'<a href="http://link.example/%d">x</a></body></html>'
        % (i, body_tag, body_tag)
    )
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Length: %d\r\n\r\n%s" % (len(body), body)
    )


@pytest.fixture(scope="module")
def cli_warc(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    records = [
        make_record(
            # 8 records over 4 distinct payloads -> 4 revisits
            payload=_http_html(i % 4, i % 4),
            warc_type="response",
            headers=[
                ("WARC-Target-URI", "http://cli.example/%d" % i),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            record_id="00000000-0000-0000-0000-%012d" % i,
            date="2026-08-02T00:00:%02dZ" % i,
        ).to_bytes()
        for i in range(8)
    ]
    path = str(d / "cli.warc.gz")
    with open(path, "wb") as f:
        f.write(compress_records_as_members(records))
    return path


@pytest.fixture(autouse=True)
def _patched_session(spark, monkeypatch):
    import warc_spark.plans as plans

    monkeypatch.setattr(plans, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    yield


def _run(capsys, argv) -> dict:
    assert cli.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_compact_subcommand(spark, cli_warc, tmp_path, capsys):
    out = str(tmp_path / "compacted")
    res = _run(capsys, ["compact", "--warc", cli_warc, "--out", out])
    assert res["records"] == 8 and res["revisits"] == 4
    from warc_spark.sources import read_warc

    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    types = {r["warc_type"]: r["count"] for r in
             back.groupBy("warc_type").count().collect()}
    assert types == {"response": 4, "revisit": 4}


def test_export_wet(spark, cli_warc, tmp_path, capsys):
    out = str(tmp_path / "wet")
    res = _run(capsys, ["export", "--warc", cli_warc, "--out", out,
                        "--format", "wet"])
    assert res["records"] == 8
    from warc_spark.sources import read_warc

    wet = read_warc(spark, os.path.join(out, "*.warc.gz")).collect()
    assert all(r.warc_type == "conversion" for r in wet)
    assert any(b"shared body" in bytes(r.payload) for r in wet)


def test_export_wat(spark, cli_warc, tmp_path, capsys):
    out = str(tmp_path / "wat")
    res = _run(capsys, ["export", "--warc", cli_warc, "--out", out,
                        "--format", "wat"])
    assert res["records"] == 8


def test_export_cdx(spark, cli_warc, tmp_path, capsys):
    out = str(tmp_path / "cdx")
    res = _run(capsys, ["export", "--warc", cli_warc, "--out", out,
                        "--format", "cdx"])
    assert res["entries"] == 8
    from warc_spark.sources.cdx import read_cdx

    keys = [r.urlkey for r in read_cdx(spark, out).collect()]
    assert len(keys) == 8 and all(k.startswith("example,cli)") for k in keys)


def test_ingest_split_bytes_same_pages(spark, cli_warc, tmp_path, capsys):
    """``ingest`` writes the same pages whether it scans whole files or
    member-aligned ranges (``--split-bytes``, here several per file)."""
    def pages(*extra):
        out = str(tmp_path / ("pages" + "".join(extra)))
        res = _run(capsys, ["ingest", "--warc", cli_warc, "--out", out, *extra])
        assert res["pages"] == 8
        return {(r.url, bytes(r.html), r.text)
                for r in spark.read.parquet(out).collect()}

    split = str(os.path.getsize(cli_warc) // 3)
    assert pages() == pages("--split-bytes", split)


def test_index_subcommand(spark, cli_warc, tmp_path, capsys):
    """``index --format warc``: one row per gzip member; ``--format arc``:
    one row per record."""
    import datetime as dt

    from warc_spark.sources import write_arc

    out = str(tmp_path / "widx")
    res = _run(capsys, ["index", "--path", cli_warc, "--out", out])
    idx = sorted((r.offset, r.length, r.member_index)
                 for r in spark.read.parquet(out).collect())
    assert res["entries"] == 8 and [m for _, _, m in idx] == list(range(8))
    assert idx[0][0] == 0 and sum(n for _, n, _ in idx) == os.path.getsize(cli_warc)

    date = dt.datetime(2026, 8, 2)
    arcs = str(tmp_path / "arcs")
    write_arc(
        spark.createDataFrame(
            [{"url": "http://cli.example/%d" % i, "ip_address": "127.0.0.1",
              "arc_date": date, "content_type": "text/html",
              "payload": b"payload %d" % i} for i in range(5)]
        ).coalesce(1),
        arcs, date=date,
    ).collect()
    out = str(tmp_path / "aidx")
    res = _run(capsys, ["index", "--path", arcs, "--out", out,
                        "--format", "arc"])
    urls = sorted(r.url for r in spark.read.parquet(out).collect())
    assert res["entries"] == 5
    assert urls == sorted("http://cli.example/%d" % i for i in range(5))


def test_resolve_subcommand(spark, tmp_path, capsys):
    """WARC with a 301 chain, a dangling redirect, and a 200 terminal ->
    the resolve CLI's parquet mapping. The chain url also has an EARLIER
    200 capture that the latest-capture reduction must discard."""

    def rec(i, uri, payload, date):
        return make_record(
            payload=payload, warc_type="response",
            headers=[("WARC-Target-URI", uri),
                     ("Content-Type", "application/http; msgtype=response")],
            record_id="00000000-0000-0000-0001-%012d" % i,
            date=date,
        ).to_bytes()

    def http(status_line, extra=b"", body=b"x"):
        return (
            b"HTTP/1.1 " + status_line + b"\r\n" + extra
            + b"Content-Length: %d\r\n\r\n%s" % (len(body), body)
        )

    records = [
        # a: stale 200 at 00:00, then 301 -> b at 00:05 (latest wins)
        rec(0, "http://r.example/a", http(b"200 OK"), "2026-08-02T00:00:00Z"),
        rec(1, "http://r.example/a",
            http(b"301 Moved", b"Location: http://r.example/b\r\n"),
            "2026-08-02T00:05:00Z"),
        # b: 302 with a root-relative Location -> /c
        rec(2, "http://r.example/b",
            http(b"302 Found", b"Location: /c\r\n"), "2026-08-02T00:06:00Z"),
        rec(3, "http://r.example/c", http(b"200 OK"), "2026-08-02T00:07:00Z"),
        # d: dangling redirect (target never captured)
        rec(4, "http://r.example/d",
            http(b"301 Moved", b"Location: http://r.example/missing\r\n"),
            "2026-08-02T00:08:00Z"),
    ]
    d = tmp_path / "rwarc"
    d.mkdir()
    with open(str(d / "r.warc.gz"), "wb") as f:
        f.write(compress_records_as_members(records))
    out = str(tmp_path / "resolved")
    res = _run(capsys, [
        "resolve", "--warc", str(d / "*.warc.gz"), "--out", out,
    ])
    # redirected = a (2 hops), b (1 hop), d (1 hop)
    assert res == {"urls": 4, "redirected": 3, "unresolved": 0,
                   "dangling": 1, "out": out}
    got = {r.url: r for r in spark.read.parquet(out).collect()}
    a = got["http://r.example/a"]
    assert (a.final_url, a.hops, a.final_status, a.resolved) == (
        "http://r.example/c", 2, 200, True)
    dd = got["http://r.example/d"]
    assert (dd.final_url, dd.final_status, dd.resolved) == (
        "http://r.example/missing", None, True)


def test_graph_subcommand(spark, tmp_path, capsys):
    out = str(tmp_path / "hostgraph")
    edges_out = str(tmp_path / "hostedges")
    dom_out = str(tmp_path / "domedges")
    seeds_out = str(tmp_path / "graphseeds")
    anchors_out = str(tmp_path / "anchors")
    res = _run(capsys, [
        "graph", "--synth-pages", "400", "--out", out,
        "--edges-out", edges_out, "--domain-edges-out", dom_out,
        "--seeds-out", seeds_out, "--top-hosts", "3",
        "--anchors-out", anchors_out, "--top-anchors", "2",
        "--iterations", "3", "--seed", "11",
    ])
    assert res["hosts"] >= 1 and res["components"] >= 1
    stats = spark.read.parquet(out)
    assert set(stats.columns) == {
        "host", "pagerank", "out_degree", "in_degree", "component",
        "hub", "authority"}
    rows = stats.collect()
    assert len(rows) == res["hosts"]
    # PageRank + HITS mass conserved; every component label is a host
    assert abs(sum(r.pagerank for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.authority for r in rows) - 1.0) < 1e-9
    hosts = {r.host for r in rows}
    assert {r.component for r in rows} <= hosts
    e = spark.read.parquet(edges_out)
    assert set(e.columns) == {"src", "dst", "weight"} and e.count() > 0
    d = spark.read.parquet(dom_out)
    assert set(d.columns) == {"src", "dst", "weight"}
    assert d.count() <= e.count()  # rollup can only merge edges
    seeds = spark.read.parquet(seeds_out)
    assert set(seeds.columns) == {"url", "priority"}
    assert 0 < res["seeds"] == seeds.count()
    # priorities come from exactly the top 3 hosts, max normalized to 1.0
    assert seeds.agg(F.max("priority")).first()[0] == pytest.approx(1.0)
    assert seeds.select("priority").distinct().count() <= 3

    anc = spark.read.parquet(anchors_out)
    assert set(anc.columns) == {"dst", "anchor", "weight", "rank"}
    assert 0 < res["anchor_hosts"] == anc.select("dst").distinct().count()
    assert anc.agg(F.max("rank")).first()[0] <= 2

    # the graph->crawl loop: the emitted seed table drives the crawl CLI
    crawl_out = str(tmp_path / "crawl")
    cres = _run(capsys, [
        "crawl", "--synth-pages", "400", "--seeds-table", seeds_out,
        "--out", crawl_out, "--batches", "1", "--budget", "4",
        "--seed", "11",
    ])
    assert cres["batches"] == 1 and cres["scheduled"] > 0


def test_seeds_subcommand(spark, tmp_path, capsys):
    """`seeds` merges (url, priority) tables from different signals into
    one weighted max-merged frontier input, and `crawl --seeds-table`
    consumes it end to end (VERDICT r4 #8)."""
    ga = str(tmp_path / "graph_seeds")
    rb = str(tmp_path / "recrawl_seeds")
    sc = str(tmp_path / "sitemap_seeds")
    spark.createDataFrame(
        [("http://h0.example.org/page/0", 1.0),
         ("http://h0.example.org/page/1", 0.5)],
        "url string, priority double",
    ).write.mode("overwrite").parquet(ga)
    spark.createDataFrame(
        [("http://h0.example.org/page/1", 1.0),
         ("http://h1.example.org/page/2", 0.8),
         ("http://h1.example.org/page/3", None)],  # index row: dropped
        "url string, priority double",
    ).write.mode("overwrite").parquet(rb)
    spark.createDataFrame(
        [("http://h2.example.org/page/4", 1.0)],
        "url string, priority double",
    ).write.mode("overwrite").parquet(sc)
    merged_out = str(tmp_path / "merged_seeds")
    res = _run(capsys, [
        "seeds", "--tables", ga, rb, sc,
        "--weights", "1.0", "0.6", "0.3", "--out", merged_out,
    ])
    assert res["seeds"] == 4 and res["tables"] == 3
    got = {r.url: r.priority for r in spark.read.parquet(merged_out).collect()}
    assert got == {
        "http://h0.example.org/page/0": 1.0,          # graph only
        "http://h0.example.org/page/1": 0.6,          # max(0.5*1.0, 1.0*0.6)
        "http://h1.example.org/page/2": pytest.approx(0.48),  # recrawl only
        "http://h2.example.org/page/4": pytest.approx(0.3),   # sitemap only
    }
    crawl_out = str(tmp_path / "crawl_from_merged")
    cres = _run(capsys, [
        "crawl", "--synth-pages", "400", "--seeds-table", merged_out,
        "--out", crawl_out, "--batches", "1", "--budget", "4",
        "--seed", "11",
    ])
    assert cres["batches"] == 1 and cres["scheduled"] > 0


def test_traps_subcommand(spark, tmp_path, capsys):
    """traps --pages: trap stats + flagged-host budget overrides, and the
    budgets table actually throttles the flagged host via
    flag_politeness."""
    pages = str(tmp_path / "trap_pages")
    trap = spark.range(0, 800).select(
        F.concat(F.lit("http://trap.example.com/cal/"),
                 (F.col("id") % 30).cast("string"),
                 F.lit("/"), F.col("id").cast("string")).alias("url"))
    ok = spark.range(0, 300).select(
        F.concat(F.lit("http://ok.example.com/a-"),
                 F.translate((F.col("id") % 300).cast("string"),
                             "0123456789", "abcdefghij")).alias("url"))
    trap.unionByName(ok).write.mode("overwrite").parquet(pages)
    out = str(tmp_path / "traps_out")
    res = _run(capsys, [
        "traps", "--pages", pages, "--out", out,
        "--min-urls", "500", "--min-urls-per-template", "100",
        "--trap-budget", "2",
    ])
    assert res["hosts"] == 2 and res["flagged"] == 1
    budgets = spark.read.parquet(res["budgets"])
    [b] = budgets.collect()
    assert b.host == "trap.example.com" and b.max_fetches_per_batch == 2

    # the override table throttles the trap host in the politeness gate
    from warc_spark.functions.graph import host_of_expr
    from warc_spark.operators.politeness import flag_politeness

    frontier = spark.read.parquet(pages).select(
        "url", host_of_expr("url").alias("host"), F.lit(1.0).alias("priority"))
    kept = (
        flag_politeness(frontier, budgets, default_budget=100)
        .where(F.col("kept"))
        .groupBy("host").count().collect())
    got = {r.host: r["count"] for r in kept}
    assert got == {"trap.example.com": 2, "ok.example.com": 100}


def test_crawl_budgets_table(spark, tmp_path, capsys):
    """`crawl --budgets-table` (the traps subcommand's budgets/ output
    shape) throttles the named hosts: same synth crawl, host0 capped to
    1 fetch/batch, schedules strictly fewer urls."""
    base = _run(capsys, [
        "crawl", "--synth-pages", "400", "--seeds", "300",
        "--out", str(tmp_path / "c_base"), "--batches", "1",
        "--budget", "8", "--seed", "11",
    ])
    budgets = str(tmp_path / "budgets")
    spark.createDataFrame(
        [("host0.example.org", 1)], "host string, max_fetches_per_batch int"
    ).write.mode("overwrite").parquet(budgets)
    capped = _run(capsys, [
        "crawl", "--synth-pages", "400", "--seeds", "300",
        "--out", str(tmp_path / "c_capped"), "--batches", "1",
        "--budget", "8", "--seed", "11", "--budgets-table", budgets,
    ])
    assert 0 < capped["scheduled"] < base["scheduled"]


def test_curate_subcommand(spark, tmp_path, capsys):
    """curate: every stage observable — quality drops shorts/wrong-lang,
    exact dedup removes the planted byte-duplicate, minhash removes the
    near-duplicate, hostcap downsamples the mega-host, pii scrubs the
    planted email — and the stats JSON accounts for each."""
    docs = str(tmp_path / "cur_docs")
    def words(tag, n=40):
        return " ".join(f"{tag}w{j} the of and" for j in range(n))

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away across the wide open field tonight ") * 3
    rows = [
        (0, base + "alpha", "en", "http://big.example.com/p/0"),
        (1, base + "alpha", "en", "http://big.example.com/p/1"),   # exact dup of 0
        (2, base + "alpha beta", "en", "http://big.example.com/p/2"),  # near dup of 0
        (3, words("mail") + " write to a.b@example.com now", "en",
         "http://small.example.com/p/3"),
        (4, "too short", "en", "http://small.example.com/p/4"),    # quality: short
        (5, "der hund läuft " + " ".join(f"und der w{j} ist nicht da" for j in range(20)),
         "de", "http://small.example.com/p/5"),  # wrong lang
    ]
    # pad the big host with mutually-distinct docs so hostcap (cap=2)
    # has something to downsample that dedup must NOT touch
    rows += [
        (10 + i, words(f"pad{i}"), "en", f"http://big.example.com/q/{10 + i}")
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.mode("overwrite").parquet(docs)
    out = str(tmp_path / "curated")
    res = _run(capsys, [
        "curate", "--docs", docs, "--out", out,
        "--steps", "quality,exact,minhash,hostcap,pii",
        "--langs", "en", "--min-tokens", "20", "--host-cap", "2",
    ])
    assert res["input"] == 26
    assert res["dropped_by_reason"] == {"too_short": 1, "wrong_lang": 1}
    assert res["after_quality"] == 24
    assert res["after_exact"] == 23          # doc 1 (byte-dup) gone
    assert res["after_minhash"] == 22        # doc 2 (near-dup) gone
    assert res["after_hostcap"] < 22         # big host downsampled
    assert res["pii_replacements"] >= 1      # the planted email
    curated = spark.read.parquet(out)
    assert "text_clean" in curated.columns
    kept_ids = {r.doc_id for r in curated.select("doc_id").collect()}
    # the under-cap host survives hostcap deterministically; the dupes
    # and quality-drops are gone (doc 0 may or may not survive the
    # probabilistic big-host cap — that's the operator's contract)
    assert 3 in kept_ids
    assert kept_ids.isdisjoint({1, 2, 4, 5})
    assert res["rows"] == curated.count() == res["after_hostcap"]
    [scrubbed] = curated.where("doc_id = 3").collect()
    assert "a.b@example.com" not in scrubbed.text_clean
    assert "a.b@example.com" in scrubbed.text  # original column untouched
