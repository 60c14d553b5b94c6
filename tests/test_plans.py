"""Physical-plan regression tests: the scale-design claims in README.md /
PLANS.md as assertions, so a refactor that silently loses pushdown, a
broadcast, or the corpus-stationary fetch join fails CI — not a 100 TB run.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_pushdown_and_pruning(spark, sf_dir):
    """TPC-H Q6 shape (the Q6 leg of the merged q6_q14_q17 entry): every
    predicate reaches the parquet scan; that scan reads only the 4
    referenced columns (of 11). The plan also contains the Q14 and Q17
    legs' scans, so locate the Q6 scan by its pushed l_quantity AND
    l_shipdate (Q17's scans push quantity but never shipdate)."""
    from warc_spark.queries import queries

    p = plan_of(queries()["q6_q14_q17_scalar_metrics"](spark, sf_dir))
    pushed = [
        ln for ln in p.splitlines()
        if "PushedFilters" in ln and "l_quantity" in ln and "l_shipdate" in ln
    ][0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed
    reads = [
        ln for ln in p.splitlines()
        if "ReadSchema" in ln and "l_quantity" in ln and "l_shipdate" in ln
    ]
    assert reads and all("l_extendedprice" in r for r in reads)
    # the wide columns must be pruned away from the Q6 scan
    for absent in ("l_returnflag", "l_orderkey", "l_tax"):
        assert all(absent not in r for r in reads)


def test_q3_broadcasts_dimensions(spark, sf_dir):
    """customer/orders broadcast; no sort-merge join, so the lineitem fact
    side never shuffles for the join."""
    from warc_spark.queries import queries

    p = plan_of(queries()["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_politeness_window_group_limit(spark):
    """The budget rank (row_number <= k) must trigger WindowGroupLimit —
    per-partition top-k pruning BEFORE the window shuffle, the first line
    of defense against hot-host skew."""
    from warc_spark.operators.politeness import flag_politeness

    df = spark.range(0, 1000).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 13).cast("double").alias("priority"),
    )
    kept = flag_politeness(df, None, default_budget=5).filter(F.col("kept"))
    assert "WindowGroupLimit" in plan_of(kept)


def _fetch_plan(spark, pages, tmp_path, extractor="synthetic", **kw) -> str:
    """The formatted plan of FrontierEngine._fetch over a 50-url schedule,
    at the session's default broadcast threshold."""
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore

    eng = FrontierEngine(
        spark, pages, SnapStore(str(tmp_path / "snap")),
        config=FrontierConfig(extractor=extractor), **kw
    )
    sched = spark.range(0, 50).select(
        F.concat(F.lit("http://h0.example.org/page/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") / 50.0).alias("priority"),
    )
    owns = not kw.get("pages_prepared")
    if owns:  # the steady state of run(): the corpus layout is cached
        eng.pages.persist().count()
    try:
        return plan_of(eng._fetch(sched))
    finally:
        if owns:
            eng.pages.unpersist()


def _assert_corpus_stationary(p: str) -> None:
    """A sort-merge fetch join whose only join-driven exchange is the
    schedule side's. The cached corpus plan's own repartition
    (REPARTITION_BY_NUM) is the one-off layout build, not a per-batch
    exchange."""
    assert "BroadcastExchange" not in p, p
    assert "BroadcastHashJoin" not in p, p
    assert _node_blocks(p, "SortMergeJoin"), p
    shuffles = [
        b for b in _node_blocks(p, "Exchange") if "ENSURE_REQUIREMENTS" in b
    ]
    assert len(shuffles) == 1, p
    assert "priority" in shuffles[0] and "html" not in shuffles[0], shuffles[0]


def test_fetch_join_corpus_stationary(spark, tmp_path):
    """The engine's fetch join consumes the pages cache with NO exchange
    above the InMemoryTableScan and never broadcasts it, even when the
    corpus is under the broadcast threshold: only the schedule side
    shuffles."""
    from warc_spark.sources.pages import synth_pages

    p = _fetch_plan(spark, synth_pages(spark, 200, seed=1), tmp_path)
    assert "InMemoryTableScan" in p
    _assert_corpus_stationary(p)


def _python_nodes(formatted_plan: str) -> list[str]:
    """Plan nodes that run Python workers: ArrowEvalPython,
    BatchEvalPython and every *InPandas node."""
    import re

    return re.findall(
        r"^\(\d+\) (\w*(?:EvalPython|InPandas)\w*)", formatted_plan, re.M
    )


def test_fetch_plan_one_arrow_crossing(spark, tmp_path):
    """The frontier's fetch step derives links AND text from the html
    column with no Python for the synthetic extractor (JVM built-ins) and
    through one struct UDF for the html extractor: exactly one
    ArrowEvalPython node, so the binary column crosses the Arrow boundary
    once per fetch. The pages come from parquet, so the cached corpus plan
    holds no generator mapInPandas."""
    from warc_spark.sources.pages import synth_pages

    synth_pages(spark, 200, seed=1).write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    p = _fetch_plan(spark, pages, tmp_path / "s")
    assert _python_nodes(p) == [], p
    p = _fetch_plan(spark, pages, tmp_path / "h", extractor="html")
    assert _python_nodes(p) == ["ArrowEvalPython"], p


@pytest.mark.parametrize("extractor", ["synthetic", "html"])
def test_crawl_batch_python_nodes(spark, tmp_path, extractor):
    """Every table a 3-batch crawl writes, planned as handed to
    ``SnapStore.write_df``: with the synthetic extractor no plan has a
    Python node, so a batch launches no Python worker; with the html
    extractor each scheduled write has exactly one ArrowEvalPython. Pages
    and seeds are read back from parquet, so the generators' own
    mapInPandas is not in the plans."""
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore
    from warc_spark.sources.pages import synth_pages, synth_seeds

    class CapturingStore(SnapStore):
        def __init__(self, root):
            super().__init__(root)
            self.plans = []

        def write_df(self, df, batch, name):
            self.plans.append((batch, name, plan_of(df)))
            return super().write_df(df, batch, name)

    synth_pages(spark, 400, seed=3, n_hosts=8).write.parquet(str(tmp_path / "pages"))
    synth_seeds(spark, 400, n_seeds=12, seed=3, n_hosts=8).write.parquet(
        str(tmp_path / "seeds")
    )
    store = CapturingStore(str(tmp_path / "snap"))
    eng = FrontierEngine(
        spark, spark.read.parquet(str(tmp_path / "pages")), store,
        config=FrontierConfig(max_batches=3, extractor=extractor,
                              seen_compact_every=2),
    )
    assert len(eng.run(spark.read.parquet(str(tmp_path / "seeds")))) == 3
    names = [name for _, name, _ in store.plans]
    assert names.count("scheduled") == 3 and "seen_compact" in names, names
    for batch, name, p in store.plans:
        if extractor == "synthetic":
            assert _python_nodes(p) == [], (batch, name, p)
        elif name == "scheduled":
            assert _python_nodes(p) == ["ArrowEvalPython"], (batch, p)


def _exchange_nodes(jplan) -> list:
    """The exchange nodes executing a physical plan now would run. A
    cached relation is walked only while its buffers are unbuilt: one an
    earlier job built is read from memory, and its exchanges do not run
    again."""
    name = jplan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _exchange_nodes(jplan.executedPlan())
    if name == "InMemoryTableScanExec":
        builder = jplan.relation().cacheBuilder()
        if builder.isCachedColumnBuffersLoaded():
            return []
        return _exchange_nodes(builder.cachedPlan())
    out = [jplan] if name in ("BroadcastExchangeExec", "ShuffleExchangeExec") else []
    children = jplan.children()
    for i in range(children.size()):
        out += _exchange_nodes(children.apply(i))
    return out


def _run_exchanges(jplan) -> list[str]:
    """The exchanges a physical plan runs, sorted by name
    (``hashpartitioning(url, host)``, ``BroadcastExchange``). Exchanges
    with the same result count once: Spark reuses the first."""
    import re

    nodes = []
    for e in _exchange_nodes(jplan):
        if not any(e.sameResult(o) for o in nodes):
            nodes.append(e)
    names = []
    for e in nodes:
        if e.getClass().getSimpleName() == "BroadcastExchangeExec":
            names.append("BroadcastExchange")
        else:
            part = re.sub(r"#\d+", "", e.outputPartitioning().toString())
            names.append(re.sub(r", \d+\)$", ")", part))
    return sorted(names)


def test_crawl_batch_exchanges(spark, tmp_path):
    """Every exchange of a steady batch, named. The scheduled write runs
    the politeness window's host exchange and the fetch join's
    schedule-side url exchange, and no fetch-order exchange between them;
    the frontier write runs the seen-log broadcast and the candidates'
    (url, host) aggregation (the anti-join is pushed into both union
    branches, and the second broadcast reuses the first). A cache an
    earlier job built is read from memory, so its exchanges are not this
    write's: the corpus cache (built in batch 0) for both writes, and the
    gate and fetched caches (built by the scheduled write) for the
    frontier write."""
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore
    from warc_spark.sources.pages import synth_pages, synth_seeds

    class CapturingStore(SnapStore):
        def __init__(self, root):
            super().__init__(root)
            self.exchanges = {}

        def write_df(self, df, batch, name):
            jplan = df._jdf.queryExecution().executedPlan()
            self.exchanges[(batch, name)] = _run_exchanges(jplan)
            return super().write_df(df, batch, name)

    store = CapturingStore(str(tmp_path / "snap"))
    eng = FrontierEngine(
        spark, synth_pages(spark, 400, seed=3, n_hosts=8), store,
        config=FrontierConfig(max_batches=3),
    )
    assert len(eng.run(synth_seeds(spark, 400, n_seeds=12, seed=3, n_hosts=8))) == 3
    assert store.exchanges[(1, "scheduled")] == [
        "hashpartitioning(host)", "hashpartitioning(url)",
    ], store.exchanges
    assert store.exchanges[(1, "frontier")] == [
        "BroadcastExchange", "hashpartitioning(url, host)",
    ], store.exchanges


def _node_blocks(formatted_plan: str, node_name: str) -> list[str]:
    """The detail blocks ('(n) NodeName' + Input/Arguments lines) of every
    node whose name contains node_name, from explain('formatted') output."""
    import re

    blocks, cur = [], None
    for ln in formatted_plan.splitlines():
        if re.match(r"^\(\d+\) ", ln):
            if cur is not None:
                blocks.append("\n".join(cur))
                cur = None
            if node_name in ln:
                cur = [ln]
        elif cur is not None:
            cur.append(ln)
    if cur is not None:
        blocks.append("\n".join(cur))
    return blocks


def test_lsh_band_shuffle_carries_no_payload(spark, sf_dir):
    """The MinHash band self-join exchanges only (id, band, bucket) — the
    corpus text must NOT appear in any Exchange below the candidate join
    (r1's measured scale-killer: 2×bands × corpus text through the
    shuffle). Text re-attaches to the deduped pairs afterwards."""
    from warc_spark.queries import queries

    p = plan_of(queries()["doc_minhash_near_dups"](spark, sf_dir))
    blocks = _node_blocks(p, "Generate")
    assert blocks, "expected a band posexplode (Generate) in the LSH plan"
    for b in blocks:
        assert "posexplode" in b
        assert "_text" not in b, b


def test_embedding_lsh_band_shuffle_carries_no_vectors(spark, sf_dir):
    from warc_spark.queries import queries

    p = plan_of(queries()["emb_near_dup_pairs"](spark, sf_dir))
    blocks = _node_blocks(p, "Generate")
    assert blocks, "expected a table posexplode (Generate) in the LSH plan"
    for b in blocks:
        assert "posexplode" in b
        assert "_v#" not in b, b


def test_bucketed_corpus_join_has_single_exchange(spark, tmp_path):
    """The 100 TB corpus layout: a url-bucketed pages table handed to the
    engine with ``pages_prepared=True`` joins the schedule side with NO
    exchange above the corpus scan — only the schedule side shuffles (into
    the bucket layout). This is the on-disk version of FrontierEngine's
    repartition+persist, valid across sessions without any cache."""
    from warc_spark.plans.layout import read_pages_bucketed, write_pages_bucketed
    from warc_spark.sources.pages import synth_pages

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pages = synth_pages(spark, 2000, seed=42).select("url", "html")
    write_pages_bucketed(pages, "t_pages_bucketed", n_buckets=n_part)
    try:
        p = _fetch_plan(
            spark, read_pages_bucketed(spark, "t_pages_bucketed"), tmp_path,
            pages_prepared=True,
        )
        _assert_corpus_stationary(p)
        assert len(_node_blocks(p, "Exchange")) == 1, p
        assert "Bucketed: true" in p or "SelectedBucketsCount" in p, p
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pages_bucketed")


def test_decontaminate_corpus_side_broadcast_only(spark, sf_dir):
    """The decontamination joins must both be broadcast (reference grams
    and contaminated-id set): the corpus side — 100 TB in production —
    never sort-merge-joins, and its exploded grams never enter a hash
    exchange."""
    from warc_spark.queries import queries

    p = plan_of(queries()["doc_decontaminate_agg"](spark, sf_dir))
    assert "SortMergeJoin" not in p, p
    assert "ShuffledHashJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    # the fuzzy (MinHash) variant carries the same placement contract:
    # reference signatures broadcast, candidates verified via broadcast
    # joins — the corpus side never joins by shuffle
    pf = plan_of(queries()["doc_fuzzy_decontaminate"](spark, sf_dir))
    assert "SortMergeJoin" not in pf, pf
    assert "ShuffledHashJoin" not in pf, pf
    assert pf.count("BroadcastHashJoin") >= 3, pf


def test_pack_sequences_shuffle_is_slim(spark, sf_dir):
    """Sequence packing must shuffle only (doc_id, shard, n_tokens) —
    the document text never enters the exchange (token counts are
    computed by built-in expressions before the groupBy)."""
    from warc_spark.queries import queries

    p = plan_of(queries()["doc_pack_sequences"](spark, sf_dir))
    for b in _node_blocks(p, "Exchange"):
        assert "text" not in b, b


def test_resolve_redirects_edges_cached_no_leak(spark, tmp_path):
    """resolve_redirects persists the slim edge projection for the K=8
    hop-joins (VERDICT r4 #5: uncached, the capture scan re-ran 8x),
    materializes the walk eagerly, and RELEASES the cache before
    returning (r5 review: a lazy return leaked one cached edge copy per
    call for the session lifetime). Contract: the returned frame is a
    checkpoint scan with ZERO parquet scans left in its plan, and the
    session's cache is empty afterwards."""
    from warc_spark.operators.redirects import resolve_redirects

    path = str(tmp_path / "caps")
    spark.range(0, 50).select(
        F.concat(F.lit("http://h/p"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") % 3 == 0, F.lit(301)).otherwise(F.lit(200)).alias("http_status"),
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit("http://h/p"), (F.col("id") + 1).cast("string"))).alias("location"),
    ).write.mode("overwrite").parquet(path)
    caps = spark.read.parquet(path)
    spark.catalog.clearCache()
    try:
        # the r4 invariant, asserted on the LAZY plan (materialize=False):
        # the K=8 hop-joins consume an InMemoryTableScan and the capture
        # source is scanned a CONSTANT number of times (cache-build +
        # state + terminal = 3), not once per hop — so deleting the
        # edges.persist() fails here, not at 100x scale
        lazy = resolve_redirects(caps, max_hops=8, materialize=False)
        lazy.count()  # materialize the edge cache so the plan shows it
        lp = plan_of(lazy)
        assert "InMemoryTableScan" in lp, lp
        assert len(_node_blocks(lp, "Scan parquet")) <= 3, lp
    finally:
        spark.catalog.clearCache()
    out = resolve_redirects(caps, max_hops=8)
    p = plan_of(out)
    # the walk already ran: nothing left to scan, nothing left cached
    assert len(_node_blocks(p, "Scan parquet")) == 0, p
    assert "InMemoryTableScan" not in p, p
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "edge cache leaked past resolve_redirects"
    assert out.count() == 50


def test_wat_records_single_scan(spark, tmp_path):
    """wat_records builds all three envelope kinds (response, request,
    warcinfo) in ONE select over ONE pass of the records source (r5
    review #4: the previous three-filter union re-scanned — and for gzip
    WARCs re-gunzipped — the entire input three times per export)."""
    from warc_spark.sources.wet import wat_records

    path = str(tmp_path / "recs")
    spark.range(0, 30).select(
        F.when(F.col("id") % 3 == 0, F.lit("response"))
        .when(F.col("id") % 3 == 1, F.lit("request"))
        .otherwise(F.lit("warcinfo")).alias("warc_type"),
        F.when(F.col("id") % 3 != 2,
               F.concat(F.lit("http://h/p"), F.col("id").cast("string"))).alias("target_uri"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_date"),
        F.encode(F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nhi"), "UTF-8").alias("payload"),
        F.lit("sha1:AAAA").alias("payload_digest"),
        F.lit(0).cast("long").alias("offset"),
        F.lit(10).cast("long").alias("size"),
        F.concat(F.lit("<urn:uuid:r"), F.col("id").cast("string"), F.lit(">")).alias("record_id"),
        F.lit("part-0.warc.gz").alias("filename"),
    ).write.mode("overwrite").parquet(path)
    rows = wat_records(spark.read.parquet(path))
    p = plan_of(rows)
    assert len(_node_blocks(p, "Scan parquet")) == 1, p
    assert "Union" not in p, p
    got = rows.collect()
    assert len(got) == 30
    # warcinfo rows omit WARC-Target-URI; the others carry it
    for r in got:
        names = list(r.header_names)
        if '"record_type":"warcinfo"' in bytes(r.payload).decode():
            assert "WARC-Target-URI" not in names
        else:
            assert "WARC-Target-URI" in names
