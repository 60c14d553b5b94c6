"""Host-level web-graph analytics: edge aggregation from resolved
out-links and an iterative weighted PageRank — the crawl-prioritization
layer of a web-scale pipeline (real crawl operators rank hosts/domains to
set fetch budgets and seed priorities; Common Crawl publishes exactly this
host-graph + centrality product). The reference library has no graph
surface (it stops at record I/O — /root/reference/warc/warc.py); this is
engine-level capability over the same extracted-link model
(``kernels/htmlext.extract_links`` -> ``operators/frontier`` emits).

Plan shape for 100 TB
---------------------
- ``host_edges``: links explode map-side; ONLY the two host strings cross
  the one (src_host, dst_host) exchange, partially aggregated before the
  shuffle (map-side combine). Page payloads never shuffle.
- ``pagerank``: the rank table is (host string, double) — slim even at
  10^8 hosts. Each iteration is edges ⋈ ranks on src (AQE broadcasts
  ranks while they fit; past that it is a co-partitioned shuffle join —
  persist ``edges`` once and every iteration reuses its partitioning)
  followed by a map-side-combined ``groupBy(dst)``. Node count and
  dangling mass are 1-row aggregates crossJoined back (broadcast nested
  loop by construction), so the whole K-iteration recurrence is ONE lazy
  declarative plan with ZERO driver-side actions or collects.
- The rank recurrences reference the previous iteration's frame TWICE
  per round (flow + dangling for pagerank; raw-score + normalizer for
  HITS), so the UNCUT logical plan doubles per iteration — the same
  blow-up ``connected_components`` checkpoints against. ``persist_every``
  (default 6) inserts a lazy ``localCheckpoint`` every few rounds:
  planning happens at the cut (bounded subtrees), execution stays
  deferred, and the whole recurrence remains action-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.pages import extract_page_col, page_bodies

# mirrors kernels/urlnorm._URL_RE's host group, as a pure JVM expression
# (lower-cased, trailing root-dot stripped) — SQL-replayable in oracles
_HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]*)"


def host_of_expr(url) -> Column:
    """Host of a url column as a codegen'd JVM expression (no UDF):
    lower-case, trailing dot stripped; '' for non-absolute urls."""
    col = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.regexp_extract(col, _HOST_PATTERN, 1))
    return F.regexp_replace(host, r"\.+$", "")


def host_edges(
    pages: DataFrame, url_col: str = "url", links_col: str = "out_links"
) -> DataFrame:
    """``(src, dst, weight)`` host-graph edges from a pages table carrying
    a page url and an array of resolved out-link urls. Weight = number of
    links from src-host pages to dst-host urls (self-loops kept — they are
    real intra-host links and PageRank handles them). Non-absolute urls on
    either side drop out."""
    return (
        pages.select(
            host_of_expr(url_col).alias("src"),
            F.explode(F.col(links_col)).alias("_link"),
        )
        .select("src", host_of_expr(F.col("_link")).alias("dst"))
        .where((F.col("src") != "") & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def host_graph_from_pages(
    pages: DataFrame,
    extractor: str = "html",
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """``(src, dst, weight)`` host edges straight from an input_hint pages
    table (url, html, ...): a links-only extraction (unlike the fetch path
    no text is computed; JVM built-ins for ``'synthetic'``, one Arrow pass
    for ``'html'``), then ``host_edges`` aggregates — everything
    downstream of the extraction is slim host strings.
    ``extractor='html'`` is the real-HTML kernel (tag-aware,
    ``<base>``-resolved hrefs); ``'synthetic'`` matches ``synth_pages``;
    any other name raises ValueError."""
    links = extract_page_col(
        F.col(html_col), "record", extractor, ("links",), url=F.col(url_col)
    )
    linked = pages.select(F.col(url_col).alias("url"), links.alias("out_links"))
    return host_edges(linked)


def _anchors_html_kernel(html, url):
    """WARC record bytes + page url -> array<struct<link, anchor>> of
    resolved hrefs with their anchor text (the html extractor's framing
    and charset fix, ``sources.pages.page_bodies``;
    ``kernels/htmlext.extract_link_anchors`` does the work)."""
    import pandas as pd

    from ..kernels.htmlext import extract_link_anchors

    body = page_bodies(html, "record")
    return pd.Series(
        [
            [{"link": u, "anchor": a} for u, a in extract_link_anchors(b, p)]
            if b is not None
            else None
            for b, p in zip(body, url)
        ],
        dtype=object,
    )


def anchor_texts_from_pages(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """``(dst, anchor, weight)`` — what the web CALLS each target host:
    anchor texts of all in-links, rolled up per (target host, anchor
    phrase) with link counts. The anchor-text graph is the classic
    relevance/labeling side-channel of a crawl (Common Crawl ships it in
    WAT metadata; search and training-data pipelines join it onto the
    link graph as independent target descriptions).

    ONE Arrow pass of the links+anchors kernel, then explode map-side;
    only (dst host, anchor<=500 chars) strings cross the single
    aggregation exchange — page payloads never shuffle. Empty anchors
    (image links) are dropped from the rollup."""
    ex = F.pandas_udf(
        _anchors_html_kernel, "array<struct<link: string, anchor: string>>"
    )
    pairs = pages.select(
        ex(F.col(html_col), F.col(url_col)).alias("pairs")
    ).select(F.explode("pairs").alias("p"))
    return (
        pairs.select(
            host_of_expr(F.col("p.link")).alias("dst"),
            F.col("p.anchor").alias("anchor"),
        )
        .where((F.col("dst") != "") & (F.col("anchor") != ""))
        .groupBy("dst", "anchor")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def top_anchors(anchor_table: DataFrame, k: int = 5) -> DataFrame:
    """Top-k anchor phrases per target host from an
    ``anchor_texts_from_pages`` table — ranked deterministically by
    (weight desc, anchor). One ranking window over the already-slim
    rollup; Spark plans it as WindowGroupLimit (top-k pushed below the
    sort, the same shape as the politeness budget)."""
    from pyspark.sql import Window

    w = Window.partitionBy("dst").orderBy(F.desc("weight"), "anchor")
    return (
        anchor_table.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    persist_every: int = 6,
) -> DataFrame:
    """Weighted PageRank over a ``(src, dst, weight)`` edge table.

    Standard recurrence with dangling-mass redistribution::

        pr_0(v)     = 1/N
        pr_{k+1}(v) = (1-d)/N + d * (sum_{u->v} pr_k(u) * w(u,v)/out_w(u)
                                     + dangling_k / N)

    where ``dangling_k`` is the rank mass sitting on nodes with no
    out-edges (so total mass stays 1 every iteration — the uniform
    teleport absorbs it, the textbook formulation). Returns one row per
    node: ``(host, pagerank, out_degree, in_degree)`` — degrees are
    distinct-neighbor counts. Deterministic at any parallelism up to
    float-sum ordering (callers comparing across engines should round).

    The iteration-invariant frames (normalized edge shares, node set,
    source-node set) are lazily persisted — without that Spark recomputes
    the edge aggregation subtree once per USE (~4x per iteration; exchange
    reuse recovers only part of it), which at 100 TB means re-scanning the
    corpus K times. Lazy ``persist`` keeps
    the whole recurrence action-free and lineage-recoverable; caches
    belong to the session until it clears them (the GraphX/ALS trade).
    """
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    n_row = nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    out_w = edges.groupBy("src").agg(
        F.sum("weight").alias("out_w"), F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy("dst").agg(F.count("*").alias("in_degree"))
    share = edges.join(out_w.select("src", "out_w"), "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("share")
    )
    nodes = nodes.persist()
    share = share.persist()
    src_nodes = out_w.select(F.col("src").alias("host")).persist()

    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "host", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for k in range(iterations):
        flow = (
            share.join(ranks, share.src == ranks.host)
            .select(F.col("dst").alias("host"), (F.col("pr") * F.col("share")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("flow"))
        )
        dangling = (
            ranks.join(src_nodes, "host", "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dangling"))
        )
        ranks = (
            nodes.join(flow, "host", "left")
            .crossJoin(F.broadcast(n_row))
            .crossJoin(F.broadcast(dangling))
            .select(
                "host",
                (
                    F.lit(1.0 - damping) / F.col("n_nodes")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("flow"), F.lit(0.0))
                        + F.col("dangling") / F.col("n_nodes")
                    )
                ).alias("pr"),
            )
        )
        if persist_every and (k + 1) % persist_every == 0 and k + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)

    return (
        ranks.join(out_w.select(F.col("src").alias("host"), "out_degree"), "host", "left")
        .join(in_deg.select(F.col("dst").alias("host"), "in_degree"), "host", "left")
        .select(
            "host",
            F.col("pr").alias("pagerank"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    persist_every: int = 4,
) -> DataFrame:
    """Weighted HITS (hubs & authorities, Kleinberg) over a
    ``(src, dst, weight)`` edge table — the complement to ``pagerank``
    for crawl seed selection: a high-AUTHORITY host is worth fetching
    deeply, a high-HUB host is worth re-crawling for link discovery.

    Recurrence, L1-normalized each half-step (any per-step normalization
    yields the same ranking; sum-normalization keeps the replay exact in
    SQL — no sqrt)::

        h_0(u)   = 1
        a_k(v)   = sum_{u->v} w(u,v) * h_{k-1}(u)   / sum over all v
        h_k(u)   = sum_{u->v} w(u,v) * a_k(v)       / sum over all u

    Returns ``(host, hub, authority)`` — one row per node; nodes with no
    out-edges have hub 0, no in-edges authority 0. Plan shape mirrors
    ``pagerank``: the two normalizers are 1-row aggregates crossJoined
    back as broadcasts, so the whole K-iteration recurrence stays ONE
    lazy plan with zero driver actions; score tables are (host string,
    double) — slim at any node count. Deterministic up to float-sum
    ordering (round when comparing across engines). Like ``pagerank``,
    each half-step references its input frame twice (raw scores +
    normalizer), so ``persist_every`` cuts the otherwise-doubling plan
    with a lazy per-interval ``localCheckpoint``."""
    if iterations < 1:
        raise ValueError("hits() needs at least one iteration")
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )

    hub = nodes.select("host", F.lit(1.0).alias("hub"))
    auth = None
    for k in range(iterations):
        a_raw = (
            edges.join(hub, edges.src == hub.host)
            .select(F.col("dst").alias("host"), (F.col("weight") * F.col("hub")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("a"))
        )
        a_sum = a_raw.agg(F.sum("a").alias("a_sum"))
        auth = (
            nodes.join(a_raw, "host", "left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "host",
                (F.coalesce(F.col("a"), F.lit(0.0)) / F.col("a_sum")).alias("authority"),
            )
        )
        h_raw = (
            edges.join(auth, edges.dst == auth.host)
            .select(F.col("src").alias("host"), (F.col("weight") * F.col("authority")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("hh"))
        )
        h_sum = h_raw.agg(F.sum("hh").alias("h_sum"))
        hub = (
            nodes.join(h_raw, "host", "left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "host",
                (F.coalesce(F.col("hh"), F.lit(0.0)) / F.col("h_sum")).alias("hub"),
            )
        )
        if persist_every and (k + 1) % persist_every == 0 and k + 1 < iterations:
            hub = hub.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return hub.join(auth, "host")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Undirected connected components over a ``(src, dst, *)`` edge
    table by iterated min-label propagation: every node starts labeled
    with itself; each round a node takes the minimum label among itself
    and its neighbors; fixpoint = components (label = lexicographically
    smallest member — deterministic, no hashing). Converges in
    O(graph diameter) rounds; host graphs are shallow (small-world), so
    the default cap is generous. Returns ``(host, component)``.

    Unlike ``pagerank`` this loop needs a convergence test, so each round
    runs ONE metadata-only action: a count over the (label-changed) rows
    — no row data ever reaches the driver. Labels are (host, label)
    string pairs, slim at any scale; the propagation join is host-keyed
    both ways (AQE broadcasts while labels fit).

    Each round's labels ``localCheckpoint`` EAGERLY (the count piggybacks
    on the materialization): the recurrence references the previous
    labels twice per round (neighbor-min + the left join), so without a
    lineage cut the logical plan doubles per iteration — exponential by
    round ~20. The checkpoint makes every round's plan constant-size; on
    a cluster where executor loss matters, swap for reliable
    ``checkpoint()`` with a checkpoint dir (same shape)."""
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("host"))
        .distinct()
        .select("host", F.col("host").alias("component"))
        .persist()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.host)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        nxt = (
            labels.join(
                neighbor_min, labels.host == neighbor_min.src, "left"
            )
            .select(
                "host",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                (F.col("nmin") < F.col("component")).alias("_changed"),
            )
            # lineage cut (labels is referenced twice per round -> the
            # uncut plan doubles per iteration); eager = the convergence
            # count below rides the same materialization
            .localCheckpoint(eager=True)
        )
        changed = nxt.where(F.col("_changed")).count()  # metadata-only action
        prev, labels = labels, nxt.drop("_changed")
        prev.unpersist()
        if changed == 0:
            break
    # the returned labels frame is itself persisted+materialized, so the
    # symmetric edge cache is only a recompute shortcut now
    sym.unpersist()
    return labels


# multi-part public suffixes where the registrable domain is THREE labels
# (pragmatic subset of the public-suffix list covering the common ccTLD
# second-level registries; swap in the full PSL as a broadcast lookup for
# production exactness — the expression shape stays identical)
_MULTIPART_SUFFIXES = (
    "co.uk ac.uk gov.uk org.uk me.uk net.uk ltd.uk plc.uk sch.uk "
    "com.au net.au org.au edu.au gov.au asn.au id.au "
    "co.jp ne.jp or.jp ac.jp go.jp ad.jp ed.jp gr.jp lg.jp "
    "com.br net.br org.br gov.br edu.br "
    "co.in net.in org.in firm.in gen.in ind.in ac.in edu.in gov.in res.in "
    "com.cn net.cn org.cn gov.cn edu.cn ac.cn "
    "co.kr ne.kr or.kr re.kr go.kr ac.kr pe.kr "
    "com.mx org.mx net.mx edu.mx gob.mx "
    "com.tr net.tr org.tr gen.tr edu.tr gov.tr "
    "co.za net.za org.za web.za gov.za ac.za "
    "com.ar net.ar org.ar edu.ar gob.ar "
    "com.tw org.tw net.tw edu.tw gov.tw idv.tw "
    "com.hk org.hk net.hk edu.hk gov.hk idv.hk "
    "com.sg org.sg net.sg edu.sg gov.sg per.sg "
    "co.nz net.nz org.nz ac.nz govt.nz geek.nz gen.nz iwi.nz maori.nz "
    "co.il net.il org.il ac.il gov.il muni.il idf.il "
    "com.my net.my org.my edu.my gov.my mil.my name.my "
    "co.th in.th ac.th go.th mi.th net.th or.th "
    "com.vn net.vn org.vn edu.vn gov.vn int.vn ac.vn biz.vn info.vn "
    "com.ua net.ua org.ua edu.ua gov.ua in.ua "
    "com.pl net.pl org.pl edu.pl gov.pl info.pl waw.pl "
    "com.ru net.ru org.ru msk.ru spb.ru "
    "co.id net.id or.id ac.id go.id web.id my.id sch.id "
    "com.ph net.ph org.ph edu.ph gov.ph ngo.ph "
    "com.eg net.eg org.eg edu.eg gov.eg sci.eg "
    "com.sa net.sa org.sa edu.sa gov.sa med.sa pub.sa "
    "com.ng net.ng org.ng edu.ng gov.ng name.ng "
    "co.ke ne.ke or.ke ac.ke go.ke info.ke me.ke mobi.ke sc.ke"
).split()


def domain_of_expr(host) -> Column:
    """Registrable (pay-level) domain of a host column as a codegen'd JVM
    expression — Common Crawl's domain-graph rollup key. Last two labels,
    or last three when the trailing two are a known multi-part public
    suffix (``co.uk`` etc.); hosts with <=2 labels, IPv4 literals, and
    bracketed IPv6 literals pass through unchanged."""
    col = F.col(host) if isinstance(host, str) else host
    parts = F.split(col, r"\.")
    last2 = F.array_join(F.slice(parts, -2, 2), ".")
    last3 = F.array_join(F.slice(parts, -3, 3), ".")
    is_multi = F.array_contains(
        F.array(*[F.lit(s) for s in _MULTIPART_SUFFIXES]), last2
    )
    is_literal = col.rlike(r"^(\d{1,3}(\.\d{1,3}){3}|\[.*\])$")
    return (
        F.when(is_literal | (F.size(parts) <= 2), col)
        .when(is_multi & (F.size(parts) >= 3), last3)
        .otherwise(last2)
    )


def domain_edges(host_edge_table: DataFrame) -> DataFrame:
    """Roll a ``(src, dst, weight)`` HOST-graph edge table up to
    registrable domains (the Common Crawl domain-graph product): both
    endpoints map through ``domain_of_expr`` and weights re-aggregate.
    Map-side expression + one slim (src, dst) exchange; intra-domain
    edges (host self-loops and cross-host-same-domain links) are kept —
    filter ``src != dst`` for the strict inter-domain graph."""
    return (
        host_edge_table.select(
            domain_of_expr("src").alias("src"),
            domain_of_expr("dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def seeds_from_pagerank(
    pages: DataFrame,
    ranks: DataFrame,
    url_col: str = "url",
    top_hosts: int | None = None,
) -> DataFrame:
    """``(url, priority)`` frontier seed table from a pagerank host-stats
    frame: every page url gets its host's rank, normalized so the top
    host = priority 1.0 — the graph->crawl feedback loop (rank hosts,
    then budget the next crawl toward them). ``top_hosts`` keeps only the
    N best hosts (their pages; everything else drops out). The rank side
    is #hosts rows — AQE broadcasts it against the pages scan."""
    r = ranks.select("host", "pagerank")
    if top_hosts is not None:
        r = r.orderBy(F.desc("pagerank"), "host").limit(top_hosts)
    mx = r.agg(F.max("pagerank").alias("_mx"))
    pr = r.crossJoin(F.broadcast(mx)).select(
        "host", (F.col("pagerank") / F.col("_mx")).alias("priority")
    )
    return (
        pages.select(
            F.col(url_col).alias("url"), host_of_expr(url_col).alias("host")
        )
        .join(pr, "host")
        .select("url", "priority")
    )
