"""Frontier priorities from several seed signals (SURVEY.md §2.B E8).

``merge_seed_tables`` folds graph rank, freshness and sitemap discovery
into one ``(url, priority)`` frontier input. Fetch order is not an operator
here: it is data, ``(batch, priority desc, url)``, written into every
``scheduled`` table by ``FrontierEngine`` (Spark rows carry no order,
SURVEY.md §1.5). Host skew is met by the fetch join's url exchange, which
spreads a hot host over every partition (operators/frontier.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_seed_tables(
    seed_tables: list[DataFrame],
    weights: list[float] | None = None,
) -> DataFrame:
    """Combine ``(url, priority)`` seed tables from different signals —
    graph rank (``seeds_from_pagerank``), freshness (``recrawl_seeds``),
    discovery (``seeds_from_sitemaps``) — into ONE frontier input: per-
    table weights scale each source's [0, 1] priorities into a shared
    scale, duplicates max-merge (a url wanted by any signal keeps its
    strongest claim — the same rule synth_seeds applies). Null priorities
    (sitemap-INDEX rows awaiting expansion) drop out. One slim
    (url, priority) exchange."""
    if not seed_tables:
        raise ValueError("merge_seed_tables needs at least one table")
    if weights is None:
        weights = [1.0] * len(seed_tables)
    if len(weights) != len(seed_tables):
        raise ValueError("one weight per seed table")
    from functools import reduce

    scaled = [
        t.where(F.col("priority").isNotNull()).select(
            "url", (F.col("priority") * F.lit(w)).alias("priority")
        )
        for t, w in zip(seed_tables, weights)
    ]
    # N is the number of SIGNALS (a handful: graph, recrawl, sitemaps),
    # not data size — a linear union chain over a few relations is flat
    # after Catalyst collapses it; don't feed hundreds of tables here
    # expecting a balanced plan (VERDICT r4 minor #4).
    out = reduce(lambda a, b: a.unionByName(b), scaled)
    return out.groupBy("url").agg(F.max("priority").alias("priority"))
