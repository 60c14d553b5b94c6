"""Per-host politeness budget (SURVEY.md §2.B E6).

``row_number() over (partition by host order by priority desc, url) <= k``
— at scale this is one shuffle on the host key. A consumer that filters the
rank (``topk_per_key``, or ``flag_politeness(...).filter("kept")``, the way
to cut a frontier to its budget) lets Spark plan a ``WindowGroupLimit`` that
prunes each map partition to the per-host top k before the shuffle. The frontier batch does not: it keeps the flag as
a column and caches the ranked frame, so every row of a host goes to one
window task, and AQE's skew-join splitting does not apply to windows.
Per-host budget overrides come from a small broadcast table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame, key: str | list[str], order: list[Column], k: int,
    rank_col: str = "_rn",
) -> DataFrame:
    """Keep at most k rows per key by the given order (deterministic — pass
    a unique tiebreaker as the last order column)."""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def flag_politeness(
    frontier: DataFrame,
    budgets: DataFrame | None = None,
    default_budget: int = 8,
    host_col: str = "host",
    priority_col: str = "priority",
    url_col: str = "url",
    flag_col: str = "kept",
    presort: list[Column] | None = None,
) -> DataFrame:
    """Rank the frontier per host and mark the within-budget rows with a
    boolean instead of filtering — one window pass feeds both the scheduled
    set (``kept``) and the deferred remainder (``NOT kept``), so the
    frontier loop never anti-joins to recover the deferral.

    ``presort`` columns lead the window order: passing ``[desc(allowed)]``
    ranks disallowed rows below every allowed row of the host, so allowed
    rows receive exactly the ranks they would get after filtering — one
    window serves both the gate and the budget.

    ``budgets(host, max_fetches_per_batch)`` is broadcast (it is tiny —
    one row per host with a non-default budget)."""
    order = list(presort or []) + [F.desc(priority_col), F.col(url_col)]
    w = Window.partitionBy(host_col).orderBy(*order)
    ranked = frontier.withColumn("_rn", F.row_number().over(w))
    if budgets is None:
        out = ranked.withColumn(flag_col, F.col("_rn") <= default_budget)
    else:
        b = F.broadcast(budgets.select(host_col, "max_fetches_per_batch"))
        out = (
            ranked.join(b, on=host_col, how="left")
            .withColumn(
                flag_col,
                F.col("_rn")
                <= F.coalesce(F.col("max_fetches_per_batch"), F.lit(default_budget)),
            )
            .drop("max_fetches_per_batch")
        )
    return out.drop("_rn")


def budgets_from_crawl_delay(
    robots: DataFrame,
    batch_seconds: float,
    max_budget: int | None = None,
) -> DataFrame:
    """Derive per-host politeness budgets from robots.txt ``Crawl-delay``:
    a host allowing one fetch every d seconds gets
    ``floor(batch_seconds / d)`` fetches per batch (>= 1 — a delay longer
    than the batch still crawls, just one url per batch). Hosts without a
    delay are absent from the output and fall back to ``default_budget``
    in flag_politeness. This closes the loop robots parse -> scheduler:
    the rules table's crawl_delay column actually throttles the crawl."""
    out = (
        robots.filter(F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0))
        .select(
            "host",
            F.greatest(
                F.lit(1),
                F.floor(F.lit(float(batch_seconds)) / F.col("crawl_delay")),
            )
            .cast("int")
            .alias("max_fetches_per_batch"),
        )
    )
    if max_budget is not None:
        out = out.withColumn(
            "max_fetches_per_batch",
            F.least(F.col("max_fetches_per_batch"), F.lit(int(max_budget))),
        )
    return out
