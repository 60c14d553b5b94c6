"""The frontier loop (SURVEY.md §2.B E9-E11): BFS-ish batched crawl with
fetch simulation, URL-seen dedup, robots gating, politeness budgets, salted
priority ordering, and per-batch snapshot checkpointing.

Batch semantics (the contract the pure-Python oracle simulator in
tests/oracle_sim.py replicates exactly):

1. candidates   = the frontier (the frontier invariant: every frontier
                  table is already deduplicated against the seen set as of
                  its emit batch — dedup happens ONCE, at emit, step 5)
2. robots gate  : disallowed urls are *dropped permanently* (added to seen,
                  never scheduled)
3. politeness   : per host keep top ``budget`` by (priority desc, url);
                  the rest *stay in the frontier* for the next batch
4. scheduled    : fetched (simulated: looked up in the pages table — the
                  reference's from_response hook, warc/warc.py:215-242,
                  with the network replaced by the deterministic pages
                  corpus); links extracted from html
5. next frontier: politeness-deferred ∪ extracted links (priority =
                  parent*decay, max-merged per url), minus seen — one
                  exact left_anti join against the seen log (every url
                  ever scheduled) plus this batch's robots-blocked urls
6. checkpoint   : scheduled/frontier written, manifest committed

Physical design for scale:
- the pages corpus is hash-partitioned AND sorted by url once at engine
  construction (the Iceberg bucket/sort-order story) — the per-batch fetch
  join shuffles only the (budget-bounded) schedule side; the 100 TB pages
  table never moves;
- robots flag + politeness rank are computed as *columns* on persisted
  frames, so allowed/blocked/scheduled/deferred all come from one pass —
  no anti-joins, no plan re-execution;
- membership is the seen log itself (the scheduled tables, LSM-compacted
  every ``seen_compact_every`` batches): emit-side dedup is a single set
  join of the candidates against it. While the log is broadcast-sized the
  join scans it without a shuffle; above that it shuffles the seen log
  like any anti-join. No filter state is built, merged, broadcast or
  checkpointed per batch;
- metrics come from in-memory aggregations over the persisted per-batch
  frames — no extra full-plan executions.

Determinism: every cut is keyed by (priority desc, url); priorities are
IEEE doubles produced by max/multiply only (associative-safe); seeds and
page links are seed-derived. So the batch-number + rank of every url is
reproducible at any parallelism — the crawl-ordering oracle (BASELINE.json
north_rule).
"""

from __future__ import annotations

import time
from dataclasses import InitVar, dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.snapstore import SnapStore
from .politeness import flag_politeness
from .priority import salted_priority_order
from .robots import flag_robots, url_host
from .seen import BloomSeenSet


@dataclass
class FrontierConfig:
    default_budget: int = 4
    decay: float = 0.8
    max_batches: int = 20
    n_salts: int = 8
    # link+text extraction kernel: "synthetic" = the corpus-shape kernel
    # (byte-identity oracle on generated corpora); "html" = the real-HTML
    # kernel (kernels/htmlext — tag stripping, entity decode, relative-href
    # resolution against the page url) for real crawled corpora
    extractor: str = "synthetic"
    # canonicalize extracted links (kernels/urlnorm: lower-case scheme+host,
    # strip default port + fragment, ensure path) before frontier emission —
    # real-web href soup aliases the same resource many ways; off by default
    # because the synthetic corpora emit canonical links already (and the
    # crawl-ordering oracle would otherwise hide the no-op)
    normalize_links: bool = False
    min_priority: float = 1e-6
    # compact the seen-url log every N batches (LSM-style): the seen-log
    # read opens O(N) parquet dirs per batch instead of O(#batches); 0
    # disables compaction
    seen_compact_every: int = 8
    # Retired membership-filter geometry, accepted and ignored (never
    # stored, so never written to a manifest). They stay only while the
    # benchmark's crawl workload still passes them; drop them once a
    # benchmark change stops doing so.
    bloom_buckets: InitVar[int | None] = None
    bloom_bits: InitVar[int | None] = None
    rescue_mode: InitVar[str | None] = None

    def asdict(self) -> dict[str, Any]:
        return self.__dict__.copy()


_extract_page_udfs: dict[str, object] = {}


def _page_udf(extractor: str = "synthetic"):
    """Vectorized link+text extraction from the WARC html bytes — one
    struct-returning kernel so the (large) binary column crosses the
    Arrow boundary once per fetch, not once per derived column.
    ``extractor="html"`` selects the real-HTML kernel (tag-aware text,
    ``<base>``-aware relative-href resolution against the page url)."""
    if extractor not in _extract_page_udfs:
        from ..sources.pages import extract_page_html_kernel, extract_page_kernel

        kernel = (
            extract_page_html_kernel
            if extractor == "html"
            else (lambda html, url: extract_page_kernel(html))
        )
        _extract_page_udfs[extractor] = F.pandas_udf(
            kernel, "links array<string>, text string"
        )
    return _extract_page_udfs[extractor]


class FrontierEngine:
    """Driver-side loop over distributed batches; all heavy ops are
    DataFrame transformations, the loop itself only sequences batches and
    commits snapshots."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        store: SnapStore,
        robots: DataFrame | None = None,
        budgets: DataFrame | None = None,
        config: FrontierConfig | None = None,
        pages_prepared: bool = False,
    ):
        self.spark = spark
        self.store = store
        self.robots = robots
        self.budgets = budgets
        self.cfg = config or FrontierConfig()
        # The fetch-join layout: partition AND sort the corpus by url ONCE
        # (on a real deployment this is the Iceberg table's bucket + sort
        # order). Every batch's fetch join then only shuffles the schedule
        # side; the pages side is a cached, pre-sorted exchange-free scan.
        # ``pages_prepared=True`` says the caller already holds pages in
        # exactly that cached layout (several engines sharing one corpus).
        if pages_prepared:
            self.pages = pages
        else:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            self.pages = (
                pages.select("url", "html")
                .repartition(n_part, "url")
                .sortWithinPartitions("url")
                .persist()
            )
        # The engine keeps no membership filter: dedup is the exact
        # anti-join against the seen log. ``bloom`` stays only because the
        # benchmark's crawl workload wraps ``bloom.merge_blob_map``; drop it
        # once a benchmark change stops referencing it.
        self.bloom = BloomSeenSet()

    def _with_host(self, df: DataFrame) -> DataFrame:
        return df.withColumn("host", url_host(F.col("url")))

    def run(self, seeds: DataFrame, resume: bool = False) -> list[dict]:
        """Run the crawl (optionally resuming from the last committed
        snapshot). Returns the list of batch manifests. A resume reads only
        the last frontier table and the seen log; other batch dirs and
        manifest config keys (e.g. filter state from older stores) are
        ignored."""
        cfg = self.cfg
        last = self.store.latest() if resume else None
        if last is not None:
            start = last + 1
            frontier = self.store.read_df(self.spark, last, "frontier")
            if seeds is not None:
                # continuous re-seeding: inject fresh seeds into the
                # restored frontier, minus everything already crawled —
                # with expire_urls() this is the recrawl entry point
                # (expired urls are absent from the seen log, so they
                # pass the anti-join and get scheduled again)
                inj = (
                    self._with_host(seeds.select("url", "priority"))
                    .join(
                        self.store.read_seen_urls(self.spark, last),
                        "url",
                        "left_anti",
                    )
                )
                frontier = (
                    frontier.unionByName(inj)
                    .groupBy("url", "host")
                    .agg(F.max("priority").alias("priority"))
                )
        else:
            start = 0
            frontier = (
                self._with_host(seeds.select("url", "priority"))
                .groupBy("url", "host")
                .agg(F.max("priority").alias("priority"))
            )

        manifests: list[dict] = []
        for batch in range(start, cfg.max_batches):
            manifest = self._run_batch(batch, frontier)
            if manifest is None:
                break
            manifests.append(manifest)
            # read the checkpoint back for the next iteration: truncates
            # the logical plan (no lineage growth across batches) and is
            # exactly what exact-resume does.
            frontier = self.store.read_df(self.spark, batch, "frontier")
        return manifests

    def expire_urls(self, urls: DataFrame) -> None:
        """Recrawl entry point (E5): drop urls from the seen log so a later
        ``run(seeds, resume=True)`` re-seeding them crawls them again."""
        self.store.expire_seen(self.spark, urls)

    def _run_batch(
        self,
        batch: int,
        frontier: DataFrame,
    ) -> dict | None:
        cfg = self.cfg
        t0 = time.time()
        phases: dict[str, float] = {}

        def _mark(name: str, since: list[float]) -> None:
            now = time.time()
            phases[name] = round(now - since[0], 3)
            since[0] = now

        _t = [t0]

        # 1-3. robots flag + politeness rank as columns, one persisted pass.
        # ``gated`` feeds: scheduled cut, deferred set, blocked set, and the
        # robots metric — computed once, consumed from memory. The metric is
        # observed inside the cached plan, so it is filled by the scheduled
        # write that materializes ``gated``.
        blocked_obs = Observation(f"blocked_{batch}")
        gated = (
            flag_politeness(
                flag_robots(frontier, self.robots),
                self.budgets,
                default_budget=cfg.default_budget,
                presort=[F.desc("robots_allowed")],
            )
            .observe(
                blocked_obs,
                F.sum(F.when(F.col("robots_allowed"), 0).otherwise(1)).alias("n"),
            )
            .persist()
        )
        is_sched = F.col("robots_allowed") & F.col("kept")

        # salted fetch-order partitioning (the executor-side hot path).
        # Crawl order is data: (batch, priority desc, url) is a total order —
        # no global rank window (a single-partition serialization point).
        sched_plan = salted_priority_order(
            gated.filter(is_sched).select("url", "host", "priority"),
            n_salts=cfg.n_salts,
        ).withColumn("batch", F.lit(batch))

        # 4. fetch simulation + page processing. LEFT join so missing pages
        # are kept; the pages side is the pre-partitioned+sorted cache, so
        # only the schedule side shuffles. Each fetched page does the real
        # pipeline work: link extraction + text extraction + payload digest.
        fetched = (
            sched_plan.join(self.pages, "url", "left")
            .withColumn(
                "status",
                F.when(F.col("html").isNotNull(), "found").otherwise("missing"),
            )
            .withColumn("_page", _page_udf(cfg.extractor)(F.col("html"), F.col("url")))
            .withColumn(
                "links",
                F.when(
                    F.col("html").isNotNull(), F.col("_page.links")
                ).otherwise(F.array().cast("array<string>")),
            )
            .withColumn(
                "text_extracted",
                F.when(F.col("html").isNotNull(), F.col("_page.text")),
            )
            .withColumn(
                "digest",
                F.when(
                    F.col("html").isNotNull(),
                    F.concat(F.lit("sha1:"), F.sha1(F.col("html"))),
                ),
            )
            .drop("html", "_page")
            .persist()
        )

        # metrics ride the write job via df.observe (CollectMetrics in the
        # same plan — no separate agg job per batch; VERDICT r1 #8).
        sched_obs = Observation(f"sched_{batch}")
        sched_out = fetched.select(
            "url", "host", "priority", "batch", "salt",
            "status", F.size("links").alias("n_links"),
            "text_extracted", "digest",
        ).observe(
            sched_obs,
            F.sum(F.when(F.col("status") == "found", 1).otherwise(0)).alias("found"),
            F.sum(F.when(F.col("status") == "missing", 1).otherwise(0)).alias("missing"),
            F.sum("n_links").alias("links_extracted"),
        )
        sched_info = self.store.write_df(sched_out, batch, "scheduled")
        _mark("write_scheduled", _t)
        if sched_info["rows"] == 0:
            gated.unpersist()
            fetched.unpersist()
            return None
        status_row = sched_obs.get

        # 5. next frontier = deferred ∪ new links, max-merged, minus seen.
        deferred = gated.filter(F.col("robots_allowed") & ~F.col("kept")).select(
            "url", "host", "priority"
        )
        new_links = (
            fetched.select(
                F.col("priority").alias("_pp"), F.explode("links").alias("url")
            )
            .withColumn("priority", F.col("_pp") * cfg.decay)
            .filter(F.col("priority") >= cfg.min_priority)
            .drop("_pp")
        )
        if cfg.normalize_links:
            from ..kernels.urlnorm import normalize_url_series

            norm_udf = F.pandas_udf(normalize_url_series, "string")
            new_links = new_links.withColumn("url", norm_udf("url")).filter(
                F.col("url").isNotNull()
            )
        new_links = self._with_host(new_links).select("url", "host", "priority")
        merged_cands = (
            deferred.unionByName(new_links)
            .groupBy("url", "host")
            .agg(F.max("priority").alias("priority"))
        )
        # seen = everything ever scheduled (all batches ≤ this one) plus
        # this batch's robots-blocked urls. read_seen_urls uses the latest
        # compacted prefix + deltas, so the per-batch read opens
        # O(compact interval) dirs, not O(#batches).
        seen = self.store.read_seen_urls(self.spark, batch)
        if self.robots is not None:
            seen = seen.unionByName(
                gated.filter(~F.col("robots_allowed")).select("url")
            )
        next_frontier = merged_cands.join(seen, "url", "left_anti")
        frontier_info = self.store.write_df(next_frontier, batch, "frontier")
        _mark("write_frontier", _t)

        metrics = {
            "batch": batch,
            "scheduled": sched_info["rows"],
            "found": int(status_row["found"] or 0),
            "missing": int(status_row["missing"] or 0),
            "links_extracted": int(status_row["links_extracted"] or 0),
            "robots_blocked": int(blocked_obs.get["n"] or 0),
            "frontier_after": frontier_info["rows"],
            "wall_sec": round(time.time() - t0, 3),
            "phases": phases,
        }
        metrics["urls_per_sec"] = (
            round(metrics["scheduled"] / metrics["wall_sec"], 1)
            if metrics["wall_sec"]
            else None
        )
        gated.unpersist()
        fetched.unpersist()
        self.store.commit(
            batch,
            {"scheduled": sched_info, "frontier": frontier_info},
            metrics,
            self.cfg.asdict(),
        )
        if cfg.seen_compact_every and (batch + 1) % cfg.seen_compact_every == 0:
            self.store.compact_seen(self.spark, batch)
        return self.store.manifest(batch)
