"""The frontier loop (SURVEY.md §2.B E9-E11): BFS-ish batched crawl with
fetch simulation, URL-seen dedup, robots gating, politeness budgets, and
per-batch snapshot checkpointing.

Batch semantics (the contract the pure-Python oracle simulator in
tests/oracle_sim.py replicates exactly):

1. candidates   = the frontier (the frontier invariant: every frontier
                  table is already deduplicated against the seen set as of
                  its emit batch — dedup happens ONCE, at emit, step 5)
2. robots gate  : disallowed urls are *dropped permanently* (logged as the
                  batch's ``blocked`` table, which the seen log includes;
                  never scheduled)
3. politeness   : per host keep top ``budget`` by (priority desc, url);
                  the rest *stay in the frontier* for the next batch
4. scheduled    : fetched (simulated: looked up in the pages table — the
                  reference's from_response hook, warc/warc.py:215-242,
                  with the network replaced by the deterministic pages
                  corpus); links + text extracted from html in the same
                  select (synthetic extractor: JVM regexp built-ins, no
                  Python node in the batch; html: one Arrow UDF)
5. next frontier: politeness-deferred ∪ extracted links (priority =
                  parent*decay, max-merged per url), minus seen — one
                  exact left_anti join against the seen log (every url
                  ever scheduled or robots-blocked, this batch included)
6. checkpoint   : scheduled/frontier written, manifest committed

Physical design for scale:
- the pages corpus is hash-partitioned AND sorted by url and cached for
  the length of ``run()`` (the Iceberg bucket/sort-order story), and the
  fetch join carries a ``merge`` hint on the pages side: the sort-merge
  join exchanges and sorts only the (budget-bounded) schedule side and the
  corpus never moves, whatever its size. Without the hint a corpus under
  ``autoBroadcastJoinThreshold`` was collected and broadcast again in
  every batch;
- the fetch join's url exchange is the batch's only schedule-side
  shuffle. Every url hashes on its own, so a hot host spreads over every
  fetch task; the one host-keyed exchange left is the politeness
  window's, which AQE's skew-join splitting does not reach;
- robots flag + politeness rank are computed as *columns* on persisted
  frames, so allowed/blocked/scheduled/deferred all come from one pass —
  no anti-joins, no plan re-execution;
- membership is the seen log itself (the scheduled and blocked tables,
  LSM-compacted every ``seen_compact_every`` batches): emit-side dedup is
  a single set join of the candidates against it. While the log is
  broadcast-sized the join scans it without a shuffle; above that it
  shuffles the seen log like any anti-join. No filter state is built, merged, broadcast or
  checkpointed per batch;
- checkpoint read-backs (the next batch's frontier, the seen log) pass the
  schema the engine wrote, so opening them launches no Spark job;
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
from types import SimpleNamespace
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.snapstore import SnapStore
from ..sources.pages import extract_page_col
from .politeness import flag_politeness
from .robots import flag_robots, url_host

# the frontier table as the engine writes it; read back with this schema,
# opening it launches no schema-inference job
FRONTIER_SCHEMA = "url string, host string, priority double"


@dataclass
class FrontierConfig:
    default_budget: int = 4
    decay: float = 0.8
    max_batches: int = 20
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


class FrontierEngine:
    """Driver-side loop over distributed batches; all heavy ops are
    DataFrame transformations, the loop itself only sequences batches and
    commits snapshots.

    ``pages_prepared=True`` takes ``pages`` as given: the caller must hold
    them hash-partitioned by url at ``spark.sql.shuffle.partitions`` (a
    cached ``repartition(n, "url")``, or a table bucketed by url into that
    many buckets). Any other layout still joins correctly, but the merge
    join then shuffles the corpus in every batch."""

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
        # built here, so an unknown extractor fails before any batch runs
        self._page = extract_page_col(
            F.col("html"), "record", self.cfg.extractor, url=F.col("url")
        )
        # The fetch-join layout: partition AND sort the corpus by url ONCE
        # (on a real deployment this is the Iceberg table's bucket + sort
        # order). Every batch's fetch join then only shuffles the schedule
        # side; the pages side is a cached, pre-sorted exchange-free scan.
        # ``pages_prepared=True`` says the caller already holds pages in
        # exactly that cached layout (several engines sharing one corpus)
        # and keeps owning that cache; the engine's own copy is cached only
        # while ``run()`` runs.
        self._owns_pages = not pages_prepared
        if pages_prepared:
            self.pages = pages
        else:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            self.pages = (
                pages.select("url", "html")
                .repartition(n_part, "url")
                .sortWithinPartitions("url")
            )
        # The engine keeps no membership filter and never calls this: dedup
        # is the exact anti-join against the seen log. Like the retired
        # ``FrontierConfig`` InitVars, the placeholder stays only because
        # the benchmark's crawl workload reads and rebinds
        # ``bloom.merge_blob_map``; drop both once a benchmark change stops.
        self.bloom = SimpleNamespace(merge_blob_map=None)

    def _with_host(self, df: DataFrame) -> DataFrame:
        return df.withColumn("host", url_host(F.col("url")))

    def run(self, seeds: DataFrame, resume: bool = False) -> list[dict]:
        """Run the crawl (optionally resuming from the last committed
        snapshot). Returns the list of batch manifests. A resume reads only
        the last frontier table and the seen log; other batch dirs and
        manifest config keys (e.g. filter state from older stores) are
        ignored. A fresh run (``resume=False``) refuses a store that already
        holds a committed crawl: its batch dirs would enter the new crawl's
        seen log. The engine's own pages cache is released when the run
        returns or raises."""
        last = self.store.latest()
        if not resume and last is not None:
            raise ValueError(
                f"{self.store.root} already holds a committed crawl "
                f"(snapshot {last}): continue it with "
                "resume=True (--resume), or start a fresh crawl in an empty "
                "directory"
            )
        if self._owns_pages:
            self.pages.persist()
        try:
            return self._run(seeds, resume)
        finally:
            if self._owns_pages:
                self.pages.unpersist()

    def _run(self, seeds: DataFrame | None, resume: bool) -> list[dict]:
        cfg = self.cfg
        last = self.store.latest() if resume else None
        if last is not None:
            start = last + 1
            frontier = self.store.read_df(
                self.spark, last, "frontier", FRONTIER_SCHEMA
            )
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
            frontier = self.store.read_df(
                self.spark, batch, "frontier", FRONTIER_SCHEMA
            )
        return manifests

    def expire_urls(self, urls: DataFrame) -> None:
        """Recrawl entry point (E5): drop urls from the seen log so a later
        ``run(seeds, resume=True)`` re-seeding them crawls them again."""
        self.store.expire_seen(self.spark, urls)

    def _fetch(self, sched: DataFrame) -> DataFrame:
        """Step 4: LEFT sort-merge join to the pre-partitioned+sorted pages
        cache (only the schedule side shuffles; missing pages kept), then
        one select: status, links + text, payload digest. The synthetic
        extractor is JVM built-ins, so the fetch runs no Python; the html
        extractor's struct UDF sends html across Arrow once."""
        found = F.col("html").isNotNull()
        return sched.join(self.pages.hint("merge"), "url", "left").select(
            *sched.columns,
            F.when(found, "found").otherwise("missing").alias("status"),
            F.when(found, self._page["links"])
            .otherwise(F.array().cast("array<string>"))
            .alias("links"),
            self._page["text"].alias("text_extracted"),
            F.when(found, F.concat(F.lit("sha1:"), F.sha1(F.col("html"))))
            .alias("digest"),
        )

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

        # Crawl order is data: (batch, priority desc, url) is a total order —
        # no global rank window (a single-partition serialization point) and
        # no fetch-order exchange: the fetch join's url exchange places rows.
        sched = (
            gated.filter(is_sched)
            .select("url", "host", "priority")
            .withColumn("batch", F.lit(batch))
        )

        # 4. fetch simulation + page processing
        fetched = self._fetch(sched).persist()

        # metrics ride the write job via df.observe (CollectMetrics in the
        # same plan — no separate agg job per batch; VERDICT r1 #8).
        sched_obs = Observation(f"sched_{batch}")
        sched_out = fetched.select(
            "url", "host", "priority", "batch",
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
        n_blocked = int(blocked_obs.get["n"] or 0)
        tables = {"scheduled": sched_info}
        if n_blocked:
            # retire blocked urls for good: the seen log reads this table
            tables["blocked"] = self.store.write_df(
                gated.filter(~F.col("robots_allowed")).select("url"),
                batch,
                "blocked",
            )

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
        # seen = everything ever scheduled or robots-blocked (all batches
        # ≤ this one). read_seen_urls uses the latest compacted prefix +
        # deltas, so the per-batch read opens O(compact interval) dirs, not
        # O(#batches).
        seen = self.store.read_seen_urls(
            self.spark, batch, tables.get("blocked", {}).get("path")
        )
        next_frontier = merged_cands.join(seen, "url", "left_anti")
        tables["frontier"] = self.store.write_df(next_frontier, batch, "frontier")
        _mark("write_frontier", _t)

        metrics = {
            "batch": batch,
            "scheduled": sched_info["rows"],
            "found": int(status_row["found"] or 0),
            "missing": int(status_row["missing"] or 0),
            "links_extracted": int(status_row["links_extracted"] or 0),
            "robots_blocked": n_blocked,
            "frontier_after": tables["frontier"]["rows"],
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
        self.store.commit(batch, tables, metrics, self.cfg.asdict())
        if cfg.seen_compact_every and (batch + 1) % cfg.seen_compact_every == 0:
            self.store.compact_seen(self.spark, batch)
        return self.store.manifest(batch)
