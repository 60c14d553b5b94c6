"""Frontier engine vs the single-process oracle simulator: crawl ordering,
URL-seen set, robots/politeness semantics, checkpoint/exact-resume."""

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle_sim import simulate_crawl
from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
from warc_spark.operators.robots import ROBOTS_SCHEMA
from warc_spark.plans.snapstore import SnapStore
from warc_spark.sources.pages import gen_pages_pdf, synth_pages, synth_seeds

N_PAGES = 400
N_HOSTS = 8
SEED = 42


@pytest.fixture(scope="module")
def pages_pdf():
    return gen_pages_pdf(np.arange(N_PAGES, dtype=np.uint64), N_PAGES, N_HOSTS, SEED)


@pytest.fixture(scope="module")
def pages_df(spark):
    return synth_pages(spark, N_PAGES, seed=SEED, n_hosts=N_HOSTS)


@pytest.fixture(scope="module")
def seeds_df(spark):
    return synth_seeds(spark, N_PAGES, n_seeds=12, seed=SEED, n_hosts=N_HOSTS)


def seeds_list(seeds_df):
    return [(r.url, r.priority) for r in seeds_df.collect()]


ROBOTS_RULES = {
    "host0.example.org": ["/page/1"],   # blocks /page/1*
    "host2.example.org": ["/"],         # blocks everything
}
BUDGETS = {"host0.example.org": 2, "host1.example.org": 3}


def make_robots_df(spark):
    rows = [(h, p, 1.0) for h, p in ROBOTS_RULES.items()]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def make_budgets_df(spark):
    return spark.createDataFrame(
        [(h, k) for h, k in BUDGETS.items()], "host string, max_fetches_per_batch int"
    )


def collect_batches(store, spark, n):
    """Crawl order is data: (priority desc, url) within each batch."""
    out = []
    for k in range(n):
        rows = (
            store.read_df(spark, k, "scheduled")
            .select("url", "priority")
            .orderBy(F.desc("priority"), "url")
            .collect()
        )
        out.append([(r.url, r.priority) for r in rows])
    return out


def read_scheduled(store, spark, upto):
    """Every batch's ``scheduled`` table for batches 0..upto, as one frame."""
    frames = [store.read_df(spark, k, "scheduled") for k in range(upto + 1)]
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


def write_stray_filter_state(spark, path):
    """A retired membership-filter dir as older stores hold it: one
    (bucket, blob, n_items) row per bucket, with all-zero blobs — a filter
    that knows none of the crawled urls."""
    spark.createDataFrame(
        [(b, bytes(512), 1) for b in range(8)],
        "bucket int, blob binary, n_items bigint",
    ).write.parquet(path)


def run_engine(spark, pages_df, seeds_df, tmp_path, cfg=None, robots=None, budgets=None,
               resume=False, store=None):
    store = store or SnapStore(str(tmp_path / "snap"))
    eng = FrontierEngine(
        spark, pages_df, store,
        robots=robots, budgets=budgets,
        config=cfg or FrontierConfig(max_batches=5, default_budget=4),
    )
    manifests = eng.run(seeds_df, resume=resume)
    return store, manifests


class TestCrawlOracle:
    def test_matches_simulator_plain(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        cfg = FrontierConfig(max_batches=4, default_budget=4)
        store, manifests = run_engine(spark, pages_df, seeds_df, tmp_path, cfg)
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df), default_budget=4, max_batches=4
        )
        assert len(manifests) == len(sim.batches)
        got = collect_batches(store, spark, len(manifests))
        for k, (g, s) in enumerate(zip(got, sim.batches)):
            assert g == s, f"batch {k} ordering mismatch"
        # final URL-seen set matches exactly
        seen = {
            r.url
            for r in read_scheduled(store, spark, len(manifests) - 1).collect()
        }
        assert seen == sim.seen

    def test_matches_simulator_with_robots_and_budgets(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path
    ):
        cfg = FrontierConfig(max_batches=4, default_budget=3)
        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path, cfg,
            robots=make_robots_df(spark), budgets=make_budgets_df(spark),
        )
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df),
            robots=ROBOTS_RULES, budgets=BUDGETS,
            default_budget=3, max_batches=4,
        )
        got = collect_batches(store, spark, len(manifests))
        assert len(got) == len(sim.batches)
        for k, (g, s) in enumerate(zip(got, sim.batches)):
            assert g == s, f"batch {k} ordering mismatch"
        # robots-blocked hosts never scheduled
        all_sched = read_scheduled(store, spark, len(manifests) - 1)
        assert all_sched.filter(F.col("host") == "host2.example.org").count() == 0
        # per-batch politeness budget respected
        per_host = (
            all_sched.groupBy("batch", "host").count().filter(F.col("count") > 3)
        )
        for r in per_host.collect():
            assert BUDGETS.get(r.host, 3) >= r["count"]
        # blocked urls are retired for good, so the blocked counter and the
        # frontier size match the oracle in every batch
        assert len(manifests) == len(sim.metrics)
        for m, sm in zip(manifests, sim.metrics):
            for key in ("robots_blocked", "frontier_after"):
                assert m["metrics"][key] == sm[key], (key, m["metrics"], sm)

    def test_matches_simulator_with_wildcard_robots(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path
    ):
        """Allow + wildcard + $-anchor robots rules (v2 gate) vs the
        pure-Python longest-match twin inside the simulator."""
        from warc_spark.operators.robots import robots_rules_from_bodies

        body0 = "User-agent: *\nDisallow: /page/*\nAllow: /page/1\n"
        body3 = "User-agent: *\nDisallow: /*9$\n"
        robots_df = robots_rules_from_bodies(
            spark.createDataFrame(
                [("host0.example.org", body0), ("host3.example.org", body3)],
                "host string, body string",
            )
        )
        rules = {
            "host0.example.org": {"allow": ["/page/1"], "disallow": ["/page/*"]},
            "host3.example.org": {"disallow": ["/*9$"]},
        }
        cfg = FrontierConfig(max_batches=4, default_budget=4)
        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path, cfg, robots=robots_df
        )
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df), robots=rules,
            default_budget=4, max_batches=4,
        )
        got = collect_batches(store, spark, len(manifests))
        assert len(got) == len(sim.batches)
        for k, (g, s) in enumerate(zip(got, sim.batches)):
            assert g == s, f"batch {k} ordering mismatch"

    def test_metrics_match_simulator(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        cfg = FrontierConfig(max_batches=3, default_budget=4)
        store, manifests = run_engine(spark, pages_df, seeds_df, tmp_path, cfg)
        sim = simulate_crawl(pages_pdf, seeds_list(seeds_df), default_budget=4, max_batches=3)
        for m, sm in zip(manifests, sim.metrics):
            for key in ("scheduled", "found", "missing", "frontier_after"):
                assert m["metrics"][key] == sm[key], (key, m["metrics"], sm)


class TestResume:
    def test_exact_resume(self, spark, pages_df, pages_pdf, seeds_df, tmp_path):
        """Run 2 batches, stop, resume for 2 more — final state must equal an
        uninterrupted 4-batch run (exact-resume, north_rule)."""
        cfg2 = FrontierConfig(max_batches=2, default_budget=4)
        store, m1 = run_engine(spark, pages_df, seeds_df, tmp_path / "a", cfg2)
        assert store.latest() == len(m1) - 1
        cfg4 = FrontierConfig(max_batches=4, default_budget=4)
        eng = FrontierEngine(spark, pages_df, store, config=cfg4)
        m2 = eng.run(seeds_df, resume=True)
        assert [m["snapshot"] for m in m2] == [2, 3]

        ref_store, _ = run_engine(spark, pages_df, seeds_df, tmp_path / "b", cfg4)
        got = collect_batches(store, spark, 4)
        ref = collect_batches(ref_store, spark, 4)
        assert got == ref
        seen_a = {r.url for r in read_scheduled(store, spark, 3).collect()}
        seen_b = {r.url for r in read_scheduled(ref_store, spark, 3).collect()}
        assert seen_a == seen_b

    def test_fresh_run_refuses_committed_store(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        """A fresh run (``resume=False``) into a store that holds a
        committed crawl fails before it writes anything. Running on would
        mix the old crawl into the new one's seen log: with the seen log
        compacted every 4 batches, the new batch 3 dedups against the old
        batch 3's compact table, then rewrites that table while its own
        plan still reads it."""
        import os

        cfg = FrontierConfig(max_batches=5, default_budget=4, seen_compact_every=4)
        store, manifests = run_engine(spark, pages_df, seeds_df, tmp_path, cfg)
        assert len(manifests) == 5

        def listing():
            return sorted(
                (os.path.relpath(d, store.root), sorted(fs))
                for d, _, fs in os.walk(store.root)
            )

        before = listing()
        other = synth_seeds(spark, N_PAGES, n_seeds=12, seed=SEED + 1, n_hosts=N_HOSTS)
        eng = FrontierEngine(spark, pages_df, store, config=cfg)
        with pytest.raises(ValueError, match=r"resume=True.*empty directory"):
            eng.run(other)
        assert listing() == before
        assert store.latest() == 4

    def test_resume_without_crawl_or_seeds_refused(self, spark, pages_df, tmp_path):
        """``run(None, resume=True)`` on a store with no committed crawl has
        nothing to continue and no seeds to start from: it raises before
        it caches the pages or writes anything (it used to persist the
        pages and then fail on ``None.select``)."""
        import os

        store = SnapStore(str(tmp_path / "empty"))
        eng = FrontierEngine(spark, pages_df, store, config=FrontierConfig())
        with pytest.raises(ValueError, match="nothing to resume"):
            eng.run(None, resume=True)
        assert not eng.pages.is_cached
        assert store.latest() is None
        assert not [fs for _, _, fs in os.walk(store.root) if fs]

    def test_manifest_lineage(self, spark, pages_df, seeds_df, tmp_path):
        # the retired filter geometry is still accepted, and never stored
        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path,
            FrontierConfig(max_batches=2, default_budget=4, bloom_buckets=64,
                           bloom_bits=1 << 21, rescue_mode="auto"),
        )
        for m in manifests:
            sched = m["tables"]["scheduled"]
            assert sched["rows"] == sum(p["rows"] for p in sched["partitions"])
            assert m["metrics"]["urls_per_sec"] is not None
            assert set(m["tables"]) == {"scheduled", "frontier"}
            assert not {"bloom_buckets", "bloom_bits", "rescue_mode"} & set(m["config"])

    def test_legacy_store_resume(
        self, spark, pages_df, pages_pdf, seeds_df, tmp_path
    ):
        """A store checkpointed with the retired membership filters (filter
        keys in its last manifest, stray ``bloom``/``bloom_state``/
        ``cuckoo_state`` dirs) resumes from the frontier table and the seen
        log alone — same batches as the uninterrupted run and the oracle.
        The stray dirs hold a filter that knows none of the crawled urls, so
        a resume that consulted them would re-crawl seen urls."""
        import json
        import os

        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "legacy",
            FrontierConfig(max_batches=2, default_budget=4),
        )
        for k in (0, 1):
            d = store.batch_dir(k)
            write_stray_filter_state(spark, os.path.join(d, "bloom"))
            write_stray_filter_state(spark, os.path.join(d, "cuckoo_state"))
            os.makedirs(os.path.join(d, "bloom_state"))
        with open(store._snap_path(1)) as f:
            m = json.load(f)
        m["config"].update(
            use_bloom=True, seen_backend="cuckoo", bloom_bucket_key="url",
            cuckoo_hash_scheme=1, distributed_probe=True, bloom_buckets=8,
            bloom_bits=1 << 12, rescue_mode="broadcast",
            rescue_broadcast_rows=200_000,
        )
        m["tables"]["cuckoo_state"] = {"path": "", "rows": 8, "partitions": []}
        with open(store._snap_path(1), "w") as f:
            json.dump(m, f)

        eng = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=4, default_budget=4),
        )
        assert [m["snapshot"] for m in eng.run(seeds_df, resume=True)] == [2, 3]
        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "ref",
            FrontierConfig(max_batches=4, default_budget=4),
        )
        got = collect_batches(store, spark, 4)
        assert got == collect_batches(ref_store, spark, 4)
        sim = simulate_crawl(
            pages_pdf, seeds_list(seeds_df), default_budget=4, max_batches=4
        )
        assert got == sim.batches


    def test_uncommitted_blocked_ignored(self, spark, pages_df, seeds_df, tmp_path):
        """A ``blocked`` table left in an uncommitted batch dir by a crashed
        attempt is not part of the seen log: a resume that blocks nothing
        (no robots table, so it writes no ``blocked`` of its own) crawls
        exactly like the same resume of an unplanted copy of the store.
        The stray holds urls the resume schedules in batches 2 and 3, so a
        resume that read it would drop them from the frontier."""
        import os
        import shutil

        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "a",
            FrontierConfig(max_batches=2, default_budget=4),
        )
        shutil.copytree(store.root, str(tmp_path / "b"))
        cfg4 = FrontierConfig(max_batches=4, default_budget=4)
        FrontierEngine(spark, pages_df, store, config=cfg4).run(None, resume=True)
        want = collect_batches(store, spark, 4)
        stray = [(u,) for u, _ in want[2][:3] + want[3][:3]]
        planted = SnapStore(str(tmp_path / "b"))
        spark.createDataFrame(stray, "url string").write.parquet(
            os.path.join(planted.batch_dir(2), "blocked")
        )
        FrontierEngine(spark, pages_df, planted, config=cfg4).run(None, resume=True)
        assert collect_batches(planted, spark, 4) == want


class TestBloomPath:
    def test_bloom_equals_exact(self, spark, pages_df, seeds_df, tmp_path):
        """A config carrying the retired Bloom geometry and rescue mode
        (as older callers still pass it) must crawl batch-for-batch like the
        plain exact-anti-join config: the knobs are accepted and ignored."""
        cfg_b = FrontierConfig(max_batches=3, default_budget=4, bloom_buckets=8,
                               bloom_bits=1 << 12, rescue_mode="broadcast")
        cfg_e = FrontierConfig(max_batches=3, default_budget=4)
        store_b, mb = run_engine(spark, pages_df, seeds_df, tmp_path / "bloom", cfg_b)
        store_e, me = run_engine(spark, pages_df, seeds_df, tmp_path / "exact", cfg_e)
        assert len(mb) == len(me)
        assert collect_batches(store_b, spark, len(mb)) == collect_batches(
            store_e, spark, len(me)
        )
        assert [m["config"] for m in mb] == [m["config"] for m in me]


class TestDistributedProbe:
    """Resume across the retired membership layouts (Bloom, distributed
    probe, cuckoo): membership comes from the seen log alone, so no filter
    state is loaded, rebuilt or validated."""

    def test_resume_rebuilds_when_store_has_no_bloom(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        """A store with no filter dirs, resumed under a config that still
        carries the retired Bloom knobs, must not crash — seen
        membership is rebuilt from the scheduled tables and the crawl
        ordering is unchanged."""
        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "ref",
            FrontierConfig(max_batches=4, default_budget=4),
        )
        ref = collect_batches(ref_store, spark, 4)
        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "m",
            FrontierConfig(max_batches=2, default_budget=4),
        )
        eng = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=4, default_budget=4, bloom_buckets=8,
                                  bloom_bits=1 << 12, rescue_mode="auto"),
        )
        m2 = eng.run(seeds_df, resume=True)
        assert [m["snapshot"] for m in m2] == [2, 3]
        assert collect_batches(store, spark, 4) == ref

    def test_cuckoo_resume_legacy_scheme_rebuilds(
        self, spark, pages_df, seeds_df, tmp_path
    ):
        """A cuckoo-era checkpoint whose manifests name the cuckoo backend
        but lack the hash-scheme stamp must NOT load its stored cuckoo_state
        blobs (they would give silent false negatives). Simulated with garbage
        blobs listed in the manifest: a resume that loaded them would
        re-crawl seen urls."""
        import json
        import os

        ref_store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "ref",
            FrontierConfig(max_batches=4, default_budget=4),
        )
        ref = collect_batches(ref_store, spark, 4)
        store, _ = run_engine(
            spark, pages_df, seeds_df, tmp_path / "legacy",
            FrontierConfig(max_batches=2, default_budget=4),
        )
        state_dir = os.path.join(store.batch_dir(1), "cuckoo_state")
        write_stray_filter_state(spark, state_dir)
        for k in (0, 1):
            p = store._snap_path(k)
            with open(p) as f:
                m = json.load(f)
            m["config"].update(seen_backend="cuckoo", bloom_buckets=8)
            if k == 1:
                m["tables"]["cuckoo_state"] = {
                    "path": state_dir, "rows": 8, "partitions": []
                }
            with open(p, "w") as f:
                json.dump(m, f)
        eng = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=4, default_budget=4, bloom_buckets=8),
        )
        m2 = eng.run(seeds_df, resume=True)
        assert [m["snapshot"] for m in m2] == [2, 3]
        assert collect_batches(store, spark, 4) == ref


class TestFixedCost:
    """Per-batch fixed cost is counted in Spark jobs: each one is
    scheduling latency that does not shrink with cluster width. A batch
    runs the scheduled write (five jobs: the politeness exchange, the gate
    cache, the fetch join's schedule-side exchange, the fetched cache and
    the write) and the frontier write (three: the seen-log broadcast, the
    candidates' aggregation exchange and the write). The reads that open
    their inputs run none; there is no fetch-order exchange, and no
    membership-filter build, merge, probe or count."""

    MAX_JOBS_PER_BATCH = 8

    def test_jobs_per_batch(self, spark, pages_df, seeds_df, tmp_path):
        sc = spark.sparkContext
        group = f"frontier_fixed_cost_{id(tmp_path)}"

        class TaggingStore(SnapStore):
            """Tags every job from a batch's scheduled write (its first
            job) up to the next batch's with that batch's job group."""

            def write_df(self, df, batch, name):
                if name == "scheduled":
                    sc.setJobGroup(f"{group}_{batch}", "frontier batch")
                return super().write_df(df, batch, name)

        try:
            _, manifests = run_engine(
                spark, pages_df, seeds_df, tmp_path,
                FrontierConfig(max_batches=3, default_budget=4),
                store=TaggingStore(str(tmp_path / "snap")),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(manifests) == 3
        for m in manifests:
            assert not {"bloom", "bloom_state", "cuckoo_state"} & set(m["tables"])
        # batch 0 also pays one-off set-up (seed dedup, first reads), so the
        # guard reads the steady-state batches
        jobs = [
            len(sc.statusTracker().getJobIdsForGroup(f"{group}_{k}"))
            for k in (1, 2)
        ]
        assert 0 < max(jobs) <= self.MAX_JOBS_PER_BATCH, jobs


class TestPagesCache:
    """The engine caches its own url-partitioned copy of the corpus only
    while ``run()`` runs; a corpus the caller prepared stays the caller's."""

    def test_own_cache_released_on_return(self, spark, pages_df, seeds_df, tmp_path):
        from pyspark import StorageLevel

        eng = FrontierEngine(
            spark, pages_df, SnapStore(str(tmp_path / "snap")),
            config=FrontierConfig(max_batches=2, default_budget=4),
        )
        assert len(eng.run(seeds_df)) == 2
        assert eng.pages.storageLevel == StorageLevel.NONE

    def test_own_cache_released_on_raise(self, spark, pages_df, seeds_df, tmp_path):
        from pyspark import StorageLevel

        class FailingStore(SnapStore):
            def commit(self, batch, *args, **kwargs):
                if batch == 1:
                    raise RuntimeError("commit failed")
                return super().commit(batch, *args, **kwargs)

        eng = FrontierEngine(
            spark, pages_df, FailingStore(str(tmp_path / "snap")),
            config=FrontierConfig(max_batches=3, default_budget=4),
        )
        with pytest.raises(RuntimeError, match="commit failed"):
            eng.run(seeds_df)
        assert eng.pages.storageLevel == StorageLevel.NONE

    def test_prepared_cache_kept(self, spark, pages_df, seeds_df, tmp_path):
        from pyspark import StorageLevel

        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        pages = pages_df.select("url", "html").repartition(n_part, "url").persist()
        try:
            eng = FrontierEngine(
                spark, pages, SnapStore(str(tmp_path / "snap")),
                config=FrontierConfig(max_batches=2, default_budget=4),
                pages_prepared=True,
            )
            assert len(eng.run(seeds_df)) == 2
            assert pages.storageLevel != StorageLevel.NONE
        finally:
            pages.unpersist()


class TestSchemaKnownReads:
    """The per-batch read-backs (the frontier table, the seen log's compact
    prefix, scheduled deltas and blocked tables) pass the engine's schema,
    so opening them launches no Spark job; an inferred read does."""

    def _jobs_while(self, sc, group, build):
        sc.setJobGroup(group, "read-back")
        try:
            df = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, sc.statusTracker().getJobIdsForGroup(group)

    def test_reads_launch_no_job(self, spark, pages_df, seeds_df, tmp_path):
        from warc_spark.operators.frontier import FRONTIER_SCHEMA

        store, manifests = run_engine(
            spark, pages_df, seeds_df, tmp_path,
            FrontierConfig(max_batches=3, default_budget=3, seen_compact_every=2),
            robots=make_robots_df(spark),
        )
        assert len(manifests) == 3
        assert all("blocked" in m["tables"] for m in manifests)
        sc = spark.sparkContext
        group = f"schema_known_{id(tmp_path)}"
        (frontier, seen), jobs = self._jobs_while(
            sc, group,
            lambda: (
                store.read_df(spark, 2, "frontier", FRONTIER_SCHEMA),
                store.read_seen_urls(spark, 2),  # compact at 1 + deltas at 2
            ),
        )
        assert list(jobs) == []
        _, inferred = self._jobs_while(
            sc, group + "_inferred", lambda: store.read_df(spark, 2, "frontier")
        )
        assert len(inferred) > 0  # the tracker does see inference jobs
        assert frontier.count() == manifests[2]["metrics"]["frontier_after"]
        logged = read_scheduled(store, spark, 2).select("url").unionByName(
            spark.read.parquet(*(store.batch_dir(k) + "/blocked" for k in range(3)))
        )
        assert {r.url for r in seen.collect()} == {r.url for r in logged.collect()}


class TestSeenCompaction:
    def test_compaction_preserves_crawl(self, spark, pages_df, seeds_df, tmp_path):
        """LSM compaction of the seen-url log every 2 batches: identical
        crawl to the uncompacted run, and the compacted table at batch k
        holds exactly the urls scheduled in 0..k."""
        import os

        cfg_c = FrontierConfig(max_batches=4, default_budget=4, seen_compact_every=2)
        cfg_p = FrontierConfig(max_batches=4, default_budget=4, seen_compact_every=0)
        store_c, mc = run_engine(spark, pages_df, seeds_df, tmp_path / "c", cfg_c)
        store_p, mp = run_engine(spark, pages_df, seeds_df, tmp_path / "p", cfg_p)
        assert len(mc) == len(mp)
        assert collect_batches(store_c, spark, len(mc)) == collect_batches(
            store_p, spark, len(mp)
        )
        for k in (1, 3):
            d = os.path.join(store_c.batch_dir(k), "seen_compact")
            assert os.path.exists(os.path.join(d, "_SUCCESS"))
            compacted = {r.url for r in spark.read.parquet(d).collect()}
            scheduled = {
                r.url for r in read_scheduled(store_c, spark, k).collect()
            }
            assert compacted == scheduled
        # read_seen_urls equals the full scheduled set at every horizon
        for k in range(len(mc)):
            a = {r.url for r in store_c.read_seen_urls(spark, k).collect()}
            b = {r.url for r in read_scheduled(store_c, spark, k).collect()}
            assert a == b


class TestMissingFetch:
    """Fetch misses (urls absent from the pages corpus) — the left-join-null
    branch of the fetch path, including an ENTIRELY missing batch (all-null
    html through the struct-returning pandas UDF; ADVICE r1)."""

    def _absent_seeds(self, spark, n=6):
        rows = [
            (f"http://host0.example.org/nowhere/{i}", 1.0 - i * 0.01)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "url string, priority double")

    def test_all_missing_batch(self, spark, pages_df, tmp_path):
        store, manifests = run_engine(
            spark, pages_df, self._absent_seeds(spark), tmp_path,
            FrontierConfig(max_batches=3, default_budget=10),
        )
        # one batch: every url missing, no links, crawl ends
        assert len(manifests) == 1
        assert manifests[0]["metrics"]["missing"] == 6
        assert manifests[0]["metrics"]["found"] == 0
        assert manifests[0]["metrics"]["links_extracted"] == 0
        rows = store.read_df(spark, 0, "scheduled").collect()
        assert all(r.status == "missing" for r in rows)
        assert all(r.n_links == 0 for r in rows)
        assert all(r.text_extracted is None for r in rows)
        assert all(r.digest is None for r in rows)

    def test_mixed_missing_batch(self, spark, pages_df, seeds_df, tmp_path):
        mixed = seeds_df.unionByName(self._absent_seeds(spark))
        store, manifests = run_engine(
            spark, pages_df, mixed, tmp_path,
            FrontierConfig(max_batches=2, default_budget=30),
        )
        rows = store.read_df(spark, 0, "scheduled").collect()
        missing = [r for r in rows if r.status == "missing"]
        found = [r for r in rows if r.status == "found"]
        assert len(missing) == 6 and len(found) > 0
        assert all(r.text_extracted is None and r.n_links == 0 for r in missing)
        assert all(r.text_extracted is not None for r in found)


class TestRecrawl:
    """Expiry + re-seeding (E5 recrawl semantics): expired urls crawl
    again; non-expired seen urls stay deduplicated (the seen log is the
    only membership state, so expiring from it is the whole operation)."""

    def test_expired_urls_recrawl(self, spark, pages_df, seeds_df, tmp_path):
        store = SnapStore(str(tmp_path / "recrawl"))
        eng = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=2, default_budget=4),
        )
        eng.run(seeds_df)
        sched = [r.url for r in read_scheduled(store, spark, 1)
                 .orderBy("url").collect()]
        expired, kept_seen = set(sched[:3]), set(sched[3:5])
        eng.expire_urls(
            spark.createDataFrame([(u,) for u in sorted(expired)], "url string")
        )
        # the seen log no longer contains the expired urls
        seen_now = {r.url for r in store.read_seen_urls(spark, 1).collect()}
        assert not (expired & seen_now)
        assert kept_seen <= seen_now
        # resume with seeds = expired + still-seen urls
        eng2 = FrontierEngine(
            spark, pages_df, store,
            config=FrontierConfig(max_batches=3, default_budget=100),
        )
        reseed = spark.createDataFrame(
            [(u, 10.0) for u in sorted(expired | kept_seen)],
            "url string, priority double",
        )
        eng2.run(reseed, resume=True)
        batch2 = {r.url for r in store.read_df(spark, 2, "scheduled").collect()}
        assert expired <= batch2, "expired urls must be crawled again"
        assert not (kept_seen & batch2), "non-expired seen urls must stay deduped"


class TestLinkNormalization:
    """normalize_links=True canonicalizes href soup (case, default port,
    fragments) before frontier emission — aliases of one resource collapse
    to a single fetch; without it the aliases each get scheduled."""

    def _pages(self, spark):
        import datetime as dt

        def page(url, hrefs):
            body = "<p>t</p>" + "".join(f'<a href="{h}">x</a>' for h in hrefs)
            html = ("W\r\n\r\nH\r\n\r\n" + body).encode()
            return (url, dt.datetime(2026, 8, 1), html, "t", "en")

        return spark.createDataFrame(
            [
                page("http://h0.example.org/a",
                     ["HTTP://H0.example.org:80/b#frag",
                      "http://h0.example.org/b",
                      "http://h0.example.org./b"]),
                page("http://h0.example.org/b", []),
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    def _run(self, spark, tmp_path, normalize, sub):
        store = SnapStore(str(tmp_path / sub))
        eng = FrontierEngine(
            spark, self._pages(spark), store,
            config=FrontierConfig(max_batches=2, default_budget=10,
                                  normalize_links=normalize),
        )
        seeds = spark.createDataFrame(
            [("http://h0.example.org/a", 1.0)], "url string, priority double"
        )
        eng.run(seeds)
        return store.read_df(spark, 1, "scheduled").collect()

    def test_aliases_collapse(self, spark, tmp_path):
        rows = self._run(spark, tmp_path, True, "norm")
        assert len(rows) == 1
        assert rows[0].url == "http://h0.example.org/b"
        assert rows[0].status == "found"

    def test_without_normalization_aliases_fan_out(self, spark, tmp_path):
        rows = self._run(spark, tmp_path, False, "raw")
        urls = sorted(r.url for r in rows)
        assert len(urls) == 3  # canonical + 2 aliases all scheduled
        statuses = {r.url: r.status for r in rows}
        assert statuses["http://h0.example.org/b"] == "found"
        assert statuses["HTTP://H0.example.org:80/b#frag"] == "missing"
