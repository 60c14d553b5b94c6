"""Benchmark harness: headline queries + frontier throughput at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Self-adjudicating methodology (VERDICT r4 #1): the sandbox host's delivered
cpu/bandwidth drifts several-fold between epochs, and a single-shot leg with
one pre-Spark calibration cannot distinguish code regressions from drift
(the r3->r4 frontier delta was unadjudicable for exactly that reason). So
every leg now runs BENCH_ROUNDS (default 3) interleaved rounds in ONE JVM,
medians are reported, and a short cpu+bw hardware burn runs immediately
before the query block, between it and the frontier leg, and after the
frontier leg — inside every round. A reader of BENCH_r{N}.json can therefore
normalize each leg by the burns that bracket it, from the artifact alone.

The north-rule scaling evidence (local[8] vs local[32] as the sandbox proxy
for N vs 4N executors) is produced by bench_scaling.py, which writes
BENCH/BASELINE.md; this file is the per-round driver hook.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "window_top3_customers_per_nation",
    "events_sessionized",
    "doc_full_dedup_survivors",  # r5: absorbed doc_exact_dedup_survivors
    "doc_minhash_near_dups",
    "doc_quality_features",
    "emb_cosine_top10",
    "emb_ann_top10",
    "warc_parse_agg",
]

FRONTIER_PAGES = 1_500_000   # identical leg parameters to BENCH_r03/r04
FRONTIER_BATCHES = 3


def _median(xs: list) -> float:
    return statistics.median(xs)


def burn(cpus: int) -> dict:
    """One quick cpu + bandwidth hardware burn at ``cpus`` busy processes
    (single repeat — the bracketing structure, not repeat count, carries the
    signal). Same kernels as bench_scaling.py's calibration."""
    from bench_scaling import _bw_burn, _cpu_burn, calibrate

    return {
        "cpu_n": round(calibrate(_cpu_burn, cpus, [40_000_000], repeats=1), 2),
        "bw_n": round(calibrate(_bw_burn, cpus, [0], repeats=1), 2),
    }


def calibrate_epoch(cpus: int) -> dict:
    """Full pre-Spark calibration: delivered cpu/bandwidth at 1 and at
    ``cpus`` busy processes (2 repeats, best-of). Kept for cross-round
    comparability with BENCH_r02..r04's `calibration` block; the per-leg
    adjudication now rests on the in-round adjacent burns."""
    from bench_scaling import _bw_burn, _cpu_burn, calibrate

    return {
        "cpu_tasks_per_sec_1": round(calibrate(_cpu_burn, 1, [40_000_000]), 2),
        "cpu_tasks_per_sec_n": round(calibrate(_cpu_burn, cpus, [40_000_000]), 2),
        "bw_tasks_per_sec_1": round(calibrate(_bw_burn, 1, [0]), 2),
        "bw_tasks_per_sec_n": round(calibrate(_bw_burn, cpus, [0]), 2),
        "n": cpus,
    }


def build_frontier_corpus(spark):
    """The shared frontier corpus + seeds, cached in the fetch-join layout
    (url-partitioned + sorted) OUTSIDE every timed window — the metric is
    the frontier loop, not synthetic-data synthesis."""
    from warc_spark.sources.pages import synth_pages, synth_seeds

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pages = (
        synth_pages(spark, FRONTIER_PAGES, seed=42)
        .select("url", "html")
        .repartition(n_part, "url")
        .sortWithinPartitions("url")
        .persist()
    )
    pages.count()
    seeds = synth_seeds(spark, FRONTIER_PAGES, n_seeds=FRONTIER_PAGES // 2, seed=42)
    return pages, seeds


def run_frontier_leg(spark, pages, seeds) -> tuple[float, int]:
    """One timed frontier leg (scheduling + fetch-sim + extraction + seen +
    checkpointing) against the pre-cached corpus; fresh snapshot dir per leg
    so every leg does the full checkpoint work."""
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore

    tmp = tempfile.mkdtemp(prefix="bench_frontier_")
    try:
        eng = FrontierEngine(
            spark, pages, SnapStore(tmp),
            config=FrontierConfig(max_batches=FRONTIER_BATCHES,
                                  default_budget=65536),
            pages_prepared=True,
        )
        t0 = time.time()
        manifests = eng.run(seeds)
        dt = time.time() - t0
        scheduled = sum(m["metrics"]["scheduled"] for m in manifests)
        return dt, scheduled
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("BENCH_ROUNDS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    calibration = calibrate_epoch(cpus)

    # measured (BENCH notes): a LARGER heap is reliably SLOWER for this
    # workload at local[32] (8g: ~33s for the frontier leg; 24g: 46-61s;
    # interleaved A/B) — G1 with a big heap + 32 allocating threads. Keep
    # the default 8g unless the env overrides.
    from warc_spark.plans import get_spark
    from warc_spark.queries import queries

    spark = get_spark(app="bench", master=f"local[{cpus}]")
    qs = queries()

    # warm every code path untimed: each query once, plus a small frontier
    # leg (JIT/codegen/Arrow init), plus the shared corpus cache
    for name in HEADLINE:
        qs[name](spark, sf_dir).collect()
    pages, seeds = build_frontier_corpus(spark)
    run_frontier_leg(spark, pages, seeds.limit(2000))

    q_times: dict[str, list[float]] = {name: [] for name in HEADLINE}
    frontier_legs: list[dict] = []
    round_log: list[dict] = []
    scheduled = 0
    for i in range(rounds):
        pre = burn(cpus)
        qt: dict[str, float] = {}
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            qt[name] = round(time.time() - t0, 3)
            q_times[name].append(qt[name])
        mid = burn(cpus)
        fdt, scheduled = run_frontier_leg(spark, pages, seeds)
        post = burn(cpus)
        leg = {
            "round": i,
            "sec": round(fdt, 3),
            "urls_per_sec": round(scheduled / fdt, 1),
            "burn_pre": pre, "burn_mid": mid, "burn_post": post,
        }
        frontier_legs.append(leg)
        round_log.append({"round": i, "queries": qt, "frontier": leg})
        print(json.dumps({"bench_round": i, **leg}), file=sys.stderr, flush=True)

    spark.stop()

    times = {name: _median(ts) for name, ts in q_times.items()}
    med_leg = _median([l["sec"] for l in frontier_legs])
    times["frontier_3batches"] = round(med_leg, 3)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_plus_frontier_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "frontier_urls_per_sec": round(scheduled / med_leg, 1),
        "frontier_urls_scheduled": scheduled,
        "cpus": cpus,
        "rounds": rounds,
        "frontier_legs": frontier_legs,
        "query_rounds": [r["queries"] for r in round_log],
        "calibration": calibration,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
