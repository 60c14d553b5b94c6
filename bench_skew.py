"""Host-skew stress evidence (north_star: "defeat host skew"; VERDICT r2
#7): the SAME frontier job on a uniform-ish (natural Zipf) corpus vs a
30%-hot-host corpus (``synth_pages(hot_frac=0.3)`` — one host holds 30% of
the pages, link targets AND seeds).

What the legs compare: a batch exchanges frontier-sized data by ``host``
once, for the politeness window. It flags ranks instead of filtering them,
so Spark plans no ``WindowGroupLimit`` and every row of the hot host goes
to one window task. The fetch join's url exchange, the batch's only other
schedule-side shuffle, hashes each url on its own and so spreads the hot
host over every partition. Throughput (urls scheduled+fetched/sec) on the
hot corpus vs the uniform corpus is the cost of that one hot window task.

Methodology matches bench_scaling.py: all legs run interleaved in ONE
JVM (same epoch), several rounds, medians reported. Updates the
"## Host-skew stress" section of BENCH/BASELINE.md in place (marker
comments) — note bench_scaling.py regenerates that file wholesale, so
rerun this after rerunning it.

Reproduce: ``python bench_skew.py`` (env: SKEW_PAGES, SKEW_SEEDS,
SKEW_BATCHES, SKEW_ROUNDS, SKEW_HOT_FRAC, SKEW_CPUS).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BEGIN = "<!-- bench_skew:begin -->"
END = "<!-- bench_skew:end -->"


def build_corpus(spark, n_pages, hot_frac, n_part):
    from warc_spark.sources.pages import synth_pages

    pages = (
        synth_pages(spark, n_pages, seed=42, hot_frac=hot_frac)
        .select("url", "html")
        .repartition(n_part, "url")
        .sortWithinPartitions("url")
        .persist()
    )
    pages.count()  # cache built outside every timed window
    return pages


def run_leg(spark, pages, seeds, batches, budget=1 << 20):
    from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
    from warc_spark.plans.snapstore import SnapStore

    tmp = tempfile.mkdtemp(prefix="skew_")
    try:
        eng = FrontierEngine(
            spark, pages, SnapStore(tmp),
            # budget effectively unlimited: a 65k/host cap would DEFER most
            # of the hot host each batch (fewer urls scheduled per batch ->
            # throughput not comparable leg-to-leg); uncapped, both corpora
            # schedule the same url volume and the comparison isolates the
            # skew-sensitive operators (the politeness window, the fetch
            # join's exchange) instead of politeness semantics
            config=FrontierConfig(max_batches=batches, default_budget=budget),
            pages_prepared=True,
        )
        t0 = time.time()
        manifests = eng.run(seeds)
        dt = time.time() - t0
        sched = sum(m["metrics"]["scheduled"] for m in manifests)
        return {
            "sec": round(dt, 2),
            "scheduled": sched,
            "urls_per_sec": round(sched / dt, 1),
            "batch_sec": [m["metrics"]["wall_sec"] for m in manifests],
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    n_pages = int(os.environ.get("SKEW_PAGES", "1500000"))
    n_seeds = int(os.environ.get("SKEW_SEEDS", "750000"))
    batches = int(os.environ.get("SKEW_BATCHES", "3"))
    rounds = int(os.environ.get("SKEW_ROUNDS", "2"))
    hot_frac = float(os.environ.get("SKEW_HOT_FRAC", "0.3"))
    cpus = int(os.environ.get("SKEW_CPUS", "32"))

    from warc_spark.plans import get_spark
    from warc_spark.sources.pages import synth_seeds

    spark = get_spark(app="bench_skew", master=f"local[{cpus}]")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    uni_pages = build_corpus(spark, n_pages, 0.0, n_part)
    hot_pages = build_corpus(spark, n_pages, hot_frac, n_part)
    uni_seeds = synth_seeds(spark, n_pages, n_seeds=n_seeds, seed=42)
    hot_seeds = synth_seeds(
        spark, n_pages, n_seeds=n_seeds, seed=42, hot_frac=hot_frac
    )

    # warm both code paths untimed
    run_leg(spark, uni_pages, uni_seeds.limit(2000), 1)
    run_leg(spark, hot_pages, hot_seeds.limit(2000), 1)

    legs = [
        ("uniform", uni_pages, uni_seeds),
        ("hot", hot_pages, hot_seeds),
    ]
    results: dict[str, list[dict]] = {name: [] for name, *_ in legs}
    for i in range(rounds):
        for name, pages, seeds in legs:
            r = run_leg(spark, pages, seeds, batches)
            r["round"] = i
            results[name].append(r)
            print(json.dumps({"leg": name, **r}), flush=True)
    spark.stop()

    med = {
        name: sorted(rs, key=lambda r: r["urls_per_sec"])[len(rs) // 2]
        for name, rs in results.items()
    }
    ratio_hot = med["hot"]["urls_per_sec"] / med["uniform"]["urls_per_sec"]
    wall_ratio = med["hot"]["sec"] / med["uniform"]["sec"]
    report = {
        "n_pages": n_pages, "n_seeds": n_seeds, "batches": batches,
        "hot_frac": hot_frac, "cpus": cpus, "rounds": rounds,
        "median": {k: v["urls_per_sec"] for k, v in med.items()},
        "hot_vs_uniform_throughput_ratio": round(ratio_hot, 3),
        "hot_vs_uniform_wall_ratio": round(wall_ratio, 3),
        "results": results,
    }
    print(json.dumps(report))

    rows = "\n".join(
        f"| {name} | {med[name]['sec']} | {med[name]['scheduled']:,} | "
        f"{med[name]['urls_per_sec']:,.0f} | "
        f"{', '.join(str(b) for b in med[name]['batch_sec'])} |"
        for name, *_ in legs
    )
    section = f"""{BEGIN}
## Host-skew stress (bench_skew.py)

Same frontier job ({n_pages:,} pages, {batches} batches, uncapped budget so
both corpora schedule the same url volume, local[{cpus}]) on the
natural-Zipf corpus vs a corpus/seed-set with **{hot_frac:.0%} of all urls
on ONE host**, all legs interleaved in one JVM ({rounds} rounds, medians):

| leg | sec | urls scheduled | urls/s | per-batch sec |
|---|---|---|---|---|
{rows}

- hot-host batch wall-time = **{wall_ratio:.2f}x** the uniform corpus and
  throughput {ratio_hot:.2f}x. The fetch join's url exchange spreads the hot
  host over every partition; the politeness window's host exchange is the
  batch's one host-keyed shuffle, and with no `WindowGroupLimit` (ranks are
  flagged, not filtered) the hot host's rows all reach one window task.
  The max/median task time of that window stage is the signal to watch
  at larger scale.

Reproduce: `python bench_skew.py` (env: SKEW_PAGES, SKEW_SEEDS,
SKEW_BATCHES, SKEW_ROUNDS, SKEW_HOT_FRAC, SKEW_CPUS).
{END}"""

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    text = open(path).read() if os.path.exists(path) else "# BENCH/BASELINE\n"
    if BEGIN in text:
        pre = text.split(BEGIN)[0]
        post = text.split(END, 1)[1] if END in text else ""
        text = pre + section + post
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
