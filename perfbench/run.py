"""Crawl-frontier and WARC archive benchmark.

    python3 perfbench/run.py --workload crawl_narrow --seed 1 --seconds 25 --trace 0

Workloads (see ``workloads.py``): ``crawl_narrow``, a politeness-bound
crawl measured one batch per step, and ``archive_roundtrip``, a WARC
write plus read-back per step. Inputs come from ``--seed``.

Spark runs a task thread for every other core (``local[2]`` on 4 cores,
one shuffle partition per thread), so the driver, the Python workers and
the JIT keep cores of their own. The JVM uses the serial collector and a
pre-touched 2 GB heap, so its resident size does not depend on when the
heap grows. On a shared 4-vCPU KVM guest, a second copy of the narrow
crawl running alongside slowed its steps 1.3x in this shape and 2.5x
under G1, whose parallel GC threads spin when they lose their cores.

A run sets up three times and reports the median as ``setup_s``: the
first round starts the Spark session, and every round builds and caches
the inputs from scratch. It then runs a fixed warm-up, timed steps for
``--seconds`` (and at least a workload's minimum step count), and checks
every timed step against an oracle. The last stdout line is one JSON
object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a run whose spans tag Spark jobs and whose event log
is folded per span. Per-step times, the spans and the run details go to
``.bench_out/results/``. The exit code is non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
WORKLOADS = ("crawl_narrow", "archive_roundtrip")

END_TO_END = {
    "throughput_per_s": "1/s",
    "step_s_p50": "s",
    "cpu_s_per_1k": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
SPARK_SPANS = (
    "snapstore.write_scheduled", "snapstore.write_bloom",
    "snapstore.write_frontier", "snapstore.compact_seen",
    "warc_source.write_warc", "warc_source.read_warc", "frontier.batch_self",
)
DRIVER_SPANS = ("snapstore.commit", "seen.merge_blob_map")
SPAN_STATS = {
    "busy_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "tasks": "count", "jobs": "count", "skew": "ratio",
}
COUNTS = {
    "frontier.jobs_per_batch": "count",
    "frontier.tasks_per_batch": "count",
    "frontier.sched_ratio": "ratio",
    "seen.blob_map_mb": "MB",
    "warc_source.bytes_per_record": "B",
    "warc_source.error_records": "count",
    "kernels.serialize_us": "us",
    "kernels.parse_us": "us",
    "host.burn_s": "s",
    "trace.throughput_per_s": "1/s",
    "steps.drift": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for name in SPARK_SPANS + DRIVER_SPANS:
        units[name + ".wall_s"] = "s"
    for name in SPARK_SPANS:
        for stat, unit in SPAN_STATS.items():
            units[f"{name}.{stat}"] = unit
    units.update(COUNTS)
    return units


# -- attribution helpers (no Spark) ------------------------------------------

def host_burn_s() -> float:
    """Median of three fixed single-core Python loops."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_500_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_rates(n: int = 1000) -> dict[str, float]:
    """Per-record serialize (+gzip member) and gunzip+parse cost on one
    core, over a fixed sample of synthetic response records."""
    import numpy as np

    from warc_spark.kernels.gzipmember import compress_gzip_member, iter_gzip_members
    from warc_spark.kernels.warcrec import parse_warc_stream, serialize_warc_record
    from warc_spark.sources.pages import gen_pages_pdf

    records = [
        next(iter(parse_warc_stream(b)))
        for b in gen_pages_pdf(np.arange(n), n, 50, 0)["html"]
    ]

    def serialize() -> bytes:
        return b"".join(
            compress_gzip_member(serialize_warc_record(r.headers, r.payload))
            for r in records
        )

    blob = serialize()

    def parse() -> None:
        for _off, _size, member in iter_gzip_members(blob):
            for _rec in parse_warc_stream(member):
                pass

    out = {}
    for name, fn in (("kernels.serialize_us", serialize), ("kernels.parse_us", parse)):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) / n * 1e6
    return out


# -- Spark lifetime -----------------------------------------------------------

def start_spark(work: str, cores: int, trace: bool):
    from warc_spark.plans.session import get_spark

    extra = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            "-Xms2g -XX:+AlwaysPreTouch -XX:+UseSerialGC -XX:-UsePerfData "
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
        ),
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra=extra,
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- metrics ------------------------------------------------------------------

def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def drift(walls: list[float]) -> float:
    """Median step time of the last third over that of the first third."""
    k = max(1, len(walls) // 3)
    return statistics.median(walls[-k:]) / statistics.median(walls[:k])


def end_to_end(steps, peak_mb, setup_rounds) -> dict[str, float]:
    """Medians over the timed steps of units/s, wall time and CPU-s per
    1,000 units; the tree's peak RSS; the median set-up round."""
    done = [s for s in steps if s.units]
    return {
        "throughput_per_s": median_or_zero([s.units / s.wall_s for s in done]),
        "step_s_p50": median_or_zero([s.wall_s for s in steps]),
        "cpu_s_per_1k": median_or_zero([s.cpu_s / s.units * 1000 for s in done]),
        "peak_rss_mb": peak_mb,
        "setup_s": statistics.median(setup_rounds),
    }


def per_layer(steps, spans, groups, attribution, throughput) -> dict[str, float]:
    """Each span metric is the median, over the timed steps in which the
    span ran, of its per-step total; ``frontier.batch_self`` is the batch
    span's wall time minus its child spans, with the jobs charged to it."""
    timed = {s.index for s in steps}
    step_spans = {
        sp["id"]: sp for sp in spans
        if sp["name"] in ("frontier.batch", "archive.step") and sp["step"] in timed
    }
    per_step: dict[str, dict[int, dict]] = {}

    def add(name, step, wall, group_ids):
        acc = per_step.setdefault(name, {}).setdefault(
            step, {"wall_s": 0.0, **{k: 0.0 for k in SPAN_STATS}}
        )
        acc["wall_s"] += wall
        for g in group_ids:
            st = groups.get(g)
            if st is None:
                continue
            for k in SPAN_STATS:
                acc[k] = max(acc[k], st[k]) if k == "skew" else acc[k] + st[k]

    child_wall: dict[str, float] = {}
    for sp in spans:
        parent = step_spans.get(sp["parent"])
        if parent is None:
            continue
        wall = sp["end"] - sp["start"]
        child_wall[parent["id"]] = child_wall.get(parent["id"], 0.0) + wall
        add(sp["name"], parent["step"], wall, [sp["id"]])
        if "blob_map_mb" in sp:
            per_step.setdefault("_blob", {})[parent["step"]] = {"mb": sp["blob_map_mb"]}
    batch_jobs, batch_tasks = [], []
    for sid, sp in step_spans.items():
        if sp["name"] != "frontier.batch":
            continue
        self_wall = sp["end"] - sp["start"] - child_wall.get(sid, 0.0)
        add("frontier.batch_self", sp["step"], self_wall, [sid])
        ids = [sid] + [c["id"] for c in spans if c["parent"] == sid]
        batch_jobs.append(sum(groups.get(g, {}).get("jobs", 0) for g in ids))
        batch_tasks.append(sum(groups.get(g, {}).get("tasks", 0) for g in ids))

    out = {}
    for name in SPARK_SPANS + DRIVER_SPANS:
        rows = list(per_step.get(name, {}).values())
        out[name + ".wall_s"] = median_or_zero([r["wall_s"] for r in rows])
        if name in SPARK_SPANS:
            for k in SPAN_STATS:
                out[f"{name}.{k}"] = median_or_zero([r[k] for r in rows])
    sched = sum(s.units for s in steps if "frontier_in" in s.info)
    ranked = sum(s.info.get("frontier_in", 0) for s in steps)
    n_rec = sum(s.units for s in steps if "bytes" in s.info)
    out.update({
        "frontier.jobs_per_batch": median_or_zero(batch_jobs),
        "frontier.tasks_per_batch": median_or_zero(batch_tasks),
        "frontier.sched_ratio": sched / ranked if ranked else 0.0,
        "seen.blob_map_mb": median_or_zero(
            [r["mb"] for r in per_step.get("_blob", {}).values()]
        ),
        "warc_source.bytes_per_record": (
            sum(s.info.get("bytes", 0) for s in steps) / n_rec if n_rec else 0.0
        ),
        "warc_source.error_records": sum(s.info.get("errors", 0) for s in steps),
        "trace.throughput_per_s": throughput,
        "steps.drift": drift([s.wall_s for s in steps]) if steps else 0.0,
        **attribution,
    })
    return out


# -- driver -------------------------------------------------------------------

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument(
        "--plant-fault", action="store_true",
        help="feed the program a wrong input (a dropped seed, a corrupted "
             "archive file) that the output checks must catch",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import warc_spark  # noqa: F401
        import oracle_sim  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2
    import workloads
    from procstat import PeakRss
    from spans import Tracer, fold_event_log

    cores = max(1, len(os.sched_getaffinity(0)) // 2)  # see the module docstring
    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM, which starts before any session config
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tempfile.tempdir

    if args.workload == "crawl_narrow":
        wl = workloads.CrawlNarrow(args.seed, args.tiny, args.plant_fault)
    else:
        wl = workloads.ArchiveRoundtrip(args.seed, args.tiny, args.plant_fault, cores)

    rss = PeakRss()
    attribution = {"host.burn_s": host_burn_s(), **kernel_rates()}
    spark = None
    steps, setup_rounds, crashed = [], [], False
    warmup_s = 0.0
    try:
        for i in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            if i == 0:
                spark = start_spark(work, cores, bool(args.trace))
            else:  # rebuild the inputs from scratch in the same session
                spark.catalog.clearCache()
            inputs = wl.prepare(spark)
            setup_rounds.append(time.perf_counter() - t0)
        tracer = Tracer(spark.sparkContext if args.trace else None)
        timed = wl.run(spark, inputs, work, tracer, args.seconds)
        steps, warmup_s = timed.steps, timed.warmup_s
        wl.check(steps, inputs)
        app_id = spark.sparkContext.applicationId
    except Exception:  # a crashed run is reported as a failed step
        traceback.print_exc()
        crashed = True
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_mb = rss.stop()

    attempted = len(steps) + crashed
    failed = sum(not s.ok for s in steps) + crashed
    metrics = end_to_end(steps, peak_mb, setup_rounds or [0.0])
    units = END_TO_END
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "tiny": args.tiny, "plant_fault": args.plant_fault,
        "setup_rounds_s": setup_rounds,
        "warmup_s": warmup_s,
        "steps": [
            {"step": s.index, "wall_s": s.wall_s, "cpu_s": s.cpu_s,
             wl.unit: s.units, "ok": s.ok,
             **{k: v for k, v in s.info.items() if k not in ("urls", "manifest")}}
            for s in steps
        ],
        "step_s_quartiles": (
            statistics.quantiles([s.wall_s for s in steps], n=4)
            if len(steps) > 1 else None
        ),
        "steps.drift": drift([s.wall_s for s in steps]) if steps else None,
        "failed_frac": failed / attempted if attempted else 1.0,
        "peak_rss_mb_by_command": rss.parts,
        "attribution": attribution,
        "metrics": metrics,
    }
    if args.trace and not crashed:
        groups = fold_event_log(os.path.join(work, "events", app_id))
        metrics = per_layer(
            steps, tracer.spans, groups, attribution, metrics["throughput_per_s"]
        )
        units = per_layer_units()
        detail["per_layer"] = metrics
        tracer.dump(os.path.join(out_dir, "results", tag + ".spans.json"))
    with open(os.path.join(out_dir, "results", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(
        f"{args.workload} seed={args.seed}: steps={len(steps)} "
        f"failed_frac={detail['failed_frac']:.4f} frac  "
        + "  ".join(f"{k}={v:.4g} {END_TO_END[k]}" for k, v in detail["metrics"].items())
    )
    correct = not crashed and failed == 0 and attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
