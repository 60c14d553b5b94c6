"""The benchmark's workloads. Each builds its inputs from the seed
(``prepare``); ``run`` does a fixed warm-up, then timed steps until the
deadline, and ``check`` checks every step's output."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from warc_spark.operators.frontier import FrontierConfig, FrontierEngine
from warc_spark.plans.snapstore import SnapStore
from warc_spark.sources.pages import (
    extract_links_kernel,
    gen_pages_pdf,
    synth_pages,
    synth_seeds,
)
from warc_spark.sources.warc_source import parse_warc_column, read_warc, write_warc

from oracle_sim import simulate_crawl
from procstat import tree_cpu_s


@dataclass
class Step:
    """One timed step: wall time, process-tree CPU, units of work done."""

    index: int
    start: float = field(default_factory=time.perf_counter)
    cpu_start: float = field(default_factory=tree_cpu_s)
    end: float | None = None
    cpu_s: float = 0.0
    units: int = 0
    ok: bool = False
    info: dict = field(default_factory=dict)

    def finish(self) -> None:
        self.end = time.perf_counter()
        self.cpu_s = tree_cpu_s() - self.cpu_start

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Timed:
    steps: list[Step]
    warmup_s: float  # the fixed warm-up before the timed steps


def url_checksum(urls) -> int:
    """Order-free checksum of a url set: sum of 64-bit blake2b digests."""
    return sum(
        int.from_bytes(hashlib.blake2b(u.encode(), digest_size=8).digest(), "little")
        for u in urls
    ) % (1 << 64)


# -- crawl ------------------------------------------------------------------

class TimeUp(Exception):
    """Raised at a batch boundary once the timed window is over."""


class BenchStore(SnapStore):
    """A SnapStore that marks batch boundaries and opens a span around
    each write, commit and compaction. A batch's step runs from the start
    of its ``scheduled`` write (the first Spark job of a batch) to the
    start of the next batch's; step 0 starts when the crawl starts.
    Batches before ``warm_batches`` are the warm-up; the timed window
    opens with the first batch after them and closes at the first batch
    boundary past ``seconds`` once ``min_steps`` batches are timed."""

    TABLE_SPANS = {
        "scheduled": "snapstore.write_scheduled",
        "bloom": "snapstore.write_bloom",
        "frontier": "snapstore.write_frontier",
    }

    def __init__(self, root, tracer, warm_batches=0, seconds=None, min_steps=0):
        super().__init__(root)
        self.tracer = tracer
        self.warm_batches = warm_batches
        self.seconds = seconds
        self.min_steps = min_steps
        self.t_start = time.perf_counter()
        self.t_timed = self.deadline = None
        self.steps: list[Step] = []
        self.committed: set[int] = set()
        self._span = None

    def begin(self) -> None:
        self._open(0)

    def _open(self, batch: int) -> None:
        if batch == self.warm_batches and self.seconds is not None:
            self.t_timed = time.perf_counter()
            self.deadline = self.t_timed + self.seconds
        self.steps.append(Step(batch))
        self._span = self.tracer.open("frontier.batch", step=batch)

    def _close(self) -> None:
        self.steps[-1].finish()
        self.tracer.close(self._span)
        self._span = None

    def finish(self) -> Timed:
        """Close the open step; keep the timed steps whose batch committed."""
        if self.steps and self.steps[-1].end is None:
            self._close()
        return Timed(
            [s for s in self.steps
             if s.index in self.committed and s.index >= self.warm_batches],
            (self.t_timed or time.perf_counter()) - self.t_start,
        )

    def write_df(self, df, batch, name):
        if name == "scheduled" and batch > self.steps[-1].index:
            self._close()
            if (
                self.deadline is not None
                and time.perf_counter() >= self.deadline
                and len(self.steps) - self.warm_batches >= self.min_steps
            ):
                raise TimeUp
            self._open(batch)
        span = self.tracer.open(self.TABLE_SPANS[name]) if name in self.TABLE_SPANS else None
        try:
            return super().write_df(df, batch, name)
        finally:
            self.tracer.close(span)

    def commit(self, batch, tables, metrics, config):
        with self.tracer.span("snapstore.commit"):
            super().commit(batch, tables, metrics, config)
        self.committed.add(batch)
        self.steps[-1].units = metrics["scheduled"]

    def compact_seen(self, spark, upto):
        with self.tracer.span("snapstore.compact_seen"):
            return super().compact_seen(spark, upto)


@dataclass
class CrawlInputs:
    pages: object
    seeds: object
    seed_rows: list


class CrawlNarrow:
    """Politeness-bound steady state: per-host budget 4 over 100 Zipf hosts,
    so each batch schedules ~390 urls and its cost is the fixed per-batch
    work (Spark jobs, snapstore writes and commit, blob-map rebroadcast).
    With 50k pages even the smallest host holds ~100 pages, so batch sizes
    stay within ~6% over the first sixteen batches and a faster batch does
    not pull smaller batches into the timed window.
    Membership uses the CLI defaults (bloom, 64 buckets x 2^21 bits,
    rescue auto); the seen log compacts every 4 batches, so the timed
    window (4 batches at least) always holds a compaction."""

    name = "crawl_narrow"
    unit = "urls"
    warm_batches = 2
    min_steps = 4

    def __init__(self, seed: int, tiny: bool, plant: bool):
        self.seed = seed
        self.plant = plant
        self.n_pages, self.n_hosts, self.n_seeds = (
            (3_000, 40, 150) if tiny else (50_000, 100, 5_000)
        )
        self.cfg = dict(
            default_budget=4, bloom_buckets=64, bloom_bits=1 << 21,
            rescue_mode="auto", seen_compact_every=4, max_batches=64,
        )

    def prepare(self, spark) -> CrawlInputs:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        pages = (
            synth_pages(spark, self.n_pages, seed=self.seed, n_hosts=self.n_hosts)
            .select("url", "html")
            .repartition(n_part, "url")
            .sortWithinPartitions("url")
            .persist()
        )
        pages.count()
        seeds = synth_seeds(
            spark, self.n_pages, n_seeds=self.n_seeds, seed=self.seed,
            n_hosts=self.n_hosts,
        ).persist()
        seed_rows = sorted((r.url, r.priority) for r in seeds.collect())
        if self.plant:  # the engine loses its top seed; the oracle keeps it
            top = max(seed_rows, key=lambda t: (t[1], t[0]))[0]
            seeds = seeds.filter(F.col("url") != top)
        return CrawlInputs(pages, seeds, seed_rows)

    def run(self, spark, inp, work, tracer, seconds) -> Timed:
        """One crawl from the seeds: the first ``warm_batches`` batches are
        the warm-up, the batches after them the timed steps."""
        store = BenchStore(
            os.path.join(work, "crawl"), tracer, self.warm_batches, seconds,
            self.min_steps,
        )
        store.begin()
        eng = FrontierEngine(
            spark, inp.pages, store, config=FrontierConfig(**self.cfg),
            pages_prepared=True,
        )
        merge = eng.bloom.merge_blob_map

        def traced_merge(blob_map, rows):
            with tracer.span("seen.merge_blob_map") as span:
                out = merge(blob_map, rows)
                if span is not None:
                    span["blob_map_mb"] = sum(len(b) for b in out.values()) / 1e6
            return out

        eng.bloom.merge_blob_map = traced_merge
        try:
            eng.run(inp.seeds)
        except TimeUp:
            pass
        timed = store.finish()
        for s in timed.steps:
            s.info["manifest"] = store.manifest(s.index)["metrics"]
            s.info["frontier_in"] = (
                store.manifest(s.index - 1)["metrics"]["frontier_after"]
                if s.index else len(inp.seed_rows)
            )
            s.info["urls"] = url_checksum(
                pq.read_table(
                    os.path.join(store.batch_dir(s.index), "scheduled"), columns=["url"]
                ).column("url").to_pylist()
            )
        return timed

    def check(self, steps: list[Step], inp: CrawlInputs) -> None:
        """Per batch: (scheduled, found, links_extracted, frontier_after)
        and the scheduled-url checksum must equal the pure-Python oracle."""
        pdf = gen_pages_pdf(
            np.arange(self.n_pages), self.n_pages, self.n_hosts, self.seed
        )
        n_links = {u: len(ls) for u, ls in zip(pdf["url"], extract_links_kernel(pdf["html"]))}
        sim = simulate_crawl(
            pdf, inp.seed_rows, default_budget=self.cfg["default_budget"],
            max_batches=max((s.index + 1 for s in steps), default=0),
        )
        for s in steps:
            k = s.index
            if k >= len(sim.batches):
                s.ok = False
                continue
            urls = [u for u, _ in sim.batches[k]]
            expect = (
                sim.metrics[k]["scheduled"], sim.metrics[k]["found"],
                sum(n_links.get(u, 0) for u in urls), sim.metrics[k]["frontier_after"],
            )
            got = s.info["manifest"]
            s.ok = (
                (got["scheduled"], got["found"], got["links_extracted"],
                 got["frontier_after"]) == expect
                and s.info["urls"] == url_checksum(urls)
            )


# -- archive ----------------------------------------------------------------

def _payload_sum():
    return F.sum(F.xxhash64("payload").cast("decimal(20,0)")).alias("xx")


@dataclass
class ArchiveInputs:
    records: object
    n: int
    xx: object


class ArchiveRoundtrip:
    """write_warc (one gzip member per record, 4 part files per task
    thread) then read_warc of the same files, ending with a count, error
    and payload checksum. Exercises the sources and kernels in both
    directions and never touches the frontier."""

    name = "archive_roundtrip"
    unit = "records"
    warm_steps = 2
    min_steps = 3

    def __init__(self, seed: int, tiny: bool, plant: bool, cores: int):
        self.seed = seed
        self.plant = plant
        self.n_records = 1_000 if tiny else 10_000
        self.files = 4 * cores

    def prepare(self, spark) -> ArchiveInputs:
        pages = synth_pages(spark, self.n_records, seed=self.seed)
        records = (
            parse_warc_column(pages.select("html"), "html", keep=[])
            .select("header_names", "headers", "payload")
            .repartition(self.files)
            .persist()
        )
        row = records.agg(F.count(F.lit(1)).alias("n"), _payload_sum()).collect()[0]
        return ArchiveInputs(records, row["n"], row["xx"])

    def _roundtrip(self, spark, inp, out, tracer, step) -> Step:
        s = Step(step)
        span = tracer.open("archive.step", step=step)
        with tracer.span("warc_source.write_warc"):
            manifest = write_warc(inp.records, out).collect()
        if self.plant and step >= 0:  # flip bytes in the middle of one part file
            part = sorted(r["filename"] for r in manifest)[0]
            with open(part, "r+b") as f:
                f.seek(os.path.getsize(part) // 2)
                f.write(b"\x00" * 64)
        with tracer.span("warc_source.read_warc"):
            got = read_warc(spark, out).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
                _payload_sum(),
            ).collect()[0]
        tracer.close(span)
        s.finish()
        s.units = inp.n
        s.info = {
            "bytes": sum(r["bytes"] for r in manifest),
            "errors": int(got["errors"] or 0),
        }
        s.ok = (
            got["n"] == inp.n
            and sum(r["records"] for r in manifest) == inp.n
            and s.info["errors"] == 0
            and got["xx"] == inp.xx
        )
        shutil.rmtree(out)
        return s

    def run(self, spark, inp, work, tracer, seconds) -> Timed:
        """``warm_steps`` untimed round trips as the warm-up, then timed ones."""
        t0 = time.perf_counter()
        for i in range(self.warm_steps):
            self._roundtrip(spark, inp, os.path.join(work, "warm-warc"), tracer, -1 - i)
        warmup_s = time.perf_counter() - t0
        deadline = time.perf_counter() + seconds
        steps: list[Step] = []
        while time.perf_counter() < deadline or len(steps) < self.min_steps:
            out = os.path.join(work, "warc-%d" % len(steps))
            steps.append(self._roundtrip(spark, inp, out, tracer, len(steps)))
        return Timed(steps, warmup_s)

    def check(self, steps: list[Step], inp: ArchiveInputs) -> None:
        """Checked inside each step (the checksum is part of the step)."""
