"""Snapshot store: Iceberg-style checkpoint/resume without Iceberg jars
(SURVEY.md §7 R1; north_rule: "every frontier batch checkpointed ... carrying
per-partition lineage and fetch/dedup metrics for exact resume").

Layout (all paths immutable once written; `_latest` is the atomic commit):

    root/
      batches/batch=<k>/scheduled.parquet   urls scheduled in batch k
      batches/batch=<k>/frontier.parquet    pending frontier AFTER batch k
      batches/batch=<k>/blocked             urls robots-blocked in batch k
                                            (only when there were any)
      batches/batch=<k>/seen_compact        every url scheduled or blocked
                                            in 0..k
                                            (every seen_compact_every-th k)
      snapshots/snap-<k>.json               manifest: counts, per-partition
                                            lineage, metrics, config, prev
      _latest                               text: id of last committed snap

A snapshot is committed by writing its manifest and then atomically
replacing ``_latest`` — a crash mid-batch leaves ``_latest`` at k-1 and the
half-written batch dir is simply ignored/overwritten on resume (exact-resume
semantics; verified by tests/test_frontier.py::test_resume_*). Optional
tables (``blocked``) are read only when the committed manifest lists them,
so a crashed attempt's leftover never enters the seen log.

The store assumes a local (POSIX) filesystem that every executor and the
driver share: commits, the seen-table swap and existence checks are plain
``os``/``shutil`` calls, and ``_latest`` relies on ``os.replace`` being
atomic. It does not run as is on S3/HDFS. The manifest's per-partition row
counts give audit lineage per shuffle partition.

Per-batch read-backs pass the schema the engine wrote (``read_df``'s
``schema``; the seen log is always ``url string``), so opening a table
lists its files but launches no footer-inference Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "batches"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- paths ------------------------------------------------------------
    def batch_dir(self, batch: int) -> str:
        return os.path.join(self.root, "batches", f"batch={batch}")

    def _snap_path(self, batch: int) -> str:
        return os.path.join(self.root, "snapshots", f"snap-{batch}.json")

    # -- write ------------------------------------------------------------
    def write_df(self, df: DataFrame, batch: int, name: str) -> dict[str, Any]:
        """Write one table of the batch; returns its lineage (row count per
        output partition file — read from the parquet footers, no extra
        Spark job)."""
        import pyarrow.parquet as pq

        path = os.path.join(self.batch_dir(batch), name)
        if os.path.exists(path):
            shutil.rmtree(path)  # crashed attempt; batch dirs are immutable only after commit
        df.write.mode("overwrite").parquet(path)
        lineage = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                lineage.append(
                    {
                        "file": fn,
                        "rows": pq.read_metadata(os.path.join(path, fn)).num_rows,
                    }
                )
        return {"path": path, "rows": sum(x["rows"] for x in lineage), "partitions": lineage}


    def commit(self, batch: int, tables: dict[str, dict], metrics: dict[str, Any],
               config: dict[str, Any]) -> None:
        manifest = {
            "snapshot": batch,
            "prev": batch - 1 if batch > 0 else None,
            "tables": tables,
            "metrics": metrics,
            "config": config,
        }
        with open(self._snap_path(batch), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        tmp = os.path.join(self.root, "_latest.tmp")
        with open(tmp, "w") as f:
            f.write(str(batch))
        os.replace(tmp, os.path.join(self.root, "_latest"))  # atomic commit

    # -- read -------------------------------------------------------------
    def latest(self) -> int | None:
        p = os.path.join(self.root, "_latest")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, batch: int) -> dict:
        with open(self._snap_path(batch)) as f:
            return json.load(f)

    def manifests(self) -> list[dict]:
        last = self.latest()
        if last is None:
            return []
        return [self.manifest(k) for k in range(last + 1)]

    def read_df(
        self, spark: SparkSession, batch: int, name: str, schema: str | None = None
    ) -> DataFrame:
        """One table of the batch. With ``schema`` (a DDL string naming a
        subset of the written columns) Spark skips schema inference."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(os.path.join(self.batch_dir(batch), name))

    # -- seen-url compaction (LSM-style) ----------------------------------
    def _latest_compact(self, upto: int) -> int | None:
        for k in range(upto, -1, -1):
            if os.path.exists(
                os.path.join(self.batch_dir(k), "seen_compact", "_SUCCESS")
            ):
                return k
        return None

    def compact_seen(self, spark: SparkSession, upto: int) -> dict[str, Any]:
        """Write the compacted seen-url table at batch ``upto`` (all urls
        scheduled or robots-blocked in 0..upto, one slim column). Amortizes
        the per-batch seen-log read from O(#batches) parquet dirs to
        O(compact interval) — the LSM compaction of the crawl's membership
        log."""
        return self.write_df(
            self.read_seen_urls(spark, upto), upto, "seen_compact"
        )

    def expire_seen(self, spark: SparkSession, urls: DataFrame) -> dict[str, Any]:
        """Remove urls from the seen log (recrawl semantics): rewrite the
        compacted seen table at the latest batch WITHOUT them. Subsequent
        reads exclude the urls, so the frontier's emit anti-join passes
        them as new; a later recrawl re-appends them via its own batch's
        scheduled delta — third and later sightings dedup normally. On a
        real deployment this is an Iceberg/Delta DELETE on the seen table."""
        last = self.latest()
        if last is None:
            raise ValueError("nothing crawled yet; no seen state to expire from")
        remaining = self.read_seen_urls(spark, last).join(
            urls.select("url"), "url", "left_anti"
        )
        # write-then-swap: the plan may lazily read the existing compact at
        # this very batch, so never truncate the dir being read from
        info = self.write_df(remaining, last, "seen_compact_new")
        final = os.path.join(self.batch_dir(last), "seen_compact")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(info["path"], final)
        info["path"] = final
        return info

    def read_seen_urls(
        self, spark: SparkSession, upto: int, blocked: str | None = None
    ) -> DataFrame:
        """urls scheduled or robots-blocked in batches 0..upto: the latest
        compacted prefix (if any) plus the per-batch ``scheduled`` and
        ``blocked`` deltas after it. Equivalent to the urls of every
        ``scheduled`` and ``blocked`` table of batches 0..upto, but opens
        O(interval) dirs instead of O(#batches).

        A batch's ``blocked`` table is read only when its committed
        manifest lists it: a crashed attempt's leftover dir is ignored. A
        caller still running batch ``upto`` (uncommitted) passes the path
        of the ``blocked`` table it wrote, if any, as ``blocked``."""
        c = self._latest_compact(upto)
        start = 0
        paths = []
        if c is not None:
            paths.append(os.path.join(self.batch_dir(c), "seen_compact"))
            start = c + 1
        last = self.latest()
        for k in range(start, upto + 1):
            paths.append(os.path.join(self.batch_dir(k), "scheduled"))
            committed = last is not None and k <= last
            if committed and "blocked" in self.manifest(k)["tables"]:
                paths.append(os.path.join(self.batch_dir(k), "blocked"))
        if blocked is not None:
            paths.append(blocked)
        return spark.read.schema("url string").parquet(*paths)
