"""warc_spark — a PySpark-native crawl-frontier / web-archive analytics engine.

Re-expresses the record semantics of ``internetarchive/warc`` (reference at
/root/reference, surveyed in SURVEY.md) as an idiomatic Spark engine:

- ``kernels``   pure-Python (no Spark) WARC/ARC/gzip parse + serialize kernels,
                byte-compatible with the reference's golden test strings.
- ``sources``   vectorized ingest: binary archive bytes -> records DataFrame
                (Arrow-native ``mapInArrow`` scan), synthetic Common-Crawl-style
                pages table generator (BASELINE.json input_hint shape).
- ``functions`` text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram
                Jaccard), embedding similarity search — training-data pipeline
                operators over the documents/embeddings tables.
- ``operators`` the crawl engine: URL-seen set (exact anti-join against
                the seen log), robots gating, per-host politeness budgets,
                priority order as data.
- ``plans``     SparkSession factory with scale-tuned configs, snapshot store
                (checkpoint/exact-resume with per-partition lineage + metrics).
- ``streaming`` Structured Streaming variants of the frontier ingest path,
                including an unbounded-horizon Bloom URL-seen operator.

No code is copied from the reference (GPLv2); behavior is reimplemented from
observed semantics with file:line citations in docstrings.

Importing the package also installs ``_stat_keyed_zip_invalidation``: every
Python worker that runs a warc_spark UDF imports this module, and the hook
makes the worker's per-task ``importlib.invalidate_caches()`` cheap.
"""

import functools
import os
import sys
import zipimport

__version__ = "0.1.0"


def _stat_keyed_zip_invalidation() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches`` only when
    the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (pyspark/worker_util.py ``setup_spark_files``). On CPython 3.10-3.12
    that makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read
    its archive's whole central directory at once: pyspark.zip (1,328
    entries) once per imported subpackage, the spark-core jar and the
    shipped ``warc_spark_pkg.zip`` -- about 0.19 s per task. This wraps the
    method so it calls the original only when the archive's
    ``(st_mtime_ns, st_size)`` differs from the last call on that importer,
    or when the stat fails; a zip rewritten in place is still re-read.
    Idempotent; a no-op where ``zipimporter`` has no ``invalidate_caches``
    (< 3.10) or where the call is already lazy (>= 3.13)."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if (
        original is None
        or sys.version_info >= (3, 13)
        or getattr(original, "_stat_keyed", False)
    ):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        # stat before the read: a rewrite between the two leaves a stale
        # key, which only costs one more read on the next call
        if key is None or key != getattr(self, "_stat_key", None):
            original(self)
            self._stat_key = key

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_keyed_zip_invalidation()
