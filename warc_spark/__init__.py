"""warc_spark — a PySpark-native crawl-frontier / web-archive analytics engine.

Re-expresses the record semantics of ``internetarchive/warc`` (reference at
/root/reference, surveyed in SURVEY.md) as an idiomatic Spark engine:

- ``kernels``   pure-Python (no Spark) WARC/ARC/gzip parse + serialize kernels,
                byte-compatible with the reference's golden test strings.
- ``sources``   vectorized ingest: binary archive bytes -> records DataFrame
                (Arrow-batched ``mapInPandas``), synthetic Common-Crawl-style
                pages table generator (BASELINE.json input_hint shape).
- ``functions`` text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram
                Jaccard), embedding similarity search — training-data pipeline
                operators over the documents/embeddings tables.
- ``operators`` the crawl engine: URL-seen set (exact anti-join against
                the seen log; partitioned Bloom blobs + cuckoo as standalone
                operators), robots gating,
                per-host politeness budgets, priority order as data.
- ``plans``     SparkSession factory with scale-tuned configs, snapshot store
                (checkpoint/exact-resume with per-partition lineage + metrics).
- ``streaming`` Structured Streaming variants of the frontier ingest path.

No code is copied from the reference (GPLv2); behavior is reimplemented from
observed semantics with file:line citations in docstrings.
"""

__version__ = "0.1.0"
