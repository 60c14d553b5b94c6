"""The package's stat-keyed ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
on CPython 3.10-3.12 that re-reads the central directory of every zip on the
worker's path (pyspark.zip, the spark-core jar, the shipped package zip).
Importing ``warc_spark`` keys that re-read on each archive's stat, so a
reused worker skips it while its zips are unchanged and still picks up a zip
rewritten in place."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import warc_spark


@pytest.fixture
def counted_reads(monkeypatch):
    """Archive paths ``zipimport._read_directory`` reads while in use."""
    reads = []
    original = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    names = ("zmod_a", "zmod_b", "zmod_c")

    def write(**modules):
        with zipfile.ZipFile(zpath, "w") as z:
            for name, src in modules.items():
                z.writestr(name + ".py", src)

    write(zmod_a="X = 1\n")
    sys.path.insert(0, zpath)
    yield zpath, write
    sys.path.remove(zpath)
    sys.path_importer_cache.pop(zpath, None)
    for name in names:
        sys.modules.pop(name, None)


def test_unchanged_zip_not_reread(zip_on_path, counted_reads):
    assert importlib.import_module("zmod_a").X == 1
    importlib.invalidate_caches()  # the first call on an importer reads
    counted_reads.clear()
    importlib.invalidate_caches()
    assert counted_reads == []


def test_rewritten_zip_is_reread(zip_on_path):
    zpath, write = zip_on_path
    assert importlib.import_module("zmod_a").X == 1
    importlib.invalidate_caches()
    write(zmod_a="X = 1\n", zmod_b="Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_b").Y == 2
    # a failing stat falls through to the original, and so does the next
    # call once the archive is back
    os.remove(zpath)
    importlib.invalidate_caches()
    write(zmod_c="Z = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_c").Z == 3


def test_hook_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    importlib.reload(warc_spark)
    assert zipimport.zipimporter.invalidate_caches is method
    if sys.version_info < (3, 13):
        assert not getattr(method.__wrapped__, "_stat_keyed", False)


def test_reused_worker_task_rereads_no_zip(spark):
    """A task on a reused Python worker that imports warc_spark re-reads no
    zip directory in ``importlib.invalidate_caches()``: the worker's own
    pre-task call (setup_spark_files) has keyed every importer already."""

    def task(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        import warc_spark  # noqa: F401  (as every package UDF does)

        for _ in batches:
            pass
        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [len(reads)]})

    # idle workers are handed out first-in first-out, so a session that has
    # pooled many gets back to one of this test's workers only after it has
    # cycled through the rest
    seen, reused = set(), []
    for _ in range(64):
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInPandas(task, "pid long, reads long")
            .collect()
        )
        if row.pid in seen:  # this worker imported warc_spark in a past task
            reused.append(row.reads)
            if len(reused) == 2:
                break
        seen.add(row.pid)
    assert reused, "no task ran on a reused worker"
    assert reused == [0] * len(reused)
