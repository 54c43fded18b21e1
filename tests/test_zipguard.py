"""The zip-directory guard (zipguard) that importing the package installs."""

import importlib
import os
import sys
import zipfile
import zipimport
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_reread_only_when_archive_changes(tmp_path,
                                                        monkeypatch):
    # the guard patches zipimporter process-wide: undo it after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    # a second import must wrap PySpark's method, not the guard itself
    importlib.reload(importlib.import_module(
        "pii_extract_base_spark.zipguard"))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["_zipguard_a"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_zipguard_a").NAME == "_zipguard_a"
        importlib.invalidate_caches()   # the importer's first stat
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, ["_zipguard_a", "_zipguard_b"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("_zipguard_b").NAME == "_zipguard_b"
    finally:
        for name in ("_zipguard_a", "_zipguard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_warm_workers_do_not_reread_zip_directories(spark):
    """Each worker counts its tasks and its zip-directory reads. PySpark
    invalidates import caches at every task; once a worker has imported
    the package (every pipeline UDF does on its first task), an unchanged
    archive is not re-read, where unguarded it re-reads pyspark.zip once
    per zipimporter (~16) per task. The guard's first call on a worker
    reads each importer once, so reads may grow up to its second task."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("pid long, task long, reads long")
    def zip_reads(ids: pd.Series) -> pd.DataFrame:
        import zipimport
        import pii_extract_base_spark  # noqa: F401
        if not hasattr(zipimport, "_reads"):        # once per worker
            zipimport._reads = zipimport._tasks = 0
            inner = zipimport._read_directory

            def counted(path):
                zipimport._reads += 1
                return inner(path)
            zipimport._read_directory = counted
        zipimport._tasks += 1
        return pd.DataFrame({"pid": os.getpid(), "task": zipimport._tasks,
                             "reads": zipimport._reads}, index=ids.index)

    n_tasks = 32
    rows = (spark.range(0, n_tasks, 1, n_tasks)
            .select(zip_reads("id").alias("r")).select("r.*").collect())
    assert len(rows) == n_tasks
    by_worker = defaultdict(dict)
    for r in rows:
        by_worker[r.pid][r.task] = r.reads
    # the workers were reused, so later tasks ran on warm workers
    assert max(len(v) for v in by_worker.values()) >= 3
    for reads in by_worker.values():
        warm = [n for task, n in reads.items() if task >= 2]
        assert len(set(warm)) <= 1, reads
