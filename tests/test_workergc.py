"""The heap freeze (workergc) that importing the package installs in a
reused Python worker."""

import os
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import gc
before = len(gc.callbacks)
import pii_extract_base_spark
added = len(gc.callbacks) - before
gc.collect()
print(added, gc.get_freeze_count())
"""


def _probe(reuse):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    if reuse:
        env["SPARK_REUSE_WORKER"] = "1"
    out = subprocess.run([sys.executable, "-c", PROBE], cwd=ROOT, env=env,
                         capture_output=True, text=True, check=True)
    added, frozen = map(int, out.stdout.split())
    return added, frozen


def test_freeze_hook_only_where_workers_are_reused():
    """Without SPARK_REUSE_WORKER (the driver, tests, one-task workers)
    the import adds no gc callback and a full collection freezes
    nothing; with it, one callback, and a full collection freezes the
    survivors."""
    assert _probe(reuse=False) == (0, 0)
    added, frozen = _probe(reuse=True)
    assert added == 1 and frozen > 10_000


def test_reused_worker_freezes_its_heap_after_each_task(spark):
    """PySpark's daemon runs gc.collect() after every task of a reused
    worker. From a worker's second task on, what survived that
    collection is frozen, so the next one scans only the objects the
    tasks since left tracked: a small share of the frozen heap (on a
    fresh worker ~19% at its second task, then ~0.1%)."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("pid long, task long, frozen long, tracked long")
    def gc_state(ids: pd.Series) -> pd.DataFrame:
        import gc
        import pii_extract_base_spark  # noqa: F401
        gc._probe_tasks = getattr(gc, "_probe_tasks", 0) + 1
        return pd.DataFrame({"pid": os.getpid(), "task": gc._probe_tasks,
                             "frozen": gc.get_freeze_count(),
                             "tracked": len(gc.get_objects())},
                            index=ids.index)

    n_tasks = 16
    rows = (spark.range(0, n_tasks, 1, n_tasks)
            .select(gc_state("id").alias("r")).select("r.*").collect())
    assert len(rows) == n_tasks
    by_worker = defaultdict(dict)
    for r in rows:
        by_worker[r.pid][r.task] = (r.frozen, r.tracked)
    # the workers were reused, so later tasks ran on warm workers
    assert max(len(v) for v in by_worker.values()) >= 2
    warm = [v for tasks in by_worker.values()
            for task, v in tasks.items() if task >= 2]
    assert warm
    for frozen, tracked in warm:
        assert frozen > 0 and tracked < frozen / 2, (frozen, tracked)
