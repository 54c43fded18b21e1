"""Freeze a reused Python worker's long-lived heap after each full collection.

With worker reuse on (``SPARK_REUSE_WORKER``, the default), PySpark's
daemon runs ``gc.collect()`` after every task of a reused worker. Each
such collection walks the worker's whole heap: modules, the detector
registry, the LM tables and the per-worker caches, about 75k objects and
~45 ms per task. Here, at the end of each generation-2 collection,
``gc.freeze()`` moves every survivor to the permanent generation, so the
next collection scans only what later tasks allocated. Frozen objects
are still freed by reference counting; only a cycle among frozen
objects that later becomes garbage is never collected, and stays until
the worker exits.

Without ``SPARK_REUSE_WORKER`` (the driver, tests, a worker that serves
one task) nothing is installed: the driver's heap keeps changing across
queries, and no per-task collection is there to save.
"""

import gc
import os


def _freeze_after_full_collection(phase, info):
    if phase == "stop" and info["generation"] == 2:
        gc.freeze()


if os.environ.get("SPARK_REUSE_WORKER"):
    gc.callbacks.append(_freeze_after_full_collection)
