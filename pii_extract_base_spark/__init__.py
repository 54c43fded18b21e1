"""pii-extract-base-spark: a PySpark-native web-text quality pipeline
subsuming piisa/pii-extract-base's PII detection semantics.

See SURVEY.md for the design blueprint and BASELINE.md for targets.
"""

# every process that imports the package, each Python worker included,
# stops re-reading unchanged zip archives at every task (see zipguard.py)
from . import zipguard  # noqa: F401
# a reused Python worker (SPARK_REUSE_WORKER) freezes what survives each
# full collection, so the daemon's gc.collect() after every task scans
# only that task's objects; the driver is left alone (see workergc.py)
from . import workergc  # noqa: F401

__version__ = "0.1.0"
