"""SparkSession factory with the engine's scale defaults.

Settings chosen for the 100 TB design point (SURVEY.md §4):
 - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
 - Arrow on for pandas UDFs, with batches bounded in records AND in
   bytes, so neither many pages nor a few whole-document rows (the
   chunked detect path) can blow a Python worker's memory
 - the master and parallelism come from the launcher unless a core
   count is given; shuffle partitions follow the parallelism.
"""

import os

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS_PER_BATCH = 2048  # web pages ~KBs; caps Arrow batch memory
# Spark splits a pandas UDF's input batch once it reaches this many
# bytes (64 MB is Spark 4.1's default, pinned here so the bound is
# explicit); a batch still holds at least one row
ARROW_MAX_BYTES_PER_BATCH = 64 << 20

# One BLAS/OMP thread per Python worker. Spark already uses every core
# (one worker per task slot); letting each worker's OpenBLAS spawn
# n_cores threads oversubscribes the box n_workers× and the spin-wait
# pools make MORE cores run SLOWER (measured: 32-core pipeline 5x
# slower than 8-core before this). Must be set before the JVM forks the
# python workers, hence at session-factory import, not in the UDF.
_BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
              "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS",
              "VECLIB_MAXIMUM_THREADS")
for _v in _BLAS_VARS:
    os.environ.setdefault(_v, "1")

# glibc in every python worker: never mmap per large allocation and
# never trim back to the OS. Arrow batches allocate multi-MB numpy
# buffers per batch; with default thresholds each one is an
# mmap+munmap pair, and 30+ workers doing that concurrently serialize
# on the kernel's mmap_lock (measured as 50-80% system time and
# more-cores-slower behavior). Inherited JVM -> daemon -> workers.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))


def get_spark(app_name: str = "pii-extract-base-spark",
              cores: int = None,
              shuffle_partitions: int = None,
              extra_conf: dict = None) -> SparkSession:
    """Runs on local[cores or SPARK_GRAFT_CPUS] if either is set, else on
    the launcher's master (spark-submit --master, or local[*])."""
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES_PER_BATCH))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # bigger JVM<->python-worker pipe buffer: fewer syscalls per
        # Arrow batch (same kernel-contention story as above)
        .config("spark.buffer.size", "1048576")
        .config("spark.ui.enabled", "false")
        # managed-table warehouse + metastore OUTSIDE the repo (bucketed
        # tables for co-located joins live here; see sources/bucketed.py)
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR",
                               "/tmp/pii_spark_warehouse"))
        # pin the heap (-Xms == -Xmx): heap grow/uncommit cycles turn
        # into kernel page-fault/compaction churn that shows up as
        # 50-80% system time at high core counts on virtualized hosts;
        # ParallelGC for the same reason: G1 spreads its eden regions
        # over the whole pinned heap, so a job that allocates little
        # (the one-UDF pipeline) faults in fresh pages, and its RSS
        # grows, for its first ~10 runs; ParallelGC reuses one
        # contiguous eden, so RSS is flat from the first run on;
        # derby.system.home keeps the metastore next to the warehouse
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -Xms"
                + os.environ.get("SPARK_DRIVER_MEMORY", "8g")
                + " -Dderby.system.home="
                + os.environ.get("SPARK_WAREHOUSE_DIR",
                                 "/tmp/pii_spark_warehouse"))
    )
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS")
    if cores:
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    parallelism = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(shuffle_partitions or max(2 * parallelism, 32)))
    return spark
