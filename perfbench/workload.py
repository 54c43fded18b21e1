"""A workload's inputs, Spark session, timed job and output check."""

import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WARMUP_PASSES = 2


def start_session(cores: int):
    from pii_extract_base_spark.config import get_spark
    spark = get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext
    from procstat import reap
    started = tree.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()      # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    killed = reap(started)
    if killed:
        print(f"killed leftover processes {killed}", file=sys.stderr)


def digest_agg(df):
    """(rows, kept, entities, sum md5 bits 0-31, sum bits 32-63) over
    (url, keep, n_entities, scrubbed_text); inputs.oracle_digest builds
    the same tuple in Python."""
    from pyspark.sql import functions as F
    from inputs import DIGEST_SEP
    h = F.md5(F.concat_ws(DIGEST_SEP, F.col("url"),
                          F.col("keep").cast("string"),
                          F.col("n_entities").cast("string"),
                          F.coalesce(F.col("scrubbed_text"), F.lit(""))))

    def bits(start):
        return F.coalesce(F.sum(F.conv(F.substring(h, start, 8), 16, 10)
                                .cast("long")), F.lit(0))
    return df.agg(F.count(F.lit(1)),
                  F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)),
                  F.coalesce(F.sum(F.col("n_entities").cast("long")),
                             F.lit(0)),
                  bits(1), bits(9))


class Workload:
    """One workload's inputs, its timed job and the job's output check
    against ``oracle``, the oracle digest of the same inputs."""

    def __init__(self, inputs, cores: int, oracle):
        self.inputs = inputs
        self.name = inputs.workload
        self.cores = cores
        self.oracle = oracle
        self.input_path = str(WORK / f"{self.name}-input")
        self.spark = self.pipe = None

    def set_up(self) -> float:
        """Launch the JVM and start the Spark session, write the input
        parquet, build the pipeline and run the job WARMUP_PASSES times
        untimed. Returns the seconds it took."""
        from pii_extract_base_spark.pipeline import QualityPipeline
        from inputs import write_parquet
        t0 = time.perf_counter()
        self.spark = start_session(self.cores)
        marks = [time.perf_counter()]
        write_parquet(self.inputs.records, Path(self.input_path),
                      2 * self.cores)
        self.pipe = QualityPipeline(salt_partitions=2 * self.cores)
        marks.append(time.perf_counter())
        for _ in range(WARMUP_PASSES):
            self.job()
            marks.append(time.perf_counter())
        steps = [b - a for a, b in zip([t0] + marks, marks)]
        print(f"[{self.name}] set-up steps: session {steps[0]:.3f} s, "
              f"input {steps[1]:.3f} s, warm-up "
              + ", ".join(f"{s:.3f} s" for s in steps[2:]), flush=True)
        return marks[-1] - t0

    def transform(self, df):
        return self.pipe(df).drop("rules")

    def job(self):
        """The timed work: the pipeline over the input parquet, ending in
        the digest aggregate."""
        df = self.spark.read.parquet(self.input_path)
        return tuple(digest_agg(self.pipe(df)).collect()[0])

    def check(self, result) -> str:
        """'' if the job's output is right, else what is wrong."""
        return "" if result == self.oracle else \
            f"digest {result} != oracle {self.oracle}"


def timed_pass(w: Workload, tree, label: str, span=None):
    """One checked pass of the workload's job, inside ``span`` if given.
    Returns (meter, error)."""
    from procstat import PassMeter
    error = ""
    try:
        with PassMeter(tree) as m, (span or nullcontext()):
            result = w.job()
        error = w.check(result)
    except Exception as e:          # a raising pass counts as failed
        import traceback
        traceback.print_exc()
        m, error = None, f"{type(e).__name__}: {e}"
    if m is not None:
        docs = w.inputs.docs
        print(f"[{w.name}] {label}: {m.wall_s:.3f} s, "
              f"{docs / m.wall_s:.1f} docs/s, cpu {m.cpu_s:.2f} s, "
              f"peak rss {m.peak_rss_mb:.0f} MB, "
              f"host steal {m.steal_s:.2f} s, "
              f"{'ok' if not error else 'FAILED: ' + error}", flush=True)
    else:
        print(f"[{w.name}] {label}: FAILED: {error}", flush=True)
    return m, error
