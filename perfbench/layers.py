"""The traced run: untraced and traced passes of the workload's job,
then each layer's public entry point timed from outside.

Every layer call runs in a span: its own Spark job group, wall and CPU
time, and the jobs and failed tasks ``statusTracker()`` reports for
that group. Spans (layer, start, end, parent) are kept in memory and
written to ``.perfbench_work/trace-<workload>-seed<n>.json`` at the end.
"""

import json
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Dict, List

from pyspark.sql import functions as F

from pii_extract_base_spark.functions.decision import decision_columns
from pii_extract_base_spark.functions.quality import rules_struct_column
from pii_extract_base_spark.functions.scoring import score_batch
from pii_extract_base_spark.functions.scrubnative import scrub_expr
from pii_extract_base_spark.operators.dedup import (
    dedup_corpus, lsh_candidate_pairs, ngram_jaccard_pairs)
from pii_extract_base_spark.operators.detect import (
    detect_batch, make_fused_udf)
from pii_extract_base_spark.partitioning import salted_repartition
from pii_extract_base_spark.pipeline import DEFAULT_LANGUAGES
from pii_extract_base_spark.registry.factory import make_processor
from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
from workload import WORK, timed_pass

# dedup_corpus's defaults, so the pair counts describe the same LSH pass
DEDUP_K, DEDUP_PERM, DEDUP_BAND, DEDUP_FAMILY = 5, 8, 2, "md5slice"
DEDUP_MAX_BUCKET, DEDUP_JACCARD = 500, 0.8
REGISTRY_BUILDS = 20
SINK_PARTITIONS = 4           # the sink probe commits 4 partitions ...
SINK_WAVE_SIZE = 2            # ... in 2 waves
# traced? for each pass of the job; ABBA, so a steady speed-up over the
# passes cancels out of trace.overhead_frac
PASS_ORDER = (False, True, True, False)
GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, tree, cores: int):
        self.sc = spark.sparkContext
        self.tree = tree
        self.cores = cores
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, layer: str, in_process: bool = False):
        """A span around one layer call. ``in_process`` layers run on
        this thread, so their CPU is the thread's and they have one
        core; Spark layers are charged the whole process tree's CPU
        over ``cores``."""
        rec = {"id": len(self.spans), "layer": layer,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        group = f"{layer}#{rec['id']}"
        outer = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        self._stack.append(rec["id"])
        cpu0 = time.thread_time() if in_process else self.tree.cpu_s()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - t0
            cpu = ((time.thread_time() if in_process else self.tree.cpu_s())
                   - cpu0)
            rec["end"] = rec["start"] + wall
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, outer)
            jobs, failed = self._jobs(group)
            cores = 1 if in_process else self.cores
            rec.update(wall_s=wall, cpu_s=cpu, job_ids=jobs,
                       jobs=len(jobs), tasks_failed=failed,
                       idle_frac=1 - cpu / (wall * cores))

    def child(self, parent: Dict, layer: str, start: float,
              end: float) -> None:
        """A span known only after the fact (a sink wave)."""
        self.spans.append({"id": len(self.spans), "layer": layer,
                           "parent": parent["id"], "start": start,
                           "end": end, "wall_s": end - start})

    def _jobs(self, group: str):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        ids = sorted(st.getJobIdsForGroup(group))
        failed = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stage = st.getStageInfo(s)
                failed += stage.numFailedTasks if stage else 0
        return ids, failed

    def job_busy_s(self, rec: Dict) -> float:
        """Seconds of ``rec``'s interval during which a job of its
        group was running (the union of the job intervals)."""
        store = self.sc._jsc.sc().statusStore()
        lo, hi = rec["start"] * 1000, rec["end"] * 1000
        spans = []
        for j in rec["job_ids"]:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and \
                    jd.completionTime().isDefined():
                a = max(lo, jd.submissionTime().get().getTime())
                b = min(hi, jd.completionTime().get().getTime())
                if b > a:
                    spans.append((a, b))
        busy, cur = 0.0, None
        for a, b in sorted(spans):
            if cur is None or a > cur[1]:
                if cur is not None:
                    busy += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            busy += cur[1] - cur[0]
        return busy / 1000

    def write(self, path: Path) -> None:
        path.write_text(json.dumps({"spans": self.spans}, indent=1))


def _layer(prefix: str, rec: Dict) -> Dict[str, float]:
    return {f"{prefix}.jobs": rec["jobs"],
            f"{prefix}.tasks_failed": rec["tasks_failed"],
            f"{prefix}.idle_frac": rec["idle_frac"]}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sink_metrics(tracer: Tracer, rec: Dict, marks: List[float],
                  table: Path) -> Dict[str, float]:
    """Waves start where the sink calls the transform; the last ends
    with run()."""
    bounds = marks + [rec["end"]]
    waves = [b - a for a, b in zip(bounds, bounds[1:])]
    for a, b in zip(bounds, bounds[1:]):
        tracer.child(rec, "sinks.checkpoint.wave", a, b)
    written = sum(p.stat().st_size for p in table.rglob("*") if p.is_file())
    return {
        "sinks.checkpoint.wave_s": statistics.median(waves),
        "sinks.checkpoint.commit_ms":
            1000 * (rec["wall_s"] - tracer.job_busy_s(rec)),
        "sinks.checkpoint.jobs_per_wave": rec["jobs"] / len(waves),
        "sinks.checkpoint.bytes_written": written,
        **_layer("sinks.checkpoint", rec),
    }


def traced_run(w, tree, seed: int):
    """Returns (per-layer metrics, passes attempted, passes failed). One
    root span holds every other; jobs outside the layer calls (the
    probes' own reads and writes) fall to it."""
    tracer = Tracer(w.spark, tree, w.cores)
    with tracer.span(f"trace.{w.name}"):
        result = _layer_calls(w, tree, tracer)
    tracer.write(WORK / f"trace-{w.name}-seed{seed}.json")
    return result


def _layer_calls(w, tree, tracer: Tracer):
    spark, cores = w.spark, w.cores
    out: Dict[str, float] = {}

    # -- the workload job, untraced and traced in turn ------------------------
    walls: Dict[bool, List[float]] = {False: [], True: []}
    attempted = failed = 0
    for traced in PASS_ORDER:
        m, error = timed_pass(
            w, tree, "traced pass" if traced else "untraced pass",
            span=tracer.span("pipeline.full") if traced else None)
        attempted += 1
        failed += bool(error)
        if m is not None:
            walls[traced].append(m.wall_s)
    if walls[False] and walls[True]:
        out["trace.overhead_frac"] = (statistics.median(walls[True])
                                      / statistics.median(walls[False]) - 1)

    df = spark.read.parquet(w.input_path)
    recs = w.inputs.records
    texts = [r["text"] for r in recs]
    docs = len(recs)

    # -- sources and partitioning ---------------------------------------------
    with tracer.span("sources") as rec:
        _noop(spark.read.parquet(w.input_path))
    out["sources.scan_s"] = rec["wall_s"]
    out.update(_layer("sources", rec))

    with tracer.span("partitioning") as rec:
        sizes = sorted(r.b for r in (
            salted_repartition(df, "url", 2 * cores)
            .groupBy(F.spark_partition_id())
            .agg(F.sum(F.octet_length("text")).alias("b")).collect()))
    out["partitioning.skew"] = sizes[-1] / statistics.median(sizes)
    out.update(_layer("partitioning", rec))

    # -- Python kernels in-process --------------------------------------------
    score_batch(texts[:8])
    with tracer.span("functions.scoring", in_process=True) as rec:
        score_batch(texts)
    scoring_cpu = rec["cpu_s"]
    out["functions.scoring.us_per_doc"] = 1e6 * rec["wall_s"] / docs
    out["functions.scoring.cpu_s"] = scoring_cpu
    out.update(_layer("functions.scoring", rec))

    langs = [r["lang"] for r in recs]
    urls = [r["url"] for r in recs]
    detect_batch(texts[:8], langs[:8], urls[:8], DEFAULT_LANGUAGES,
                 do_scrub=False)
    with tracer.span("operators.detect", in_process=True) as rec:
        _, _, counts = detect_batch(texts, langs, urls, DEFAULT_LANGUAGES,
                                    do_scrub=False)
    detect_cpu = rec["cpu_s"]
    kb = sum(len(t.encode("utf-8")) for t in texts) / 1024
    out["operators.detect.us_per_kb"] = 1e6 * rec["wall_s"] / kb
    out["operators.detect.entities_per_doc"] = sum(counts) / docs
    out.update(_layer("operators.detect", rec))

    builds = []
    with tracer.span("registry", in_process=True) as rec:
        for _ in range(REGISTRY_BUILDS):
            t0 = time.perf_counter()
            make_processor(DEFAULT_LANGUAGES)
            builds.append(time.perf_counter() - t0)
    out["registry.build_ms"] = 1000 * statistics.median(builds)
    out.update(_layer("registry", rec))

    # -- the fused Arrow UDF alone, then the native stages over its output ----
    fused = make_fused_udf(DEFAULT_LANGUAGES)
    sd = fused(F.col("text"), F.col("lang"), F.col("url")).alias("sd")
    with tracer.span("pipeline") as rec:
        _noop(df.select(sd))
    out["pipeline.udf_s"] = rec["wall_s"]
    out["pipeline.udf_cpu_s"] = rec["cpu_s"]
    out["pipeline.kernel_share"] = (scoring_cpu + detect_cpu) / rec["cpu_s"]
    out.update(_layer("pipeline", rec))

    scored_path = str(WORK / f"{w.name}-scored")
    df.select("url", "text", "lang", sd).write.mode("overwrite") \
        .parquet(scored_path)
    scored = spark.read.parquet(scored_path)

    keep, reasons = decision_columns("rules", "lang", "sd")
    with tracer.span("functions.quality") as rec:
        _noop(scored.withColumn("rules", rules_struct_column("text", "lang"))
              .select(keep.alias("keep"), reasons.alias("reasons")))
    out["functions.quality.rules_s"] = rec["wall_s"]
    out.update(_layer("functions.quality", rec))

    with tracer.span("functions.scrubnative") as rec:
        _noop(scored.select(scrub_expr(F.col("text"),
                                       F.col("sd.entities")).alias("s")))
    out["functions.scrubnative.scrub_s"] = rec["wall_s"]
    out.update(_layer("functions.scrubnative", rec))

    # -- dedup, with its LSH candidate and verified-pair counts ---------------
    with tracer.span("operators.dedup") as rec:
        kept = dedup_corpus(df, text_col="text", id_col="url").count()
    out["operators.dedup.s"] = rec["wall_s"]
    out["operators.dedup.dropped_frac"] = 1 - kept / docs
    out.update(_layer("operators.dedup", rec))
    with tracer.span("operators.dedup.pairs"):
        cand = lsh_candidate_pairs(
            df, "text", "url", DEDUP_K, DEDUP_PERM, DEDUP_BAND,
            DEDUP_FAMILY, DEDUP_MAX_BUCKET).localCheckpoint()
        n_cand = cand.count()
        n_near = (ngram_jaccard_pairs(df, cand, "text", "url", DEDUP_K)
                  .where(F.col("jaccard") >= DEDUP_JACCARD).count())
    out["operators.dedup.candidate_pairs"] = n_cand
    out["operators.dedup.yield"] = n_near / n_cand if n_cand else 0.0

    # -- the checkpointed sink over this workload's input ---------------------
    marks: List[float] = []

    def marking(df):
        marks.append(time.time())
        return w.transform(df)

    table = WORK / f"{w.name}-sink-probe"
    shutil.rmtree(table, ignore_errors=True)
    sink = CheckpointedSink(str(table), n_partitions=SINK_PARTITIONS)
    with tracer.span("sinks.checkpoint") as rec:
        sink.run(df, transform=marking, wave_size=SINK_WAVE_SIZE)
    out.update(_sink_metrics(tracer, rec, marks, table))

    return out, attempted, failed
