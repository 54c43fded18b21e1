#!/usr/bin/env python3
r"""The repository benchmark: seeded inputs -> QualityPipeline ->
oracle-checked outputs -> one JSON line of metrics.

    python3 perfbench/run.py --workload webpages --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` repeats the workload's job
for ``--seconds`` and prints the end-to-end metrics; ``--trace 1`` runs
it untraced and traced in turn, times each layer's entry point from
outside, and prints the per-layer metrics (see perfbench/README.md).
Everything the run writes goes to ``.perfbench_work/`` in the repository
root. The last stdout line is the result.
"""

import argparse
import json
import os
import statistics
import sys
import time

from workload import ROOT, WORK, Workload, stop_session, timed_pass

# the share of a pass's core-seconds the host may steal before the pass
# is left out of the medians (it is still checked and counted)
STEAL_LIMIT = 0.05


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("webpages", "longdocs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    size the driver heap under host RAM. Runs before pyspark starts."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    for d in ("spark-local", "warehouse", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(2048, mem_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = str(WORK / "warehouse")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))


def end_to_end(w: Workload, tree, seconds: float, setup_s: float):
    """Repeat the job for ``seconds``; medians over the unthrottled
    passes."""
    ok, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while True:
        attempted += 1
        m, error = timed_pass(w, tree, f"pass {attempted}")
        if error:
            failed += 1
        else:
            ok.append(m)
        if time.perf_counter() >= deadline:
            break
    if not ok:
        raise RuntimeError(f"{w.name}: every pass failed")
    # a pass the host throttles runs slower and is charged more CPU,
    # whatever the code does; if every pass was throttled, keep them all
    calm = [m for m in ok
            if m.steal_s <= STEAL_LIMIT * m.wall_s * w.cores] or ok
    docs = w.inputs.docs
    metrics = {
        "docs_per_s": statistics.median(docs / m.wall_s for m in calm),
        "cpu_s_per_kdoc": statistics.median(1000 * m.cpu_s / docs
                                            for m in calm),
        "peak_rss_mb": statistics.median(m.peak_rss_mb for m in calm),
        "setup_s": setup_s,
    }
    return metrics, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    configure_env()
    import inputs
    from procstat import ProcTree

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]

    cores = host_cores()
    data = inputs.GENERATORS[args.workload](args.seed)
    print(f"[{args.workload}] input seed {args.seed}: "
          f"{json.dumps(data.stats())}", flush=True)
    w = Workload(data, cores, inputs.oracle_digest(data.records))
    tree = ProcTree()
    try:
        setup_s = w.set_up()
        print(f"[{w.name}] set-up: {setup_s:.3f} s (local[{cores}])",
              flush=True)
        if args.trace:
            from layers import traced_run
            values, attempted, failed = traced_run(w, tree, args.seed)
        else:
            values, attempted, failed = end_to_end(w, tree, args.seconds,
                                                   setup_s)
    finally:
        if w.spark is not None:
            stop_session(w.spark, tree)

    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
