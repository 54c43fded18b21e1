"""Checkpointed, resumable table sink with per-partition lineage
(north-star stage N8).

Iceberg is the design target (hidden partitioning + snapshot commits);
its Spark runtime jars are absent in this sandbox (SURVEY.md preamble),
so the default backend is a parquet + JSON-manifest shim with the same
commit semantics:

 - work is split into logical partitions: part_id = pmod(xxhash64(url), P)
 - each partition is processed and written to  <table>/part_id=<k>/
 - a manifest line (partition id, input fingerprint, rows in/kept,
   per-type entity counts, wall ms, commit ts) is appended in O(1)
   (single-line append + fsync) after the partition's files land;
   crash atomicity is line-level — a torn final line fails JSON
   parsing and is skipped by readers, so the surviving prefix is
   always a consistent snapshot (a full rewrite-and-rename per commit
   would be O(N²) I/O over N partitions)
 - per-partition metrics come from `DataFrame.observe()` aggregates
   attached to the WRITE pass itself — zero extra scans: no input
   re-read, no output re-read (round 1 re-read output 3x, round 2 1x)
 - resume = skip every partition already in the manifest; a re-run
   after failure converges to exactly the same table with no duplicate
   partitions (tested in tests/test_checkpoint_resume.py)

At cluster scale the same loop runs wave-per-partition-group with the
part_id filter pushed into an Iceberg/parquet partition prune, so a
resume never rescans committed input.
"""

import json
import os
import shutil
import time
from pathlib import Path
from typing import Callable, Dict, List, Optional, Set

from pyspark.sql import DataFrame, Observation, functions as F

from ..kernel.model import PiiEnum

MANIFEST = "_manifest.jsonl"
# the manifest's ``stage`` of every commit
STAGE = "quality_pipeline"
# rows are assigned to partitions by pmod(xxhash64(KEY_COL), P)
KEY_COL = "url"
# the closed set of entity-type values the transform can emit, used to
# build the per-type observe() aggregates (metrics are computed DURING
# the write job, so the type set must be known at plan time); entities
# whose type is NULL or outside the set are counted under ``_untyped``
# instead of silently skewing row counts (ADVICE r2)
ENTITY_TYPES = tuple(t.value for t in PiiEnum)
METRICS_SCHEMA = ("partition_id int, input_fingerprint string, rows_in long, "
                  "rows_kept long, entities map<string,long>, wall_ms long, "
                  "stage string, committed_at timestamp")


class CheckpointedSink:
    def __init__(self, table_path: str, n_partitions: int = 8):
        self.path = Path(table_path)
        self.n_partitions = n_partitions
        self.path.mkdir(parents=True, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    @property
    def _manifest_path(self) -> Path:
        return self.path / MANIFEST

    def committed_partitions(self) -> Set[int]:
        return {e["partition_id"] for e in self.manifest_entries()}

    def manifest_entries(self) -> List[Dict]:
        if not self._manifest_path.exists():
            return []
        out = []
        with open(self._manifest_path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    out.append(json.loads(line))
                except ValueError:
                    # torn tail from a crash mid-append: the commit it
                    # belonged to never completed, so skipping it keeps
                    # the manifest a consistent snapshot prefix
                    continue
        return out

    def _append_manifest(self, entry: Dict) -> None:
        """O(1) append: one JSON line + flush + fsync (round 2 rewrote
        the WHOLE manifest per commit — O(N²) lines over N partitions).
        Crash atomicity is line-level (see manifest_entries); if a
        prior crash left a torn tail WITHOUT its newline, heal it
        first so this commit's line never concatenates onto the
        fragment (which would make BOTH unparseable and silently lose
        this commit on resume)."""
        with open(self._manifest_path, "a+b") as f:
            f.seek(0, os.SEEK_END)
            if f.tell() > 0:
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    f.write(b"\n")
            f.write(json.dumps(entry).encode("utf-8") + b"\n")
            f.flush()
            os.fsync(f.fileno())

    # -- write ----------------------------------------------------------------

    def run(self, pages: DataFrame,
            transform: Callable[[DataFrame], DataFrame],
            input_fingerprint: str = "",
            wave_size: int = 1) -> int:
        """Process + commit every uncommitted partition.

        :param transform: pages-DF → output-DF (must keep KEY_COL and
            expose keep/entities columns for metrics)
        :param wave_size: partitions processed per Spark job. 1 = one
            input scan per partition (smallest commit granularity);
            W > 1 amortizes the scan across W partitions — at corpus
            scale the input is read ceil(N/W) times instead of N, while
            commit granularity (and hence redo-after-crash work) stays
            one WAVE. Against an Iceberg/hive-partitioned input the
            `_part_id IN (...)` filter prunes instead of rescanning.
        :return: number of partitions committed in THIS run
        """
        part = F.pmod(F.xxhash64(F.col(KEY_COL)),
                      F.lit(self.n_partitions)).cast("int")
        pages = pages.withColumn("_part_id", part)
        done = self.committed_partitions()
        committed = 0

        todo = [k for k in range(self.n_partitions) if k not in done]
        waves = [todo[i:i + wave_size]
                 for i in range(0, len(todo), wave_size)]
        for wave in waves:
            t0 = time.time()
            subset = pages.where(F.col("_part_id").isin(wave))
            out = transform(subset.drop("_part_id"))
            # one pass writes every partition dir of the wave; the
            # observe() aggregates piggyback on that same job, so the
            # per-partition metrics cost ZERO extra scans (round 1
            # re-read the output 3x, round 2 1x)
            out_part = F.pmod(F.xxhash64(F.col(KEY_COL)),
                              F.lit(self.n_partitions)).cast("int")
            staged = out.withColumn("part_id", out_part)
            obs = Observation()
            staged = staged.observe(
                obs, *self._observe_aggs(wave, out.columns))
            wave_tmp = self.path / "_wave_tmp"
            (staged.write.mode("overwrite")
                   .partitionBy("part_id").parquet(str(wave_tmp)))
            # wall_ms covers exactly the transform+write job (ADVICE
            # r2: metrics no longer run a separate timed job)
            wall_ms = int((time.time() - t0) * 1000)
            metrics = self._metrics_from_observation(obs.get, wave,
                                                     out.columns)

            empty_out = None
            for k in wave:
                src = wave_tmp / f"part_id={k}"
                dst = self.path / f"part_id={k}"
                if dst.exists():
                    shutil.rmtree(dst)
                if src.exists():
                    os.replace(src, dst)
                else:
                    # schema-bearing empty partition: read() stays
                    # uniform and never hits schema inference on an
                    # empty dir. Built from an empty LocalRelation —
                    # NOT out.where(False), which would re-trigger the
                    # transform lineage once per empty partition
                    if empty_out is None:
                        empty_out = out.sparkSession.createDataFrame(
                            [], out.schema)
                    empty_out.write.mode("overwrite").parquet(str(dst))

                m = metrics.get(k, {"rows_in": 0, "rows_kept": 0,
                                    "entities": {}})
                self._append_manifest({
                    "partition_id": k,
                    "input_fingerprint": input_fingerprint,
                    "rows_in": m["rows_in"],
                    "rows_kept": m["rows_kept"],
                    "entities": m["entities"],
                    "wall_ms": wall_ms // len(wave),
                    "stage": STAGE,
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                })
                committed += 1
        wave_tmp = self.path / "_wave_tmp"
        if wave_tmp.exists():
            shutil.rmtree(wave_tmp)
        return committed

    def _observe_aggs(self, wave: List[int], columns) -> List[F.Column]:
        """observe() aggregate columns computing every per-partition
        metric inside the write job itself. Per partition k of the
        wave: rows in, rows kept, one count per known entity type, and
        an ``_untyped`` bucket for NULL/unknown types (a NULL-typed
        entity must never fold into the row counts — ADVICE r2).

        Cost: wave_size × (3 + n_types) conditional sums evaluated
        per row during the write — no shuffle, no extra scan at any
        corpus size. Types are counted with native array functions
        (size/array_remove), not `filter` lambdas, which Spark
        interprets outside codegen."""
        kept = (F.col("keep").cast("long") if "keep" in columns
                else F.lit(1).cast("long"))
        n_types = []
        if "entities" in columns:
            types = F.coalesce(F.col("entities.type"),
                               F.array().cast("array<string>"))
            # array_remove keeps NULL elements, so a NULL type is
            # counted by no n_t and lands in _untyped
            n_types = [F.size(types) - F.size(F.array_remove(types, t))
                       for t in ENTITY_TYPES]
            n_untyped = F.size(types) - sum(n_types, F.lit(0))
        aggs = []
        for k in wave:
            is_k = F.col("part_id") == k
            aggs.append(F.sum(is_k.cast("long")).alias(f"in_{k}"))
            aggs.append(F.sum(F.when(is_k, kept).otherwise(F.lit(0)))
                         .alias(f"kept_{k}"))
            if "entities" not in columns:
                continue
            for i, n_t in enumerate(n_types):
                aggs.append(F.sum(F.when(is_k, n_t).otherwise(F.lit(0)))
                             .alias(f"ent_{k}_{i}"))
            aggs.append(F.sum(F.when(is_k, n_untyped).otherwise(F.lit(0)))
                         .alias(f"ent_{k}_x"))
        return aggs

    def _metrics_from_observation(self, vals: Dict, wave: List[int],
                                  columns) -> Dict[int, Dict]:
        out: Dict[int, Dict] = {}
        for k in wave:
            ents: Dict[str, int] = {}
            if "entities" in columns:
                for i, t in enumerate(ENTITY_TYPES):
                    n = int(vals.get(f"ent_{k}_{i}") or 0)
                    if n:
                        ents[t] = n
                n_x = int(vals.get(f"ent_{k}_x") or 0)
                if n_x:
                    ents["_untyped"] = n_x
            out[k] = {"rows_in": int(vals.get(f"in_{k}") or 0),
                      "rows_kept": int(vals.get(f"kept_{k}") or 0),
                      "entities": ents}
        return out

    # -- maintenance (Iceberg procedure equivalents) ---------------------------

    def compact_partitions(self, spark, target_files: int = 1) -> int:
        """Small-file compaction — the shim's `rewrite_data_files`
        (Iceberg spark procedure): each committed partition dir is
        rewritten into ``target_files`` parquet files.  A wave written
        at high parallelism leaves one file per task per partition;
        at 1000 executors × small partitions that is the classic
        many-small-files read-amplification problem, and compaction is
        a normal scheduled maintenance pass, not a luxury.

        Row content is unchanged, so `read()` (including time-travel
        prefixes that span the partition) returns identical rows.
        Crash-safe: each dir is rewritten to a temp sibling, the live
        dir is parked as `_compact_old_k`, the new dir renamed in, the
        old removed (directory renames are atomic on POSIX; a rename
        ONTO a non-empty dir is not possible, hence the park step).  A
        crash between the park and the swap leaves `part_id=k` absent
        with `_compact_old_k` holding the only copy —
        `_recover_compaction()` (run here and by `vacuum`) restores it
        before anything else happens.  Returns the number of
        partitions rewritten."""
        self._recover_compaction()
        rewritten = 0
        for k in sorted(self.committed_partitions()):
            dst = self.path / f"part_id={k}"
            if not dst.exists():
                continue
            n_files = sum(1 for p in dst.iterdir()
                          if p.suffix == ".parquet")
            if n_files <= target_files:
                continue
            tmp = self.path / f"_compact_tmp_{k}"
            (spark.read.parquet(str(dst))
                  .coalesce(target_files)
                  .write.mode("overwrite").parquet(str(tmp)))
            old = self.path / f"_compact_old_{k}"
            os.replace(dst, old)
            os.replace(tmp, dst)
            shutil.rmtree(old)
            rewritten += 1
        return rewritten

    def _recover_compaction(self) -> None:
        """Roll a crashed compaction forward/back: a `_compact_old_k`
        whose live dir is MISSING is the sole copy of committed data
        (crash between park and swap) — restore it; one whose live dir
        exists is a finished swap's leftover — delete it.  `_compact_
        tmp_*` is always incomplete output — delete."""
        for p in sorted(self.path.glob("_compact_old_*")):
            k = p.name.rsplit("_", 1)[1]
            dst = self.path / f"part_id={k}"
            if dst.exists():
                shutil.rmtree(p)
            else:
                os.replace(p, dst)
        for p in sorted(self.path.glob("_compact_tmp_*")):
            shutil.rmtree(p)

    def vacuum(self) -> List[str]:
        """Remove orphans — the shim's `remove_orphan_files`: leftover
        `_wave_tmp` / `_compact_tmp_*` staging dirs and any
        `part_id=k` dir with NO manifest entry (a crash between the
        data move and the manifest append leaves one; resume rewrites
        it anyway, but until then it is dead weight readers must not
        see — and `read()` already ignores it because the manifest is
        the source of truth).  Runs compaction recovery FIRST so a
        parked `_compact_old_k` backing a missing live dir is restored,
        never deleted.  Returns the removed paths."""
        self._recover_compaction()
        removed = []
        committed = self.committed_partitions()
        for p in sorted(self.path.iterdir()):
            name = p.name
            orphan = (name.startswith("_wave_tmp")
                      or name.startswith("_compact_"))
            if name.startswith("part_id="):
                try:
                    orphan = int(name.split("=", 1)[1]) not in committed
                except ValueError:
                    orphan = True
            if orphan:
                shutil.rmtree(p) if p.is_dir() else p.unlink()
                removed.append(str(p))
        return removed

    # -- read ------------------------------------------------------------------

    def read(self, spark, as_of_commit: Optional[int] = None,
             as_of_ts: Optional[str] = None) -> DataFrame:
        """Read only COMMITTED partitions (uncommitted files invisible —
        the manifest is the source of truth, like an Iceberg snapshot).

        Time travel: each manifest append is a snapshot, and committed
        partition data is immutable (resume never rewrites a committed
        partition), so a PREFIX of the manifest is a consistent
        point-in-time view. ``as_of_commit=i`` reads the state after
        the i-th commit (0-based); ``as_of_ts`` reads the state as of
        an ISO timestamp (inclusive)."""
        entries = self.manifest_entries()
        if as_of_commit is not None:
            entries = entries[:as_of_commit + 1]
        if as_of_ts is not None:
            entries = [e for e in entries if e["committed_at"] <= as_of_ts]
        done = sorted({e["partition_id"] for e in entries})
        if not done:
            raise FileNotFoundError(
                f"no committed partitions in {self.path} for the "
                f"requested snapshot")
        paths = [str(self.path / f"part_id={k}") for k in done]
        return spark.read.parquet(*paths)

    def diff(self, spark, from_commit: int,
             to_commit: Optional[int] = None) -> DataFrame:
        """Incremental scan (Iceberg changelog equivalent): the rows
        APPENDED strictly after commit ``from_commit`` and up to
        ``to_commit`` (inclusive; default = latest). The table is
        append-only with immutable committed partitions, so a manifest
        slice IS the changelog — this is the primitive an incremental
        consumer (e.g. `dedup_incremental`'s new batch, or a training
        job that wants only what landed since its last run) reads
        instead of re-scanning the table. ``from_commit=-1`` returns
        everything up to ``to_commit``. Bounds are validated like
        ``read``'s ``as_of_commit``: ``from_commit`` >= -1 and
        ``to_commit`` (when given) inside [0, n_commits) — a negative
        slice would silently return the wrong commit range."""
        entries = self.manifest_entries()
        if not entries:
            raise FileNotFoundError(f"no commits in {self.path}")
        if from_commit < -1:
            raise ValueError(f"from_commit must be >= -1: {from_commit}")
        if to_commit is not None and not 0 <= to_commit < len(entries):
            raise ValueError(
                f"to_commit out of range [0, {len(entries) - 1}]: "
                f"{to_commit}")
        hi = len(entries) - 1 if to_commit is None else to_commit
        new = sorted({e["partition_id"]
                      for e in entries[from_commit + 1: hi + 1]})
        if not new:
            # empty diff, schema-bearing: latest committed partition, 0 rows
            any_part = entries[-1]["partition_id"]
            return (spark.read
                    .parquet(str(self.path / f"part_id={any_part}"))
                    .limit(0))
        return spark.read.parquet(
            *[str(self.path / f"part_id={k}") for k in new])

    def metrics(self, spark) -> DataFrame:
        """The _metrics lineage table (FIXTURES.md §3.3)."""
        entries = self.manifest_entries()
        rows = [(e["partition_id"], e["input_fingerprint"], e["rows_in"],
                 e["rows_kept"], e["entities"], e["wall_ms"], e["stage"],
                 e["committed_at"]) for e in entries]
        import datetime
        rows = [r[:-1] + (datetime.datetime.fromisoformat(r[-1]),)
                for r in rows]
        return spark.createDataFrame(rows, METRICS_SCHEMA)
