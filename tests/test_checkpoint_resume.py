"""Resume idempotency (BASELINE.md): kill after partition k, re-run,
final table identical to a clean one-shot run, no duplicate partitions."""

import shutil
from unittest import mock

import pytest

from pii_extract_base_spark.pipeline import QualityPipeline
from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
from pii_extract_base_spark.sources.pages import synth_pages
from pii_extract_base_spark.registry.factory import registry_fingerprint

SF_DIR = "/root/testdata/sf0.001"
N_PARTS = 4


def _table_rows(spark, sink):
    df = sink.read(spark).select("url", "keep", "scrubbed_text",
                                 "n_entities")
    return sorted(tuple(r) for r in df.collect())


def _crash_after(sink, n):
    """Patch ``sink`` to crash right after its n-th manifest append of
    a run: n partitions committed, the rest not."""
    real, appended = sink._append_manifest, []

    def append(entry):
        real(entry)
        appended.append(entry)
        if len(appended) == n:
            raise RuntimeError(f"simulated failure after {n} partitions")
    return mock.patch.object(sink, "_append_manifest", append)


@pytest.fixture()
def pipe():
    p = QualityPipeline(("en", "es", "fr", "de"))
    return lambda df: p(df).drop("rules")


def test_failure_then_resume(spark, tmp_path, pipe):
    pages = synth_pages(spark, SF_DIR).limit(200).cache()
    fp = registry_fingerprint(("en", "es", "fr", "de"))

    # clean one-shot reference run
    ref = CheckpointedSink(str(tmp_path / "ref"), n_partitions=N_PARTS)
    n = ref.run(pages, pipe, input_fingerprint=fp)
    assert n == N_PARTS
    ref_rows = _table_rows(spark, ref)

    # crash after 2 partitions
    sink = CheckpointedSink(str(tmp_path / "tbl"), n_partitions=N_PARTS)
    with _crash_after(sink, 2), \
            pytest.raises(RuntimeError, match="simulated failure"):
        sink.run(pages, pipe, input_fingerprint=fp)
    assert len(sink.committed_partitions()) == 2

    # resume: only the remaining partitions run
    n2 = sink.run(pages, pipe, input_fingerprint=fp)
    assert n2 == N_PARTS - 2
    assert sink.committed_partitions() == set(range(N_PARTS))

    # identical final table, no duplicate partitions
    assert _table_rows(spark, sink) == ref_rows

    # second resume is a no-op
    assert sink.run(pages, pipe, input_fingerprint=fp) == 0
    assert _table_rows(spark, sink) == ref_rows


def test_metrics_lineage(spark, tmp_path, pipe):
    pages = synth_pages(spark, SF_DIR).limit(100)
    fp = registry_fingerprint(("en", "es", "fr", "de"))
    sink = CheckpointedSink(str(tmp_path / "tbl"), n_partitions=2)
    sink.run(pages, pipe, input_fingerprint=fp)

    m = sink.metrics(spark)
    rows = {r.partition_id: r for r in m.collect()}
    assert set(rows) == {0, 1}
    assert sum(r.rows_in for r in rows.values()) == 100
    for r in rows.values():
        assert r.input_fingerprint == fp
        assert r.stage == "quality_pipeline"
        assert r.wall_ms > 0
        assert r.rows_kept <= r.rows_in


def test_wave_commits_match_single_partition_runs(spark, tmp_path, pipe):
    """wave_size>1 (one input scan per wave) must produce the identical
    final table and manifest coverage as wave_size=1, including
    crash-resume at a mid-wave commit boundary."""
    pages = synth_pages(spark, SF_DIR).limit(200).cache()
    fp = registry_fingerprint(("en", "es", "fr", "de"))

    ref = CheckpointedSink(str(tmp_path / "ref"), n_partitions=N_PARTS)
    ref.run(pages, pipe, input_fingerprint=fp)
    ref_rows = _table_rows(spark, ref)

    wave = CheckpointedSink(str(tmp_path / "wave"), n_partitions=N_PARTS)
    with _crash_after(wave, 3), \
            pytest.raises(RuntimeError, match="simulated failure"):
        # crashes mid-second-wave
        wave.run(pages, pipe, input_fingerprint=fp, wave_size=2)
    assert len(wave.committed_partitions()) == 3
    n2 = wave.run(pages, pipe, input_fingerprint=fp, wave_size=2)
    assert n2 == 1
    assert _table_rows(spark, wave) == ref_rows
    assert wave.run(pages, pipe, input_fingerprint=fp, wave_size=2) == 0


def test_empty_input_commits_schema_bearing_partitions(spark, tmp_path,
                                                       pipe):
    """All-empty run: every partition commits, read() returns an empty
    DataFrame WITH the output schema (no schema-inference crash)."""
    from pyspark.sql import functions as F
    pages = synth_pages(spark, SF_DIR).where(F.lit(False))
    sink = CheckpointedSink(str(tmp_path / "empty"), n_partitions=3)
    n = sink.run(pages, pipe)
    assert n == 3
    df = sink.read(spark)
    assert df.count() == 0
    assert "scrubbed_text" in df.columns and "keep" in df.columns
    entries = sink.manifest_entries()
    assert len(entries) == 3
    assert all(e["rows_in"] == 0 and e["entities"] == {} for e in entries)


def test_manifest_metrics_match_table(spark, tmp_path, pipe):
    """The one-pass wave metrics equal ground truth re-computed from the
    committed table."""
    from pyspark.sql import functions as F
    pages = synth_pages(spark, SF_DIR).limit(120).cache()
    sink = CheckpointedSink(str(tmp_path / "m"), n_partitions=3)
    sink.run(pages, pipe, wave_size=3)
    df = sink.read(spark)
    entries = sink.manifest_entries()
    assert sum(e["rows_in"] for e in entries) == df.count()
    assert sum(e["rows_kept"] for e in entries) == \
        df.where("keep").count()
    truth = {r["type"]: r["n"] for r in
             df.select(F.explode("entities").alias("e"))
               .groupBy(F.col("e.type").alias("type"))
               .agg(F.count("*").alias("n")).collect()}
    got = {}
    for e in entries:
        for t, n in e["entities"].items():
            got[t] = got.get(t, 0) + n
    assert got == truth


def test_time_travel_reads(spark, tmp_path, pipe):
    """Snapshot semantics: a manifest prefix is a consistent
    point-in-time view (committed partitions are immutable)."""
    pages = synth_pages(spark, SF_DIR).limit(150).cache()
    sink = CheckpointedSink(str(tmp_path / "tt"), n_partitions=4)
    sink.run(pages, pipe)
    entries = sink.manifest_entries()
    assert len(entries) == 4

    full = sink.read(spark).count()
    # after the 2nd commit only the first two partitions existed
    snap = sink.read(spark, as_of_commit=1)
    assert snap.count() == sum(e["rows_in"] for e in entries[:2])
    assert snap.count() <= full
    # timestamp-based travel: everything as of the last commit == full
    assert sink.read(
        spark, as_of_ts=entries[-1]["committed_at"]).count() == full
    with pytest.raises(FileNotFoundError):
        sink.read(spark, as_of_ts="1970-01-01T00:00:00")


def test_incremental_diff(spark, tmp_path, pipe):
    """diff(i, j) = exactly the rows appended in commits i+1..j; the
    union of consecutive diffs reconstructs the full table."""
    pages = synth_pages(spark, SF_DIR).limit(150).cache()
    sink = CheckpointedSink(str(tmp_path / "d"), n_partitions=4)
    sink.run(pages, pipe)
    entries = sink.manifest_entries()

    full = sink.read(spark).count()
    d01 = sink.diff(spark, from_commit=-1, to_commit=1)
    d23 = sink.diff(spark, from_commit=1)
    assert d01.count() == sum(e["rows_in"] for e in entries[:2])
    assert d23.count() == sum(e["rows_in"] for e in entries[2:])
    assert d01.count() + d23.count() == full
    # disjoint: incremental consumers never see a row twice
    assert d01.select("url").intersect(d23.select("url")).count() == 0
    # empty slice is schema-bearing with zero rows
    empty = sink.diff(spark, from_commit=3)
    assert empty.count() == 0
    assert empty.columns == sink.read(spark).columns
    # r4 ADVICE: commit bounds validated — a from_commit < -1 used to
    # turn into a silent negative python slice
    with pytest.raises(ValueError):
        sink.diff(spark, from_commit=-2)
    with pytest.raises(ValueError):
        sink.diff(spark, from_commit=0, to_commit=len(entries))
    with pytest.raises(ValueError):
        sink.diff(spark, from_commit=0, to_commit=-1)


def test_manifest_torn_tail_and_untyped_entities(spark, tmp_path):
    """O(1)-append manifest semantics: a crash mid-append leaves a torn
    final line that readers skip (the commit never completed); entities
    with NULL/unknown type count under _untyped, never into row counts
    (ADVICE r2)."""
    df = spark.createDataFrame(
        [("u1", True, [("EMAIL_ADDRESS",), (None,)]),
         ("u2", False, None)],
        "url string, keep boolean, entities array<struct<type:string>>")
    sink = CheckpointedSink(str(tmp_path / "t"), n_partitions=2)
    sink.run(df, lambda d: d)
    entries = sink.manifest_entries()
    assert sum(e["rows_in"] for e in entries) == 2
    assert sum(e["rows_kept"] for e in entries) == 1
    ents = {}
    for e in entries:
        for t, n in e["entities"].items():
            ents[t] = ents.get(t, 0) + n
    assert ents == {"EMAIL_ADDRESS": 1, "_untyped": 1}

    with open(sink._manifest_path, "a", encoding="utf-8") as f:
        f.write('{"partition_id": 99, "rows_in"')   # torn tail
    assert sink.committed_partitions() == {0, 1}
    assert len(sink.manifest_entries()) == 2
    # a later commit appends cleanly after the torn line is ignored
    assert sink.run(df, lambda d: d) == 0   # nothing left to do


def test_compaction_and_vacuum(spark, tmp_path, pipe):
    """rewrite_data_files / remove_orphan_files equivalents: compaction
    shrinks per-partition file counts without changing any row (current
    AND time-travel reads); vacuum removes staging leftovers and
    uncommitted partition dirs but never a committed one."""
    pages = synth_pages(spark, SF_DIR).limit(120).repartition(6)
    sink = CheckpointedSink(str(tmp_path / "tbl"), n_partitions=N_PARTS)
    sink.run(pages, pipe, wave_size=N_PARTS)
    before = _table_rows(spark, sink)
    asof_before = sorted(
        tuple(r) for r in sink.read(spark, as_of_commit=1)
        .select("url", "keep").collect())

    def files(k):
        d = tmp_path / "tbl" / f"part_id={k}"
        return [p for p in d.iterdir() if p.suffix == ".parquet"]

    assert any(len(files(k)) > 1 for k in range(N_PARTS))
    n = sink.compact_partitions(spark, target_files=1)
    assert n >= 1
    assert all(len(files(k)) == 1 for k in range(N_PARTS))
    assert _table_rows(spark, sink) == before
    asof_after = sorted(
        tuple(r) for r in sink.read(spark, as_of_commit=1)
        .select("url", "keep").collect())
    assert asof_after == asof_before
    assert sink.compact_partitions(spark) == 0       # idempotent

    # orphans: staging dirs + a partition dir with no manifest entry
    (tmp_path / "tbl" / "_wave_tmp").mkdir()
    (tmp_path / "tbl" / "_compact_tmp_9").mkdir()
    orphan = tmp_path / "tbl" / "part_id=99"
    shutil.copytree(tmp_path / "tbl" / "part_id=0", orphan)
    removed = sink.vacuum()
    # _compact_tmp_9 is swept by the recovery pass (always-incomplete
    # staging), the rest by the orphan sweep
    assert {p.rsplit("/", 1)[1] for p in removed} == \
        {"_wave_tmp", "part_id=99"}
    assert not (tmp_path / "tbl" / "_compact_tmp_9").exists()
    assert _table_rows(spark, sink) == before


def test_compaction_crash_recovery(spark, tmp_path, pipe):
    """A crash between the park and swap renames leaves part_id=k
    missing and _compact_old_k holding the only copy; both vacuum()
    and a re-run of compact_partitions() must RESTORE it (never delete
    it), and table rows survive unchanged."""
    pages = synth_pages(spark, SF_DIR).limit(80).repartition(4)
    sink = CheckpointedSink(str(tmp_path / "tbl"), n_partitions=2)
    sink.run(pages, pipe, wave_size=2)
    before = _table_rows(spark, sink)

    import os
    live = tmp_path / "tbl" / "part_id=0"
    parked = tmp_path / "tbl" / "_compact_old_0"
    os.replace(live, parked)              # simulated mid-compaction crash
    (tmp_path / "tbl" / "_compact_tmp_0").mkdir()
    assert not live.exists()
    removed = sink.vacuum()
    assert live.exists() and not parked.exists()
    assert all("_compact_old_0" not in p for p in removed)
    assert _table_rows(spark, sink) == before

    os.replace(live, parked)              # crash again; recover via compact
    sink.compact_partitions(spark, target_files=1)
    assert live.exists() and not parked.exists()
    assert _table_rows(spark, sink) == before


def test_registry_fingerprint_same_in_every_process():
    """The manifest's input_fingerprint must be equal in two fresh
    interpreters, or a resume in a new process would see a different
    registry. Callable detector tasks are named by module and qualified
    name; a repr would carry a per-process memory address."""
    import subprocess
    import sys
    from pathlib import Path
    code = ("from pii_extract_base_spark.registry.factory import "
            "registry_fingerprint as f; "
            "print(f(('en', 'es', 'fr', 'de')))")
    root = str(Path(__file__).resolve().parent.parent)
    fps = {subprocess.run([sys.executable, "-c", code], cwd=root,
                          capture_output=True, text=True,
                          check=True).stdout.strip()
           for _ in range(2)}
    assert fps == {registry_fingerprint(("en", "es", "fr", "de"))}
