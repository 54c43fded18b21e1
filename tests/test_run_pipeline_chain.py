"""Regression: the FULLY-CHAINED curation pipeline must analyze and
run. Every curation stage references its input relation several times
internally (self-joins, fit-then-score, rewrite-joins), so chaining
all of them once grew the logical plan multiplicatively and OOMed the
driver inside Catalyst's DeduplicateRelations rule before a single
task ran (found driving `--sample --dedup --dedup-spans --dedup-lines
--ppl-cut --dsir --mix` end-to-end; see BENCH.md). run_pipeline now
cuts lineage between stages with a lazy localCheckpoint — this test
pins that the 7-stage chain completes in-process and produces the
deterministic counts (stage outputs are all md5-bucketed /
keep-first-by-url, so a re-run is identical by construction)."""

import io
import json
import os
import sys

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ALL_STAGES = [
    "run_pipeline",
    "--sf-dir", SF_DIR,
    "--sample", "en=0.8,fr=0.8,es=0.8,de=0.8",
    "--dedup",
    "--dedup-spans", "12",
    "--dedup-lines", "3",
    "--ppl-cut", "en=0.9",
    "--dsir", "en=0.9",
    "--mix", "en=0.4,fr=0.2,es=0.2,de=0.2",
    "--mix-budget", "300",
]


def _drive(monkeypatch, argv):
    sys.path.insert(0, SCRIPTS)
    try:
        import run_pipeline
    finally:
        sys.path.remove(SCRIPTS)
    out = io.StringIO()
    monkeypatch.setattr(sys, "argv", argv)
    monkeypatch.setattr(sys, "stdout", out)
    assert run_pipeline.main() == 0
    line = out.getvalue().strip().splitlines()[-1]
    return json.loads(line)


def _python_executions(spark):
    """{execution id: plan runs an Arrow UDF?} for every SQL execution
    the session's status store holds."""
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {e.executionId(): "ArrowEvalPython" in e.physicalPlanDescription()
            for e in (lst.apply(i) for i in range(lst.size()))}


def test_output_runs_pipeline_once(spark, monkeypatch, tmp_path):
    """--output writes pages_scored and entities from ONE run of the
    pipeline's Arrow UDF, not one per table."""
    before = set(_python_executions(spark))
    out_dir = str(tmp_path / "out")
    summary = _drive(monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--output", out_dir])
    assert summary["docs"] == 120 and summary["entities"] > 0
    runs = [i for i, py in _python_executions(spark).items()
            if py and i not in before]
    assert len(runs) <= 1, runs


def test_pack_stage_emits_fixed_length_examples(spark, monkeypatch):
    """--pack SEQ_LEN: kept pages' scrubbed text → concat-and-chunk
    examples in one submit. The no-pad invariant reaches the CLI: every
    example is exactly SEQ_LEN tokens except the stream tail, so the
    token total pins the example count exactly."""
    summary = _drive(monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--pack", "64"])
    n, t = summary["examples"], summary["example_tokens"]
    assert n >= 1
    assert (n - 1) * 64 < t <= n * 64


def test_all_stage_chain_analyzes_and_runs(spark, monkeypatch):
    summary = _drive(monkeypatch, ALL_STAGES)
    # every stage strictly filters, the mix stage caps the budget
    assert 0 < summary["docs"] <= 300
    assert 0 <= summary["kept"] <= summary["docs"]
    assert set(summary) >= {"docs", "kept", "entities"}


def test_temperature_mix_stage_deterministic(spark, monkeypatch):
    """--mix-temperature: the p^alpha mixture stage filters (tail
    languages survive at higher rate than the head) and re-runs to the
    identical count (md5 acceptance — pure function of url)."""
    argv = ["run_pipeline", "--sf-dir", SF_DIR, "--limit", "300",
            "--mix-temperature", "0.3:0.5"]
    a = _drive(monkeypatch, argv)
    b = _drive(monkeypatch, argv)
    assert 0 < a["docs"] < 300
    assert a["docs"] == b["docs"] and a["kept"] == b["kept"]


def test_ccnet_keep_stage_filters_and_reruns_identically(
        spark, monkeypatch):
    """--ccnet-keep en=head,middle: per-language ppl terciles under
    the corpus-fit en LM; keeping 2 of 3 buckets drops roughly a
    third of every language, and the pick is deterministic."""
    argv = ["run_pipeline", "--sf-dir", SF_DIR, "--limit", "300",
            "--ccnet-keep", "en=head,middle"]
    a = _drive(monkeypatch, argv)
    b = _drive(monkeypatch, argv)
    assert 0 < a["docs"] < 300
    # tercile quotas: keeps ceil-ish 2/3 per language — global share
    # must sit well inside (1/2, 3/4)
    assert 0.5 < a["docs"] / 300 < 0.78
    assert a["docs"] == b["docs"] and a["kept"] == b["kept"]


def test_doremi_stage_deterministic(spark, monkeypatch):
    """--doremi 0.5:10:0.5: corpus-fit-LM losses per lang, DoReMi
    weights, md5-acceptance mixture — filters to roughly the budget
    and re-runs to the identical count."""
    argv = ["run_pipeline", "--sf-dir", SF_DIR, "--limit", "300",
            "--doremi", "0.5:10:0.5"]
    a = _drive(monkeypatch, argv)
    b = _drive(monkeypatch, argv)
    assert 0 < a["docs"] < 300
    assert a["docs"] == b["docs"] and a["kept"] == b["kept"]


def test_split_stage_is_deterministic_and_leakage_safe(spark,
                                                       monkeypatch):
    """--split: group-level split counts are reported, only the
    --split-keep split flows downstream, and a re-run is identical
    (pure md5 function of the url host)."""
    argv = ["run_pipeline", "--sf-dir", SF_DIR, "--limit", "200",
            "--split", "train=0.9,val=0.05,test=0.05"]
    a = _drive(monkeypatch, argv)
    b = _drive(monkeypatch, argv)
    assert a == {**b, "sec": a["sec"],
                 "docs_per_sec": a["docs_per_sec"]}
    assert set(a["splits"]) <= {"train", "val", "test"}
    assert sum(a["splits"].values()) == 200
    assert a["docs"] == a["splits"].get("train", 0)
