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
import re
import subprocess
import sys

import pytest

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


def _executions(spark):
    """{execution id: formatted physical plan} for every SQL execution
    the session's status store holds."""
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {e.executionId(): e.physicalPlanDescription()
            for e in (lst.apply(i) for i in range(lst.size()))}


def _runs_of(spark, monkeypatch, argv, needle="ArrowEvalPython"):
    """(summary, new SQL executions whose plan contains `needle`)."""
    before = set(_executions(spark))
    summary = _drive(monkeypatch, argv)
    return summary, [i for i, plan in _executions(spark).items()
                     if needle in plan and i not in before]


def test_cli_spreads_rows_by_url_hash(spark, monkeypatch):
    """The CLI's UDF execution hash-partitions the rows by url over
    2 x the session's parallelism, after --limit: the summary equals
    the pipeline's over the unspread input."""
    from pii_extract_base_spark.pipeline import QualityPipeline
    from pii_extract_base_spark.sources.pages import synth_pages
    before = set(_executions(spark))
    summary = _drive(monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120"])
    runs = [plan for i, plan in _executions(spark).items()
            if "ArrowEvalPython" in plan and i not in before]
    n = 2 * spark.sparkContext.defaultParallelism
    assert len(runs) == 1
    assert re.search(rf"hashpartitioning\(url#\d+, {n}\)", runs[0])
    agg = (QualityPipeline()(synth_pages(spark, SF_DIR).limit(120))
           .selectExpr("count(*)", "sum(cast(keep as int))",
                       "sum(n_entities)").collect()[0])
    assert (summary["docs"], summary["kept"], summary["entities"]) == \
        tuple(agg)


def test_get_spark_keeps_the_launchers_master(tmp_path):
    """Under spark-submit --master local[2], with no core count given,
    get_spark() runs on local[2], not on a master of its own."""
    script = tmp_path / "master.py"
    script.write_text(
        "from pii_extract_base_spark.config import get_spark\n"
        "sc = get_spark().sparkContext\n"
        "print('MASTER', sc.master, sc.defaultParallelism)\n")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.path.dirname(SCRIPTS)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", str(script)],
        env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "MASTER local[2] 2" in proc.stdout.splitlines(), proc.stdout


def test_output_runs_pipeline_once(spark, monkeypatch, tmp_path):
    """--output writes pages_scored and entities from ONE run of the
    pipeline's Arrow UDF, not one per table."""
    summary, runs = _runs_of(spark, monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--output", str(tmp_path / "out")])
    assert summary["docs"] == 120 and summary["entities"] > 0
    assert len(runs) <= 1, runs


def test_output_summary_scans_no_entities_table(spark, monkeypatch,
                                                tmp_path):
    """--output summarizes pages_scored in ONE aggregate: its entity
    count is sum(n_entities), so no execution after the writes scans
    <out>/entities, and the count equals that table's rows."""
    out = tmp_path / "out"
    summary, scans = _runs_of(spark, monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--output", str(out)],
        needle=f"InMemoryFileIndex [file:{out}/entities]")
    assert scans == []
    assert summary["entities"] == spark.read.parquet(
        f"{out}/entities").count() > 0


def test_checkpoint_summary_counts_entities(spark, monkeypatch, tmp_path):
    """--checkpoint reports entities like --output: the committed
    table's sum(n_entities)."""
    from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
    tbl = str(tmp_path / "tbl")
    summary = _drive(monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--checkpoint", tbl, "--partitions", "2", "--wave-size", "2"])
    agg = (CheckpointedSink(tbl, n_partitions=2).read(spark)
           .selectExpr("count(*) as n", "sum(n_entities) as e")
           .collect()[0])
    assert summary["docs"] == agg.n == 120
    assert summary["entities"] == agg.e > 0


def _table_summary(df):
    return df.selectExpr("count(*) as docs",
                         "sum(cast(keep as int)) as kept",
                         "sum(n_entities) as entities").first().asDict()


def test_output_summary_is_observed_on_the_write(spark, monkeypatch,
                                                 tmp_path):
    """--output reads its summary off the pages_scored write: no
    execution reads pages_scored back, and the summary equals that
    table's aggregate."""
    out = tmp_path / "out"
    summary, scans = _runs_of(spark, monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--output", str(out)],
        needle=f"InMemoryFileIndex [file:{out}/pages_scored]")
    assert scans == []
    want = _table_summary(spark.read.parquet(f"{out}/pages_scored"))
    assert {k: summary[k] for k in want} == want
    assert want["docs"] == 120 and want["entities"] > 0


def test_checkpoint_summary_is_the_manifest_total(spark, monkeypatch,
                                                  tmp_path):
    """--checkpoint sums its summary from the manifest: no execution
    scans the committed table, and the summary equals the table's
    aggregate, also after a resume that commits only the partitions a
    crashed run left uncommitted."""
    from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
    tbl = tmp_path / "tbl"
    argv = ["run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
            "--checkpoint", str(tbl), "--partitions", "4",
            "--wave-size", "1"]
    needle = f"InMemoryFileIndex [file:{tbl}/part_id="
    sink = CheckpointedSink(str(tbl), n_partitions=4)
    summary, scans = _runs_of(spark, monkeypatch, argv, needle=needle)
    assert scans == []
    want = _table_summary(sink.read(spark))
    assert {k: summary[k] for k in want} == want
    assert want["docs"] == 120 and want["entities"] > 0

    # a crash after two commits: the manifest keeps its first 2 lines
    manifest = tbl / "_manifest.jsonl"
    lines = manifest.read_text().splitlines(keepends=True)
    manifest.write_text("".join(lines[:2]))
    resumed, scans = _runs_of(spark, monkeypatch, argv, needle=needle)
    assert scans == []
    assert resumed["partitions_committed_this_run"] == 2
    assert {k: resumed[k] for k in want} == _table_summary(
        sink.read(spark)) == want


def test_pack_runs_pipeline_once(spark, monkeypatch):
    """--pack without --output: the summary aggregate and the packer
    read ONE run of the pipeline's Arrow UDF."""
    summary, runs = _runs_of(spark, monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "120",
        "--pack", "64"])
    assert summary["docs"] == 120 and summary["examples"] >= 1
    assert len(runs) <= 1, runs


def test_checkpoint_runs_curation_once(spark, monkeypatch, tmp_path):
    """--checkpoint after a curation stage: the sink's waves read ONE
    run of the stage (dedup's md5 fingerprint), not one per wave."""
    summary, runs = _runs_of(spark, monkeypatch, [
        "run_pipeline", "--sf-dir", SF_DIR, "--limit", "300", "--dedup",
        "--checkpoint", str(tmp_path / "tbl"), "--partitions", "4",
        "--wave-size", "1"], needle="conv(substring(md5")
    assert summary["partitions_committed_this_run"] == 4
    assert 0 < summary["docs"] <= 300
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


def test_checkpoint_summary_has_the_plain_keys(spark, monkeypatch,
                                               tmp_path):
    """--checkpoint prints the plain run's summary keys (splits and
    docs_per_sec too) plus the sink's partition counts, and the same
    counts."""
    argv = ["run_pipeline", "--sf-dir", SF_DIR, "--limit", "200",
            "--split", "train=0.9,val=0.05,test=0.05"]
    plain = _drive(monkeypatch, argv)
    ckpt = _drive(monkeypatch, argv + [
        "--checkpoint", str(tmp_path / "tbl"), "--partitions", "2",
        "--wave-size", "2"])
    assert set(ckpt) == set(plain) | {"partitions_committed_this_run",
                                      "partitions_total"}
    assert ckpt["partitions_committed_this_run"] == 2
    assert ckpt["partitions_total"] == 2
    for k in ("docs", "kept", "entities", "splits"):
        assert ckpt[k] == plain[k], k


@pytest.mark.parametrize("argv", [
    ["--ppl-cut", "en"],
    ["--dsir", "en"],
    ["--sample", "en"],
    ["--mix", "en=x", "--mix-budget", "10"],
    ["--split", "train"],
    ["--split", "train=0.5,val=0.1"],
])
def test_malformed_spec_is_a_usage_error(monkeypatch, capsys, argv):
    """A malformed KEY=VALUE spec, or split fractions that do not sum
    to 1, exit with status 2 and a message naming the flag, not a
    traceback."""
    with pytest.raises(SystemExit) as exc:
        _drive(monkeypatch, ["run_pipeline", "--sf-dir", SF_DIR] + argv)
    assert exc.value.code == 2
    assert f"error: {argv[0]} expects" in capsys.readouterr().err


def test_checkpoint_with_output_is_a_usage_error(monkeypatch, capsys,
                                                tmp_path):
    """--checkpoint writes only its own table, so --output beside it
    would be silently ignored: the pair exits with status 2 before
    Spark starts."""
    from pii_extract_base_spark import config

    def no_spark(*a, **k):
        raise AssertionError("Spark started")
    monkeypatch.setattr(config, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        _drive(monkeypatch, [
            "run_pipeline", "--sf-dir", SF_DIR, "--limit", "10",
            "--checkpoint", str(tmp_path / "tbl"),
            "--output", str(tmp_path / "out")])
    assert exc.value.code == 2
    assert "error: --checkpoint" in capsys.readouterr().err
    assert not (tmp_path / "out").exists()


def test_chain_cuts_lineage_before_every_stage_but_the_first(spark):
    """run_chain's lineage-cut policy: a one-stage chain's plan holds no
    cut (a LogicalRDD, planned as a Scan ExistingRDD); a chain of n
    stages cuts n-1 times, before every stage but the first; cut_after
    cuts once more after the last stage."""
    from functools import partial
    from pii_extract_base_spark import chain
    from pii_extract_base_spark.plans import formatted_plan
    from pii_extract_base_spark.sources.pages import synth_pages

    pages = synth_pages(spark, SF_DIR).limit(100)
    seen = []

    def is_cut(df):
        return bool(re.search(r"LogicalRDD|ExistingRDD",
                              formatted_plan(df)))

    def spy(stage):
        def run(df):
            seen.append(is_cut(df))
            return stage(df)
        return run

    sample = partial(chain.sample, rates={"en": 0.9, "fr": 0.9})
    one = chain.run_chain(pages, [("--sample", spy(sample))])
    assert seen == [False] and not is_cut(one)

    seen.clear()
    stages = [("--sample", spy(sample)),
              ("--mix-temperature", spy(partial(
                  chain.mix_temperature, alpha=0.3, frac=0.8))),
              ("--dedup-lines", spy(partial(chain.dedup_lines,
                                            min_docs=3)))]
    chain.run_chain(pages, stages)
    assert seen == [False, True, True]

    seen.clear()
    assert is_cut(chain.run_chain(pages, stages[:1], cut_after=True))
    assert not is_cut(chain.run_chain(pages, [], cut_after=True))
