#!/usr/bin/env python
"""spark-submit entry point for the quality pipeline.

Usage (north-rule contract: spark-submit --py-files):

    python -m zipfile -c pii_spark.zip pii_extract_base_spark
    spark-submit --master 'local[8]' --py-files pii_spark.zip \
        scripts/run_pipeline.py --sf-dir testdata/sf0.001 \
        --output pipeline_out
    (--master is used unless --cores or SPARK_GRAFT_CPUS is set)

Reads documents.parquet under --sf-dir, synthesizes the pages corpus,
runs langid→ppl→rules→detect→scrub→keep, writes kept/scrubbed pages and
the exploded entities table, prints a one-line JSON summary.
"""

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--output", default=None, help="output dir (parquet)")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--languages", default="en,es,fr,de")
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--checkpoint", default=None,
                    help="checkpointed table dir: per-partition commits "
                         "with lineage; re-running resumes idempotently "
                         "(not with --output)")
    ap.add_argument("--partitions", type=int, default=8,
                    help="logical commit partitions for --checkpoint")
    ap.add_argument("--wave-size", type=int, default=4,
                    help="partitions per scan wave for --checkpoint")
    ap.add_argument("--sample", default=None, metavar="LANG=RATE,...",
                    help="deterministic stratified down-sample by lang "
                         "before the pipeline, e.g. en=0.25,fr=0.1 "
                         "(md5(url)-bucketed: resume-stable)")
    ap.add_argument("--dedup", action="store_true",
                    help="corpus dedup (exact md5 + banded-MinHash near "
                         "dups, keep-first by url) before the pipeline")
    ap.add_argument("--dedup-keep", choices=("first", "best"),
                    default="first",
                    help="duplicate survivor policy for --dedup: "
                         "'first' keeps the lowest url per pair "
                         "(greedy, the q39 rule); 'best' clusters "
                         "duplicates transitively and keeps the "
                         "LONGEST page per cluster (quality-aware "
                         "retention, the Dolma/RefinedWeb policy)")
    ap.add_argument("--dedup-spans", type=int, default=None,
                    metavar="WINDOW",
                    help="alignment-free duplicated-SPAN removal "
                         "(ExactSubstr-style WINDOW-word sliding "
                         "windows, global keep-first by url): rewrites "
                         "text with later duplicate spans removed — "
                         "deterministic, so a re-run yields identical "
                         "counts; composes with --dedup (doc-level)")
    ap.add_argument("--dedup-lines", type=int, default=None,
                    metavar="MIN_DOCS",
                    help="CCNet-style corpus-wide boilerplate LINE "
                         "removal: any trimmed line occurring in >= "
                         "MIN_DOCS distinct pages is stripped from "
                         "all of them (nav bars, cookie banners, "
                         "footers); deterministic, composes with the "
                         "doc/span-level passes")
    ap.add_argument("--ppl-cut", default=None, metavar="LANG=FRAC",
                    help="CCNet-style perplexity selection after "
                         "sample/dedup: fit an add-k bigram LM on the "
                         "LANG slice (functions/lmtrain) and keep the "
                         "LOWEST-perplexity FRAC of pages via the "
                         "two-phase quantile cut — deterministic and "
                         "resume-stable, e.g. en=0.5")
    ap.add_argument("--dsir", default=None, metavar="LANG=FRAC",
                    help="DSIR data selection after sample/dedup: "
                         "score every page's importance weight against "
                         "the LANG-subset target LM (functions/dsir) "
                         "and keep the top FRAC by weight via the "
                         "two-phase quantile cut — deterministic and "
                         "resume-stable, e.g. en=0.5")
    ap.add_argument("--mix", default=None, metavar="LANG=SHARE,...",
                    help="dataset mixing AFTER sample/dedup: assemble "
                         "--mix-budget rows at these per-lang "
                         "proportions (two-phase md5-prefix histogram "
                         "pick — exact quotas, no per-stratum sort, "
                         "resume-stable), e.g. en=0.6,fr=0.4")
    ap.add_argument("--mix-budget", type=int, default=None,
                    help="total rows for --mix (required with --mix)")
    ap.add_argument("--mix-temperature", default=None,
                    metavar="ALPHA:FRAC",
                    help="temperature-scaled language mixture AFTER "
                         "sample/dedup (XLM-R/mT5 standard: keep lang "
                         "l at rate prop. to p_l^alpha/p_l — rates "
                         "derived from corpus counts fully in-plan, "
                         "md5 acceptance, deterministic), e.g. "
                         "0.3:0.5 = alpha 0.3, 50%% token budget")
    ap.add_argument("--doremi", default=None, metavar="ETA:ROUNDS:FRAC",
                    help="DoReMi domain reweighting over lang "
                         "(exponentiated-gradient on per-lang mean "
                         "logppl under the corpus-fit LM, static-loss "
                         "variant — functions/doremi), then an md5-"
                         "acceptance mixture to FRAC of the corpus, "
                         "e.g. 0.5:10:0.5")
    ap.add_argument("--ccnet-keep", default=None, metavar="LANG=BUCKETS",
                    help="CCNet head/middle/tail layout under the "
                         "corpus-fit LANG LM: label per-language ppl "
                         "terciles, keep the listed buckets, e.g. "
                         "en=head,middle")
    ap.add_argument("--split", default=None, metavar="NAME=FRAC,...",
                    help="leakage-safe group-level split by url host "
                         "(fractions must sum to 1), e.g. "
                         "train=0.9,val=0.05,test=0.05; reports "
                         "per-split doc counts in the summary, then "
                         "only --split-keep flows downstream")
    ap.add_argument("--split-keep", default="train",
                    help="which split continues through the pipeline "
                         "(default train)")
    ap.add_argument("--pack", type=int, default=None, metavar="SEQ_LEN",
                    help="after the pipeline, concat-and-chunk the KEPT "
                         "pages' scrubbed text into fixed SEQ_LEN-token "
                         "training examples (url stream order, no "
                         "padding; operators/sharding "
                         "materialize_examples) — the final packed "
                         "pre-training layout; with --output also "
                         "writes <output>/examples")
    ap.add_argument("--from-html", action="store_true",
                    help="backfill NULL text from the html binary column "
                         "(native HTML->text chain, no UDF)")
    args = ap.parse_args()
    if bool(args.mix) != (args.mix_budget is not None):
        ap.error("--mix and --mix-budget must be given together")
    if args.checkpoint and args.output:
        ap.error("--checkpoint writes its own table; it cannot also "
                 "write --output")

    from functools import partial
    from pii_extract_base_spark import chain

    def parsed(flag, form, parse):
        """``parse`` of the flag's value; a ValueError in it is a usage
        error (exit 2), not a traceback."""
        value = getattr(args, flag[2:].replace("-", "_"))
        try:
            return parse(value)
        except ValueError:
            ap.error(f"{flag} expects {form}, got {value!r}")

    # the curation chain, in this order whatever the argv order
    stages, split_counts = [], {}

    def stage(flag, fn, **values):
        stages.append((flag, partial(fn, **values)))

    if args.sample:
        stage("--sample", chain.sample,
              rates=dict(parsed("--sample", "LANG=RATE,...", _pairs)))
    if args.dedup:
        stage("--dedup", chain.dedup, keep=args.dedup_keep)
    if args.dedup_spans:
        stage("--dedup-spans", chain.dedup_spans, window=args.dedup_spans)
    if args.dedup_lines:
        stage("--dedup-lines", chain.dedup_lines,
              min_docs=args.dedup_lines)
    if args.ppl_cut:
        lang, frac = parsed("--ppl-cut", "LANG=FRAC", _pair)
        stage("--ppl-cut", chain.ppl_cut, lang=lang, frac=frac)
    if args.dsir:
        lang, frac = parsed("--dsir", "LANG=FRAC", _pair)
        stage("--dsir", chain.dsir, lang=lang, frac=frac)
    if args.doremi:
        eta, rounds, frac = parsed(
            "--doremi", "ETA:ROUNDS:FRAC",
            lambda s: _fields(s, ":", float, int, float))
        stage("--doremi", chain.doremi, eta=eta, rounds=rounds, frac=frac)
    if args.ccnet_keep:
        lang, buckets = parsed("--ccnet-keep", "LANG=BUCKETS",
                               lambda s: _fields(s, "=", str, str))
        keep = [b.strip() for b in buckets.split(",") if b.strip()]
        if not keep or set(keep) - {"head", "middle", "tail"}:
            ap.error(f"--ccnet-keep buckets must be head/middle/tail, "
                     f"got {buckets!r}")
        stage("--ccnet-keep", chain.ccnet_keep, lang=lang, buckets=keep)
    if args.mix:
        stage("--mix", chain.mix, budget=args.mix_budget,
              shares=dict(parsed("--mix", "LANG=SHARE,...", _pairs)))
    if args.mix_temperature:
        alpha, frac = parsed("--mix-temperature", "ALPHA:FRAC",
                             lambda s: _fields(s, ":", float, float))
        if alpha <= 0.0 or not 0.0 < frac <= 1.0:
            ap.error(f"--mix-temperature needs alpha > 0 and "
                     f"0 < frac <= 1, got {args.mix_temperature!r}")
        stage("--mix-temperature", chain.mix_temperature, alpha=alpha,
              frac=frac)
    if args.split:
        fracs = parsed("--split", "NAME=FRAC,... summing to 1",
                       _split_fracs)
        if args.split_keep not in dict(fracs):
            ap.error(f"--split-keep {args.split_keep!r} is not one of "
                     f"the --split names {[k for k, _ in fracs]}")
        stage("--split", chain.split, fracs=fracs, keep=args.split_keep,
              counts=split_counts)

    from pii_extract_base_spark.config import get_spark
    from pii_extract_base_spark.pipeline import explode_entities
    from pii_extract_base_spark.sources.pages import synth_pages

    spark = get_spark(app_name="quality-pipeline", cores=args.cores)
    t0 = time.time()
    pages = synth_pages(spark, args.sf_dir)
    if args.limit is not None:
        pages = pages.limit(args.limit)

    # before the chain: its text rewrites (--dedup-spans/--dedup-lines)
    # coalesce NULL text to '', defeating the NULL-only backfill, and
    # dedup/ppl selection should see the recovered text
    if args.from_html:
        from pii_extract_base_spark.functions.htmlextract import (
            backfill_text_from_html)
        pages = backfill_text_from_html(pages)

    try:
        # the sink filters `pages` once per wave: cut after the chain
        pages = chain.run_chain(pages, stages,
                                cut_after=bool(args.checkpoint))
    except chain.EmptySlice as e:
        ap.error(str(e))

    langs = tuple(args.languages.split(","))
    pipe = chain.quality_pipeline(spark, langs)
    extra = {}
    if args.checkpoint:
        from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
        from pii_extract_base_spark.registry.factory import (
            registry_fingerprint)
        sink = CheckpointedSink(args.checkpoint,
                                n_partitions=args.partitions)
        committed = sink.run(
            pages, lambda df: pipe(df).drop("rules"),
            input_fingerprint=registry_fingerprint(langs),
            wave_size=args.wave_size)
        summary = _manifest_summary(sink.manifest_entries())
        extra = {"partitions_committed_this_run": committed,
                 "partitions_total": len(sink.committed_partitions())}
        if args.pack:
            scored_src = sink.read(spark)
    else:
        out = pipe(pages)
        if args.output or args.pack:
            # two consumers, one pipeline run: cut lineage (lazily, like
            # _pack_stats) so the second reads the rows the first
            # materialized instead of re-running the UDF
            out = out.localCheckpoint(eager=False)
        scored_src = out
        if args.output:
            # the summary is observed on the pages_scored write itself;
            # the packer reads the committed parquet
            from pyspark.sql import Observation, functions as F
            obs = Observation()
            (out.drop("rules", "entities")
                .observe(obs, *map(F.expr, SUMMARY_AGGS))
                .write.mode("overwrite")
                .parquet(f"{args.output}/pages_scored"))
            summary = obs.get
            explode_entities(out).write.mode("overwrite") \
                .parquet(f"{args.output}/entities")
            scored_src = spark.read.parquet(f"{args.output}/pages_scored")
        else:
            summary = out.selectExpr(*SUMMARY_AGGS).first().asDict()
    if args.pack:
        extra.update(_pack_stats(spark, scored_src, args.pack,
                                 args.output))
    dt = time.time() - t0
    print(json.dumps({
        **summary, **({"splits": split_counts} if split_counts else {}),
        **extra, "sec": round(dt, 2),
        "docs_per_sec": round(summary["docs"] / dt, 1)}))
    return 0


def _fields(spec, sep, *types):
    """``spec`` split at ``sep``, the i-th field cast by ``types[i]``;
    ValueError unless there is one field per type."""
    return [t(x) for t, x in zip(types, spec.split(sep), strict=True)]


def _pair(spec):
    """'en=0.6' -> ('en', 0.6)"""
    return tuple(_fields(spec, "=", str, float))


def _pairs(spec):
    """'en=0.6,fr=0.4' -> [('en', 0.6), ('fr', 0.4)]"""
    return [_pair(kv) for kv in spec.split(",")]


def _split_fracs(spec):
    from pii_extract_base_spark.functions.sampling import split_thresholds
    fracs = _pairs(spec)
    split_thresholds(fracs)     # ValueError unless they sum to 1
    return fracs


#: the summary's {docs, kept, entities} of a pipeline output as ONE
#: aggregate: the entity count is sum(n_entities), so no entities
#: table is read
SUMMARY_AGGS = ("count(*) as docs",
                "coalesce(sum(cast(keep as int)), 0) as kept",
                "coalesce(sum(n_entities), 0L) as entities")


def _manifest_summary(entries):
    """The same {docs, kept, entities} of a checkpointed table, summed
    from its manifest's per-partition counts, so the table is not
    scanned."""
    return {"docs": sum(e["rows_in"] for e in entries),
            "kept": sum(e["rows_kept"] for e in entries),
            "entities": sum(sum(e["entities"].values()) for e in entries)}


def _pack_stats(spark, scored, seq_len, writer_dir=None):
    """Pack the kept pages' scrubbed text into ``seq_len``-token
    examples; returns {"examples": n, "example_tokens": n}.

    The packer references its input twice (span map + token arrays),
    so cut lineage first — otherwise the detect UDF (the most
    expensive stage) would run once per packing branch."""
    from pii_extract_base_spark.operators.sharding import (
        materialize_examples)
    kept = (scored.where("keep").select("url", "scrubbed_text")
                  .localCheckpoint(eager=False))
    ex = materialize_examples(kept, text_col="scrubbed_text",
                              id_col="url", seq_len=seq_len)
    if writer_dir:
        ex.write.mode("overwrite").parquet(f"{writer_dir}/examples")
        ex = spark.read.parquet(f"{writer_dir}/examples")
    agg = ex.selectExpr(
        "count(*) as n",
        "coalesce(sum(n_tokens), 0L) as t").collect()[0]
    return {"examples": agg.n, "example_tokens": agg.t}


if __name__ == "__main__":
    sys.exit(main())
