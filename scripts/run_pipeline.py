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
                         "with lineage; re-running resumes idempotently")
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

    from pii_extract_base_spark.config import get_spark
    from pii_extract_base_spark.pipeline import (
        QualityPipeline, explode_entities)
    from pii_extract_base_spark.sources.pages import synth_pages

    spark = get_spark(app_name="quality-pipeline", cores=args.cores)
    t0 = time.time()
    pages = synth_pages(spark, args.sf_dir)
    if args.limit is not None:
        pages = pages.limit(args.limit)

    # --from-html backfill must run BEFORE the curation stages: the
    # text-rewriting stages (--dedup-spans/--dedup-lines) coalesce
    # NULL text to '', which would defeat the NULL-only backfill
    # predicate and process html-only pages with empty text. The
    # curation stages see the recovered text too, which is what
    # dedup/ppl selection should operate on.
    if args.from_html:
        from pii_extract_base_spark.functions.htmlextract import (
            backfill_text_from_html)
        pages = backfill_text_from_html(pages)

    # curation stages (each deterministic -> identical on resume/retry).
    # Every stage references `pages` SEVERAL times internally (self-
    # joins, fit-then-score, rewrite-joins), so chaining stages grows
    # the LOGICAL plan multiplicatively — with all stages enabled the
    # analyzer itself (DeduplicateRelations) OOMs the driver before a
    # single task runs, the classic long-pipeline failure at corpus
    # scale. Truncate lineage BETWEEN stages (localCheckpoint swaps
    # the plan for a LogicalRDD; lazy, so it materializes inside the
    # next stage's first job): stage outputs are deterministic, so the
    # cut never changes results, and single-stage runs keep their
    # original (benched) plans because the first stage never cuts.
    # On a multi-executor cluster use a reliable checkpoint dir
    # (sinks/checkpoint.py) instead of local checkpoints.
    _staged = [False]

    def _stage(df):
        cut = df.localCheckpoint(eager=False) if _staged[0] else df
        _staged[0] = True
        return cut

    def _require_lang_rows(df, lang, flag):
        # pre-flight for the LM-fitting stages: a language with zero
        # matching rows would fit an EMPTY bigram LM (vocabulary 0)
        # and die mid-job with DIVIDE_BY_ZERO under ANSI mode, long
        # after submission. limit(1).count() terminates on the first
        # matching row — a cheap early scan that turns a late crash
        # into a clean usage error naming the bad language.
        from pyspark.sql import functions as F
        if df.where(F.col("lang") == lang).limit(1).count() == 0:
            ap.error(f"{flag}: no input rows with lang={lang!r}")

    if args.sample:
        pages = _stage(pages)
        from pii_extract_base_spark.functions.sampling import (
            stratified_sample)
        rates = {k: float(v) for k, v in
                 (kv.split("=", 1) for kv in args.sample.split(","))}
        pages = stratified_sample(pages, "lang", "url", rates)
    if args.dedup:
        pages = _stage(pages)
        from pii_extract_base_spark.operators.dedup import dedup_corpus
        resolve = "best" if args.dedup_keep == "best" else "pairwise"
        pages = dedup_corpus(pages, text_col="text", id_col="url",
                             resolve=resolve)
    if args.dedup_spans:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.operators.dedup import (
            sliding_span_dedup)
        spans = sliding_span_dedup(pages, text_col="text", id_col="url",
                                   window=args.dedup_spans)
        # one row per url by construction; rewrite text in place,
        # every other page column rides through untouched
        pages = pages.drop("text").join(
            spans.select("url", F.col("clean_text").alias("text")),
            "url")
    if args.dedup_lines:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.operators.dedup import (
            line_dedup_corpus)
        cleaned = line_dedup_corpus(pages, text_col="text",
                                    id_col="url",
                                    min_docs=args.dedup_lines)
        pages = pages.drop("text").join(
            cleaned.select("url", F.col("clean_text").alias("text")),
            "url")
    if args.ppl_cut:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.functions.lmtrain import lm_fit_score
        from pii_extract_base_spark.functions.sampling import (
            quantile_cut_scalable)
        lang, frac = args.ppl_cut.split("=", 1)
        _require_lang_rows(pages, lang, "--ppl-cut")
        scored = lm_fit_score(pages, F.col("lang") == lang,
                              text_col="text", id_col="url")
        # keep the LOWEST perplexity -> cut on the negated score
        pages = (pages.join(scored.select(
                     "url", (-F.col("logppl")).alias("_neg_ppl")), "url")
                      .withColumn("_all", F.lit("all")))
        pages = (quantile_cut_scalable(pages, "_all", "_neg_ppl",
                                       float(frac), "url")
                 .drop("_all", "_neg_ppl"))
    if args.dsir:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.functions.dsir import dsir_weights
        from pii_extract_base_spark.functions.sampling import (
            quantile_cut_scalable)
        lang, frac = args.dsir.split("=", 1)
        _require_lang_rows(pages, lang, "--dsir")
        w = dsir_weights(pages, F.col("lang") == lang,
                         text_col="text", id_col="url")
        pages = (pages.join(w.select("url", "dsir_logratio"), "url")
                      .withColumn("_all", F.lit("all")))
        pages = (quantile_cut_scalable(pages, "_all", "dsir_logratio",
                                       float(frac), "url")
                 .drop("_all", "dsir_logratio"))
    if args.doremi:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.functions.lmtrain import lm_fit_score
        from pii_extract_base_spark.functions.doremi import (
            doremi_weights, doremi_sample)
        try:
            eta_s, rounds_s, frac_s = args.doremi.split(":")
            eta, rounds, frac = (float(eta_s), int(rounds_s),
                                 float(frac_s))
        except ValueError:
            ap.error(f"--doremi expects ETA:ROUNDS:FRAC, got "
                     f"{args.doremi!r}")
        # one corpus-fit LM pass scores every doc; the scored join is
        # materialized lazily ONCE and feeds both the per-lang stats
        # aggregate (inside doremi_weights) and the sampling filter
        scored = lm_fit_score(pages, F.lit(True), text_col="text",
                              id_col="url")
        j = (pages.join(scored.select("url", "logppl"), "url")
                  .localCheckpoint(eager=False))
        w = doremi_weights(j, "lang", F.col("logppl"),
                           rounds=rounds, eta=eta)
        pages = (doremi_sample(j, "lang", "url",
                               [tuple(r) for r in w.collect()],
                               budget_frac=frac)
                 .drop("logppl"))
    if args.ccnet_keep:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.functions.lmtrain import lm_fit_score
        from pii_extract_base_spark.functions.sampling import (
            quantile_buckets)
        if "=" not in args.ccnet_keep:
            ap.error(f"--ccnet-keep expects LANG=BUCKETS, got "
                     f"{args.ccnet_keep!r}")
        lang, buckets = args.ccnet_keep.split("=", 1)
        keep = [b.strip() for b in buckets.split(",") if b.strip()]
        bad = set(keep) - {"head", "middle", "tail"}
        if bad or not keep:
            ap.error(f"--ccnet-keep buckets must be head/middle/tail, "
                     f"got {buckets!r}")
        _require_lang_rows(pages, lang, "--ccnet-keep")
        scored = lm_fit_score(pages, F.col("lang") == lang,
                              text_col="text", id_col="url")
        pages = pages.join(scored.select("url", "logppl"), "url")
        pages = quantile_buckets(pages, "lang", "logppl",
                                 (1.0 / 3.0, 2.0 / 3.0),
                                 ("head", "middle", "tail"), "url",
                                 ascending=True)
        pages = (pages.where(F.col("bucket").isin(keep))
                      .drop("bucket", "logppl"))
    if args.mix:
        pages = _stage(pages)
        from pii_extract_base_spark.functions.sampling import (
            mixture_sample)
        shares = {k: float(v) for k, v in
                  (kv.split("=", 1) for kv in args.mix.split(","))}
        pages = mixture_sample(pages, "lang", "url", shares,
                               budget=args.mix_budget)
    if args.mix_temperature:
        pages = _stage(pages)
        from pii_extract_base_spark.functions.sampling import (
            temperature_sample)
        try:
            alpha, bf = (float(x) for x in
                         args.mix_temperature.split(":", 1))
        except ValueError:
            ap.error(f"--mix-temperature expects ALPHA:FRAC, got "
                     f"{args.mix_temperature!r}")
        if alpha <= 0.0 or not 0.0 < bf <= 1.0:
            ap.error(f"--mix-temperature needs alpha > 0 and "
                     f"0 < frac <= 1, got {args.mix_temperature!r}")
        pages = temperature_sample(pages, "lang", "url",
                                   alpha=alpha, budget_frac=bf)

    split_counts = {}
    if args.split:
        pages = _stage(pages)
        from pyspark.sql import functions as F
        from pii_extract_base_spark.functions.htmlextract import host_of
        from pii_extract_base_spark.functions.sampling import (
            leakage_safe_split)
        fracs = tuple((k, float(v)) for k, v in
                      (kv.split("=", 1) for kv in args.split.split(",")))
        if args.split_keep not in {k for k, _ in fracs}:
            ap.error(f"--split-keep {args.split_keep!r} is not one of "
                     f"the --split names {[k for k, _ in fracs]}")
        sp = leakage_safe_split(
            pages.withColumn("_host", host_of(F.col("url"))),
            "_host", fracs=fracs).localCheckpoint(eager=False)
        split_counts = {r["split"]: r["n"]
                        for r in (sp.groupBy("split")
                                    .agg(F.count("*").alias("n"))
                                    .collect())}
        pages = (sp.where(F.col("split") == args.split_keep)
                   .drop("split", "_host"))

    # 2 tasks per core: a synthesized corpus is read as one partition
    langs = tuple(args.languages.split(","))
    pipe = QualityPipeline(
        langs, salt_partitions=2 * spark.sparkContext.defaultParallelism)

    def _pack_stats(scored, writer_dir=None):
        """Pack the kept pages' scrubbed text into SEQ_LEN-token
        examples; returns {"examples": n, "example_tokens": n}.

        The packer references its input twice (span map + token
        arrays), so cut lineage first — otherwise the detect UDF (the
        most expensive stage) would run once per packing branch."""
        from pii_extract_base_spark.operators.sharding import (
            materialize_examples)
        kept = (scored.where("keep").select("url", "scrubbed_text")
                      .localCheckpoint(eager=False))
        ex = materialize_examples(kept, text_col="scrubbed_text",
                                  id_col="url", seq_len=args.pack)
        if writer_dir:
            ex.write.mode("overwrite").parquet(f"{writer_dir}/examples")
            ex = spark.read.parquet(f"{writer_dir}/examples")
        agg = ex.selectExpr(
            "count(*) as n",
            "coalesce(sum(n_tokens), 0L) as t").collect()[0]
        return {"examples": agg.n, "example_tokens": agg.t}

    def _summary(scored):
        """(docs, kept, entities) of a pipeline output table in ONE
        aggregate: the entity count is sum(n_entities), so no entities
        table is re-read."""
        agg = scored.selectExpr(
            "count(*) as n",
            "coalesce(sum(cast(keep as int)), 0) as k",
            "coalesce(sum(n_entities), 0L) as e").collect()[0]
        return agg.n, agg.k, agg.e

    if args.checkpoint:
        from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
        from pii_extract_base_spark.registry.factory import (
            registry_fingerprint)
        sink = CheckpointedSink(args.checkpoint,
                                n_partitions=args.partitions)
        if _staged[0]:
            # the sink filters `pages` once per wave: cut the last
            # curation stage too, or every wave recomputes the chain
            pages = _stage(pages)
        committed = sink.run(
            pages, lambda df: pipe(df).drop("rules"),
            input_fingerprint=registry_fingerprint(langs),
            wave_size=args.wave_size)
        table = sink.read(spark)
        n_total, n_kept, n_ents = _summary(table)
        extra = _pack_stats(table) if args.pack else {}
        dt = time.time() - t0
        print(json.dumps({
            "docs": n_total,
            "kept": n_kept,
            "entities": n_ents,
            "partitions_committed_this_run": committed,
            "partitions_total": len(sink.committed_partitions()),
            **extra,
            "sec": round(dt, 2),
        }))
        return 0

    out = pipe(pages)
    if args.output or args.pack:
        # two consumers, one pipeline run: cut lineage (lazily, like
        # _pack_stats) so the second reads the rows the first
        # materialized instead of re-running the UDF
        out = out.localCheckpoint(eager=False)

    if args.output:
        (out.drop("rules", "entities")
            .write.mode("overwrite").parquet(f"{args.output}/pages_scored"))
        explode_entities(out).write.mode("overwrite") \
            .parquet(f"{args.output}/entities")
        # summarize and pack from the committed parquet
        scored_src = spark.read.parquet(f"{args.output}/pages_scored")
    else:
        scored_src = out
    n_total, n_kept, n_ents = _summary(scored_src)

    extra = (_pack_stats(scored_src, writer_dir=args.output)
             if args.pack else {})
    dt = time.time() - t0
    print(json.dumps({
        "docs": n_total, "kept": n_kept, "entities": n_ents,
        **({"splits": split_counts} if split_counts else {}),
        **extra,
        "sec": round(dt, 2),
        "docs_per_sec": round(n_total / dt, 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
