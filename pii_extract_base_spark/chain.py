"""run_pipeline's job as a library: the curation stages, the runner
that chains them, and the quality pipeline they feed. A stage takes
pages (url, lang, text, ...) and parsed values and returns pages with
the same columns, deterministically (a re-run yields the same rows).
"""

from pyspark.sql import DataFrame, functions as F

from .functions.doremi import doremi_sample, doremi_weights
from .functions.dsir import dsir_weights
from .functions.htmlextract import host_of
from .functions.lmtrain import lm_fit_score
from .functions.sampling import (
    leakage_safe_split, mixture_sample, quantile_buckets,
    quantile_cut_scalable, stratified_sample, temperature_sample)
from .operators.dedup import (
    dedup_corpus, line_dedup_corpus, sliding_span_dedup)
from .pipeline import DEFAULT_LANGUAGES, QualityPipeline


class EmptySlice(ValueError):
    """An LM-fitting stage was asked to fit on a language with no rows."""


def run_chain(pages: DataFrame, stages, cut_after: bool = False):
    """Apply ``stages``, (name, stage) pairs, in order.

    Every stage reads its input several times (self-joins, fit-then-
    score, rewrite-joins), so chained plans grow multiplicatively; with
    all stages the analyzer OOMs the driver. So lineage is cut before
    every stage but the first, by a lazy localCheckpoint (a one-stage
    chain keeps its own plan), and with ``cut_after`` once more after
    the last, for a consumer that reads the result many times (the
    sink, once per wave). On a multi-executor cluster use a reliable
    checkpoint dir (sinks/checkpoint.py) instead."""
    for i, (name, stage) in enumerate(stages):
        try:
            pages = stage(_cut(pages) if i else pages)
        except EmptySlice as e:
            raise EmptySlice(f"{name}: {e}") from None
    return _cut(pages) if stages and cut_after else pages


def _cut(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False)


def quality_pipeline(spark, languages=DEFAULT_LANGUAGES) -> QualityPipeline:
    """The pipeline after the chain: rows spread by url hash over 2
    tasks per core (a synthesized corpus is read as one partition)."""
    return QualityPipeline(
        languages, salt_partitions=2 * spark.sparkContext.defaultParallelism)


def _target(pages, lang):
    """The predicate of the ``lang`` rows an LM is fit on."""
    # an LM fit on zero rows has vocabulary 0 and dies with
    # DIVIDE_BY_ZERO under ANSI mode mid-job; limit(1) stops at one row
    is_lang = F.col("lang") == lang
    if pages.where(is_lang).limit(1).count() == 0:
        raise EmptySlice(f"no input rows with lang={lang!r}")
    return is_lang


def _rewrite_text(pages, cleaned, id_col):
    # one row per id by construction; every other column rides through
    return pages.drop("text").join(
        cleaned.select(id_col, F.col("clean_text").alias("text")), id_col)


def _top_frac(pages, scores, score_col, frac, id_col):
    """The top ``frac`` of all pages by ``scores[score_col]`` (one row
    per id), through the two-phase quantile cut over one stratum."""
    j = (pages.join(scores.select(id_col, score_col), id_col)
              .withColumn("_all", F.lit("all")))
    return (quantile_cut_scalable(j, "_all", score_col, frac, id_col)
            .drop("_all", score_col))


def sample(pages, rates, id_col="url"):
    """Stratified down-sample by lang, md5(id)-bucketed."""
    return stratified_sample(pages, "lang", id_col, rates)


def dedup(pages, keep="first", id_col="url"):
    """Exact + near-duplicate doc removal: 'first' keeps the lowest id
    of each pair, 'best' the longest page of each cluster."""
    return dedup_corpus(pages, text_col="text", id_col=id_col,
                        resolve="best" if keep == "best" else "pairwise")


def dedup_spans(pages, window, id_col="url"):
    """Remove every later copy of a ``window``-word span."""
    return _rewrite_text(pages, sliding_span_dedup(
        pages, text_col="text", id_col=id_col, window=window), id_col)


def dedup_lines(pages, min_docs, id_col="url"):
    """Strip every line that occurs in >= ``min_docs`` pages."""
    return _rewrite_text(pages, line_dedup_corpus(
        pages, text_col="text", id_col=id_col, min_docs=min_docs), id_col)


def ppl_cut(pages, lang, frac, id_col="url"):
    """The lowest-perplexity ``frac`` under the ``lang``-fit LM."""
    scored = lm_fit_score(pages, _target(pages, lang), text_col="text",
                          id_col=id_col)
    return _top_frac(pages, scored.select(
        id_col, (-F.col("logppl")).alias("_neg_ppl")), "_neg_ppl", frac,
        id_col)


def dsir(pages, lang, frac, id_col="url"):
    """The top ``frac`` by DSIR weight against the ``lang`` rows."""
    w = dsir_weights(pages, _target(pages, lang), text_col="text",
                     id_col=id_col)
    return _top_frac(pages, w, "dsir_logratio", frac, id_col)


def doremi(pages, eta, rounds, frac, id_col="url"):
    """DoReMi weights over lang under the corpus-fit LM, then an md5
    acceptance mixture to ``frac`` of the corpus."""
    # one LM pass scores every doc; the scored join is materialized
    # once and feeds both the weights' aggregate and the sample
    scored = lm_fit_score(pages, F.lit(True), text_col="text",
                          id_col=id_col)
    j = _cut(pages.join(scored.select(id_col, "logppl"), id_col))
    w = doremi_weights(j, "lang", F.col("logppl"), rounds=rounds, eta=eta)
    return doremi_sample(j, "lang", id_col, [tuple(r) for r in w.collect()],
                         budget_frac=frac).drop("logppl")


def ccnet_keep(pages, lang, buckets, id_col="url"):
    """The listed CCNet ppl terciles (head, middle, tail; per language)
    under the ``lang``-fit LM."""
    scored = lm_fit_score(pages, _target(pages, lang), text_col="text",
                          id_col=id_col)
    labelled = quantile_buckets(
        pages.join(scored.select(id_col, "logppl"), id_col), "lang",
        "logppl", (1.0 / 3.0, 2.0 / 3.0), ("head", "middle", "tail"),
        id_col, ascending=True)
    return (labelled.where(F.col("bucket").isin(list(buckets)))
                    .drop("bucket", "logppl"))


def mix(pages, shares, budget, id_col="url"):
    """``budget`` rows at these per-lang shares."""
    return mixture_sample(pages, "lang", id_col, shares, budget=budget)


def mix_temperature(pages, alpha, frac, id_col="url"):
    """Keep lang l at a rate prop. to p_l^alpha / p_l, to ``frac``."""
    return temperature_sample(pages, "lang", id_col, alpha=alpha,
                              budget_frac=frac)


def split(pages, fracs, keep, counts):
    """Group-level split by url host: fills ``counts`` with the rows of
    each split and returns the rows of split ``keep``."""
    sp = _cut(leakage_safe_split(
        pages.withColumn("_host", host_of(F.col("url"))), "_host",
        fracs=tuple(fracs)))
    counts.update((r["split"], r["n"]) for r in
                  sp.groupBy("split").agg(F.count("*").alias("n")).collect())
    return sp.where(F.col("split") == keep).drop("split", "_host")
