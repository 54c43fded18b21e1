"""Corpus-FIT bigram language model + perplexity scoring — the
training half of the CCNet recipe (Wenzek et al. 2020, arXiv:
1911.00359 §3.2: fit a KenLM on target-domain text, score the whole
crawl with it, cut on perplexity).  `functions/ppl_sql.py` scores
under a FIXED ~200-row toy LM; this module fits the LM ON THE CORPUS
(a target subset — e.g. the lang='en' slice standing in for CCNet's
Wikipedia) and scores every document under the fit model, entirely
declaratively.

Model: word-bigram with add-k smoothing over the training vocabulary,

    p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V)

where c(w1) is w1's CONTEXT count (sum of bigram counts starting at
w1, so the conditional normalizes exactly), V = |distinct training
tokens|, and both unseen contexts and unseen bigrams fall out of the
same formula (c = 0) — no explicit <unk> row needed.  Per document:

    logppl = -mean over adjacent word pairs of log2 p(w2 | w1)
             (EMPTY_PPL if the doc has < 2 words)

Plan shape at 100 TB:
 - training = ONE bigram explode + map-side-combinable hash aggregate
   (the count table is vocabulary²-bounded, not corpus-bounded) plus a
   w1 rollup of that table for context counts — no windows, no joins.
 - V and k enter as a 1-row broadcast cross join (the DSIR scalar
   pattern) — the driver never collects anything.
 - scoring pays the lookup once per DISTINCT score-side bigram (the
   q63 vocabulary-memoization shape): distinct pairs hash-join the
   count tables on their natural keys, then DOC-PAIR rows — the
   occurrence stream collapsed to (doc, pair, cnt) by a map-side-
   combinable hash agg, since stopword pairs repeat heavily within a
   doc — re-join their pair's finished logprob and fold the weighted
   mean.  Count tables can exceed broadcast size at corpus scale, so
   these are plain shuffled hash joins on (w1, w2) / w1 — both sides
   key-partitioned, skew-safe (Zipf-head contexts are single rows on
   the build side).
 - the doc-pair relation feeds two consumers (the pair vocabulary
   and the per-doc join) through Catalyst EXCHANGE REUSE — one
   shuffle, two readers — and is deliberately NOT localCheckpointed:
   a fused variant that pinned it (and derived the training counts
   from the pinned relation) measured ~30x SLOWER at 320k docs
   (1-2 s -> 32-40 s), because materializing the corpus-widest
   relation to checkpoint storage costs far more than recomputing
   the explode from the columnar scan, and it forfeits the map-side
   partial aggregation of the training counts.  Checkpoint-pinning
   pays off only when the shared subtree is EXPENSIVE to recompute
   (e.g. the Arrow detect UDF in operators/detect.py), not for
   explode+agg over a scan.

Float caveat (same as ppl_sql): log2 / division accumulate ~1 ulp of
engine-dependent noise per doc average; driver queries round to 5
decimals.
"""

from pyspark.sql import Column, DataFrame, functions as F

from .textstats import word_windows, words_col
from .ppl_sql import EMPTY_PPL

ADD_K = 0.5  # exactly representable in binary — both engines agree


def _toks(text_col: str) -> Column:
    return F.transform(words_col(text_col), lambda w: F.lower(w))


def _bigrams(text_col: str) -> Column:
    """Adjacent lowercased word pairs as (w1, w2) structs; empty for
    docs with < 2 words."""
    return word_windows(_toks(text_col), 2,
                        lambda x, y: F.struct(x.alias("w1"),
                                              y.alias("w2")))


def bigram_lm_fit(train: DataFrame, text_col: str = "text"):
    """Fit the add-k bigram LM on ``train``.  Returns (bg_counts,
    ctx_counts, scalars): bigram counts (w1, w2, c2), context counts
    (w1, c1), and a 1-row DataFrame with the vocabulary size v."""
    bg = (train.select(F.explode(_bigrams(text_col)).alias("p"))
               .select("p.w1", "p.w2")
               .groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    ctx = bg.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scalars = (train.select(F.explode(_toks(text_col)).alias("w"))
                    .agg(F.count_distinct("w").cast("double").alias("v")))
    return bg, ctx, scalars


def bigram_lm_ppl(df: DataFrame, bg: DataFrame, ctx: DataFrame,
                  scalars: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: float = ADD_K) -> DataFrame:
    """(id, n_bigrams, logppl) of every doc under the fit model."""
    # collapse occurrences to (doc, pair, cnt) FIRST: stopword pairs
    # repeat heavily within a doc, so the lookup join moves unique
    # doc-pairs (map-side-combinable hash agg), not every occurrence
    occ = (df.select(F.col(id_col), F.explode(_bigrams(text_col))
                     .alias("p"))
             .select(id_col, "p.w1", "p.w2")
             .groupBy(id_col, "w1", "w2")
             .agg(F.count("*").alias("_cnt")))
    pairs = occ.select("w1", "w2").distinct()
    lp = (pairs.join(bg, ["w1", "w2"], "left")
               .join(ctx, "w1", "left")
               .crossJoin(F.broadcast(scalars))
               .select(
        "w1", "w2",
        F.log2((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
               / (F.coalesce(F.col("c1"), F.lit(0))
                  + F.lit(k) * F.col("v"))).alias("lp")))
    per_doc = (occ.join(lp, ["w1", "w2"])
                  .groupBy(id_col)
                  .agg(F.sum("_cnt").alias("n_bigrams"),
                       (-(F.sum(F.col("_cnt") * F.col("lp"))
                          / F.sum("_cnt"))).alias("_ppl")))
    base = df.select(F.col(id_col))
    return (base.join(per_doc, id_col, "left")
                .select(id_col,
                        F.coalesce("n_bigrams", F.lit(0).cast("long"))
                         .alias("n_bigrams"),
                        F.coalesce(F.col("_ppl"), F.lit(EMPTY_PPL))
                         .alias("logppl")))


def lm_fit_score(df: DataFrame, train_pred: Column,
                 text_col: str = "text", id_col: str = "doc_id",
                 k: float = ADD_K) -> DataFrame:
    """CCNet stage in one call: fit on ``df`` rows where ``train_pred``
    holds, score ALL of ``df`` under the fit model."""
    bg, ctx, scalars = bigram_lm_fit(df.where(train_pred), text_col)
    return bigram_lm_ppl(df, bg, ctx, scalars, text_col, id_col, k)
