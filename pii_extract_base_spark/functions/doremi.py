"""DoReMi-style domain reweighting — the last member of the
data-selection family (DSIR q84/q98, temperature mixture q99, CCNet
terciles q100, fixed-share mixture q70).

Method (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
Language Model Pretraining", arXiv:2305.10429, Algorithm 1,
simplified): start from the reference distribution u (corpus shares),
and for T rounds apply an exponentiated-gradient update on per-domain
excess losses λ:

    α'_i  = α_{t-1,i} · exp(η · λ_i)
    α_t,i = (1 − c) · α'_i / Σ_j α'_j  +  c · u_i        (smoothing)

SIMPLIFICATION (documented deviation): real DoReMi recomputes λ every
round from a proxy-vs-reference model pair trained under the current
mixture; here λ is STATIC — the per-domain mean of a caller-supplied
per-document loss column (e.g. perplexity under the corpus-fit LM,
`functions/lmtrain.lm_fit_score`), shifted so min λ = 0. With static
losses the loop is a closed-form exponentiated-gradient ascent, which
keeps the operator deterministic and engine-replayable (the DuckDB
oracle unrolls the same T rounds as window-normalized CTEs, the q67
logistic-regression pattern).

Scale shape: ONE map-side-combined aggregate over the corpus
(groupBy(domain): count + rounded avg loss); the T-round update runs
on the driver over the tiny per-domain relation (domains are data
sources — tens, not millions) and the result returns as plan
literals. Nothing iterative ever touches the corpus, so the operator
costs one scan at any corpus size.

Cross-engine float contract (same as operators/lr): per-round weights
are quantized with `_qround` (the DuckDB double-round rule) at 8 dp,
λ at 9 dp, the published weight at 6 dp — summation/normalization
order drift is absorbed by the quantization exactly as in the q67
replay.

The reference (pii-extract-base) has no data-selection surface; this
is the beyond-reference training-data family.
"""

import math
from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F

from ..operators.lr import _qround


def doremi_weights(df: DataFrame, domain_col: str, loss_col,
                   rounds: int = 10, eta: float = 0.5,
                   smooth: float = 0.01,
                   quant: int = 8) -> DataFrame:
    """Per-domain mixture weights from the static-loss DoReMi update.

    ``loss_col`` is any per-document Column (higher = the current
    model finds the domain harder, so it gains weight). NULL domains
    form their own group (they are a real slice of a crawl); NULL
    losses are skipped by the avg, and a domain whose losses are ALL
    NULL takes λ = 0 (reference weight, neither boosted nor cut).

    Returns (domain_col, n_docs, mean_loss, weight) with weight
    rounded to 6 dp and Σ weight ≈ 1.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0: {rounds}")
    if not 0.0 <= smooth < 1.0:
        raise ValueError(f"smooth must be in [0, 1): {smooth}")
    spark = df.sparkSession
    stats = (df.groupBy(domain_col)
               .agg(F.count("*").alias("n_docs"),
                    F.round(F.avg(loss_col), 9).alias("mean_loss"))
               .collect())
    # stable driver order (None-safe) — normalization sums run in this
    # order; drift vs the oracle's window sums is absorbed by _qround
    rows = sorted(((r[domain_col], int(r["n_docs"]),
                    r["mean_loss"]) for r in stats),
                  key=lambda x: (x[0] is not None, x[0]))
    out_schema = (df.select(F.col(domain_col)).schema[0].dataType
                  .simpleString())
    schema = (f"`{domain_col}` {out_schema}, n_docs bigint, "
              f"mean_loss double, weight double")
    if not rows:
        return spark.createDataFrame([], schema)
    total = float(sum(n for _, n, _ in rows))
    losses = [ml for _, _, ml in rows]
    min_loss = min((ml for ml in losses if ml is not None),
                   default=0.0)
    u = [n / total for _, n, _ in rows]
    lam = [0.0 if ml is None else _qround(ml - min_loss, 9)
           for ml in losses]
    a = list(u)
    for _ in range(rounds):
        boosted = [ai * math.exp(eta * li) for ai, li in zip(a, lam)]
        z = sum(boosted)
        a = [_qround((1.0 - smooth) * bi / z + smooth * ui, quant)
             for bi, ui in zip(boosted, u)]
    out = [(d, n, ml, _qround(ai, 6))
           for (d, n, ml), ai in zip(rows, a)]
    return spark.createDataFrame(out, schema)


def doremi_sample(df: DataFrame, domain_col: str, key_col: str,
                  weights: List[Tuple], budget_frac: float = 0.5,
                  rate_alias: str = None) -> DataFrame:
    """Execute a DoReMi mixture: keep each row of domain i with
    probability rate_i = min(1, B·w_i / n_i) where B = floor(
    budget_frac·N) — the same capped-rate rule as
    `sampling.temperature_sample`, via `sampling.accept_at_rates`
    (deterministic in ``key_col``, resume-stable). ``weights``
    is `doremi_weights`'s collected (domain, n_docs, mean_loss,
    weight) rows (a tiny literal relation); ``rate_alias`` exposes the
    applied rate column."""
    from .sampling import accept_at_rates
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac out of (0,1]: {budget_frac}")
    total = float(sum(int(w[1]) for w in weights))
    budget = math.floor(budget_frac * total + 1e-9)
    rows = [(w[0], _qround(min(1.0, budget * float(w[3]) / int(w[1])),
                           6)) for w in weights]
    dtype = (df.select(F.col(domain_col)).schema[0].dataType
             .simpleString())
    rates = df.sparkSession.createDataFrame(
        rows, f"domain {dtype}, rate double")
    return accept_at_rates(df, domain_col, key_col, rates, rate_alias)
