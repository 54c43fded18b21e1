"""Deterministic stratified sampling for training-data pipelines.

Down-sampling over-represented strata (languages, domains, sources) is
a standard corpus-curation step. Doing it with `rand()` is wrong at
scale twice over: the sample is not reproducible across retries /
resumed partitions (breaking checkpoint idempotency — a re-run of a
failed partition would keep DIFFERENT rows), and it cannot be replayed
by an external verifier.

Instead each row's fate is a pure function of its key: a 32-bit slice
of md5(key) taken modulo 10_000 yields a near-uniform bucket in
[0, 10000) — 32 bits, not 16: 2^16 % 10000 = 5536 leaves low buckets
with 7/65536 mass vs 6/65536, a +6.8% relative bias on every rate
<= 0.5536; at 32 bits the residual bias is 1 part in ~4.3e5. The row
survives iff bucket < rate·10000. Deterministic, independent of
partitioning and row order, stable under resume, and replayable in
any engine with md5 (DuckDB: ('0x' || substr(md5(k), 1, 8))::BIGINT %
10000). NULL keys hash via coalesce-to-'' — all NULL-key rows share
one fixed bucket rather than being silently dropped. Per-stratum
rates compile to ONE native CASE expression — no shuffle, no UDF; the
filter runs inside the scan's codegen stage and combines with
predicate pushdown on the stratum column.
"""

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, functions as F

BUCKETS = 10_000


def hash_bucket(key_col: str) -> Column:
    """Near-uniform deterministic bucket in [0, 10000) from the shared
    md5-slice kernel (functions/hashing; see module docstring for the
    bias arithmetic). NULL keys coalesce to '' — one shared,
    deterministic bucket."""
    from .hashing import md5_mod
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    return md5_mod(key, BUCKETS)


#: coarse histogram width for the two-phase samplers: the first 4 hex
#: chars of md5 → 65536 buckets. The bucket is a PREFIX of the full
#: md5 ordering key, so bucket order is consistent with md5 order and
#: the two-phase pick selects EXACTLY the rows the naive full-stratum
#: row_number window would.
COARSE_BUCKETS = 65_536


def _md5_order_cols(key_col: str):
    """(full md5 hex, coarse bucket) of the selection key — the total
    order and its 16-bit prefix histogram bucket."""
    h = F.md5(F.coalesce(F.col(key_col).cast("string"), F.lit("")))
    b = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
    return h, b


def score_bin(score: Column, lo: Column, hi: Column, bins: int) -> Column:
    """The bin of ``score`` among ``bins`` equal-width bins over
    [lo, hi]: ``least(bins − 1, floor((score − lo) · (bins/(hi −
    lo))))``, and 0 when hi == lo. The DuckDB replays evaluate the
    identical IEEE expression, so bin ids are bit-equal across
    engines."""
    return F.when(
        hi > lo,
        F.least(F.lit(bins - 1),
                F.floor((score - lo) * (F.lit(float(bins)) / (hi - lo)))
                 .cast("long"))
    ).otherwise(F.lit(0))


def _quota_bands(base: DataFrame, group_col: str, quotas,
                 order) -> DataFrame:
    """Rank each ``group_col`` group under the total order ``order``
    against nondecreasing ``quotas`` (Columns constant within a
    group), with no sort of a whole group: ``_band`` is the number of
    quotas the row's rank falls beyond. The top-quota samplers keep
    band 0; ``quantile_buckets`` labels every band. ``base`` carries
    ``_bin``, a long that ascends with ``order`` and is an order-
    prefix of it.

      1. histogram: groupBy(group, _bin).count() — map-side combined,
         so a heavy group shrinks to one row per bin; the only
         corpus-wide aggregate.
      2. cutoffs: a running count over each group's histogram, then
         ONE aggregate finds, for every quota i, the first bin
         ``_cutbin{i}`` where the count reaches it and the residual
         rank ``_rem{i}`` inside it. A group that never reaches
         quotas[0] gets no row, so the relation is small and
         broadcasts.
      3. bands: a row outside every cutoff bin takes its band from
         bin comparisons alone; only the rows in a cutoff bin
         (expected n/65536 each for md5 or score bins) pay an exact
         row_number, partitioned by (group, _bin).

    Because ``_bin`` is an order-prefix, every band is exactly the
    naive per-group row_number window's, so a DuckDB replay (a plain
    rank window) hash-matches. NULL groups are a group of their own
    (null-safe joins). Returns ``base``'s columns less ``_bin``, plus
    ``_band``."""
    from pyspark.sql import Window
    k = len(quotas)
    hist = base.groupBy(group_col, "_bin").agg(
        F.count("*").alias("_c"),
        *[F.first(q).alias(f"_q{i}") for i, q in enumerate(quotas)])
    wcum = (Window.partitionBy(group_col).orderBy("_bin")
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    cum = hist.withColumn("_cum", F.sum("_c").over(wcum))

    def reached(i):
        return F.when(F.col("_cum") >= F.col(f"_q{i}"), F.col("_bin"))

    cutoffs = (cum.where(F.col("_cum") >= F.col("_q0"))
                  .groupBy(F.col(group_col).alias("_g"))
                  .agg(*[a for i in range(k) for a in (
                      F.min(reached(i)).alias(f"_cutbin{i}"),
                      F.min_by(F.col(f"_q{i}") - F.col("_cum")
                               + F.col("_c"), reached(i))
                       .alias(f"_rem{i}"))]))
    joined = base.join(F.broadcast(cutoffs),
                       F.col(group_col).eqNullSafe(F.col("_g")), "left")
    at_cut = F.lit(False)
    for i in range(k):
        at_cut = at_cut | F.col("_bin").eqNullSafe(F.col(f"_cutbin{i}"))
    wband = Window.partitionBy(group_col, "_bin").orderBy(*order)
    ranked = (joined.where(~at_cut)
                    .withColumn("_rn", F.lit(None).cast("int"))
                    .unionByName(joined.where(at_cut).withColumn(
                        "_rn", F.row_number().over(wband))))
    band = sum(F.coalesce((F.col("_bin") > F.col(f"_cutbin{i}"))
                          | ((F.col("_bin") == F.col(f"_cutbin{i}"))
                             & (F.col("_rn") > F.col(f"_rem{i}"))),
                          F.lit(False)).cast("int") for i in range(k))
    return (ranked.withColumn("_band", band).drop(
        "_bin", "_g", "_rn", *[f"_{c}{i}" for i in range(k)
                               for c in ("cutbin", "rem")]))


def accept_at_rates(df: DataFrame, strata_col: str, key_col: str,
                    rates: DataFrame,
                    rate_alias: Optional[str] = None) -> DataFrame:
    """Keep each row of stratum s iff ``hash_bucket(key_col) <
    floor(rate_s·10000 + 1e-9)`` — the 1e-9 guards the IEEE
    representation of a 6-dp rate, the same rule as
    ``mixture_quotas``. ``rates`` is a tiny (stratum, rate) relation
    (one row per stratum) that broadcasts; NULL strata join null-
    safely and sample at their own rate, and a stratum with no rate
    row keeps nothing. ``rate_alias`` exposes the applied rate column
    for audits / the correctness oracle; it must not collide with an
    input column (raises — a rename would silently emit a duplicate,
    ambiguous column)."""
    if rate_alias and rate_alias in df.columns:
        raise ValueError(
            f"rate_alias {rate_alias!r} collides with an input column")
    joined = (df.join(F.broadcast(rates.toDF("_rate_s", "_rate")),
                      F.col(strata_col).eqNullSafe(F.col("_rate_s")))
                .drop("_rate_s"))
    thr = F.floor(F.col("_rate") * F.lit(float(BUCKETS)) + F.lit(1e-9))
    out = joined.where(hash_bucket(key_col) < thr)
    if rate_alias:
        return out.withColumnRenamed("_rate", rate_alias)
    return out.drop("_rate")


def stratified_sample(df: DataFrame, strata_col: str, key_col: str,
                      rates: Dict[str, float],
                      default_rate: float = 1.0,
                      bucket_alias: Optional[str] = None) -> DataFrame:
    """Keep each row of stratum s with probability rates[s] (exact,
    deterministic in ``key_col``). Strata absent from ``rates`` use
    ``default_rate``. ``bucket_alias`` additionally exposes the bucket
    column (useful for audits / the correctness oracle)."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} out of [0,1]: {r}")
    thr = F.lit(int(round(default_rate * BUCKETS)))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == s,
                     F.lit(int(round(r * BUCKETS)))).otherwise(thr)
    out = df.where(hash_bucket(key_col) < thr)
    if bucket_alias:
        out = out.withColumn(bucket_alias, hash_bucket(key_col))
    return out


def quantile_cut(df: DataFrame, strata_col: str, score_col: str,
                 keep_frac: float, tiebreak_col: str,
                 ascending: bool = False) -> DataFrame:
    """Keep the best ``keep_frac`` of each stratum by ``score_col``
    (descending by default — 'top 40% by quality score per language',
    the standard perplexity/quality percentile cut). percent_rank over
    a (stratum)-partitioned window; ``tiebreak_col`` (a unique key)
    makes the ordering total, so the cut is deterministic and
    engine-replayable — never rand()-sampled.

    One shuffle on the stratum column, and ONE REDUCER TASK PER
    STRATUM — fine for high-cardinality strata, a scale-killer when
    one language owns most of the corpus. At corpus scale use
    ``quantile_cut_scalable`` (the r4 default, exact, two-phase
    histogram — what q49 runs; NOTE its per-stratum quota is
    max(1, floor(kf·n)), not this window's floor(kf·(n−1))+1 — the
    renderings differ at the boundary by design) or ``quantile_cut_approx`` (sketch
    threshold: within the sketch's rank error of keep_frac, keeps all
    score ties at the threshold, and DROPS NULL strata via its inner
    join — filter NULL strata first if renderings must agree). This
    window rendering is kept as the semantics reference and for small
    stratified tables.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac out of (0,1]: {keep_frac}")
    from pyspark.sql import Window
    order = [F.asc(score_col) if ascending else F.desc(score_col),
             F.asc(tiebreak_col)]
    w = Window.partitionBy(strata_col).orderBy(*order)
    return (df.withColumn("_pr", F.percent_rank().over(w))
              .where(F.col("_pr") <= F.lit(keep_frac))
              .drop("_pr"))


def quantile_cut_approx(df: DataFrame, strata_col: str, score_col: str,
                        keep_frac: float, ascending: bool = False,
                        accuracy: int = 10_000) -> DataFrame:
    """Sketch-threshold rendering of quantile_cut for skew-proof scale
    (see quantile_cut docstring). Deterministic: Spark's
    approx_percentile sketch (Greenwald-Khanna) is a deterministic
    function of the input multiset at fixed accuracy."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac out of (0,1]: {keep_frac}")
    q = keep_frac if ascending else 1.0 - keep_frac
    thr = (df.groupBy(strata_col)
             .agg(F.percentile_approx(score_col, q, accuracy)
                  .alias("_thr")))
    keep = (F.col(score_col) <= F.col("_thr") if ascending
            else F.col(score_col) >= F.col("_thr"))
    return (df.join(F.broadcast(thr), strata_col)
              .where(keep)
              .drop("_thr"))


def _quantile_bands(df: DataFrame, strata_col: str, score_col: str,
                    fracs, tiebreak_col: str,
                    ascending: bool) -> DataFrame:
    """``_quota_bands`` of the non-NULL-score rows under the quotas
    max(1, floor(f·n_s + 1e-9)) for f in ``fracs``, ordered by (score
    asc or desc, tiebreak asc), binned by ``score_bin`` between each
    stratum's min and max (flipped when descending), so score ties at
    a boundary share one bin and the tiebreak resolves them there."""
    sc = F.col(score_col).cast("double")
    base = df.where(sc.isNotNull())
    ext = base.groupBy(strata_col).agg(
        F.count("*").alias("_n"), F.min(sc).alias("_mn"),
        F.max(sc).alias("_mx"))
    b = score_bin(sc, F.col("_mn"), F.col("_mx"), COARSE_BUCKETS)
    scored = (base.join(F.broadcast(
                        ext.withColumnRenamed(strata_col, "_s0")),
                        F.col(strata_col).eqNullSafe(F.col("_s0")))
                  .drop("_s0")
                  .withColumn("_bin", b if ascending
                              else F.lit(COARSE_BUCKETS - 1) - b))
    quotas = [F.greatest(F.lit(1).cast("long"),
                         F.floor(F.lit(float(f)) * F.col("_n")
                                 + F.lit(1e-9)).cast("long"))
              for f in fracs]
    order = [F.asc(score_col) if ascending else F.desc(score_col),
             F.asc(tiebreak_col)]
    return (_quota_bands(scored, strata_col, quotas, order)
            .drop("_n", "_mn", "_mx"))


def quantile_cut_scalable(df: DataFrame, strata_col: str, score_col: str,
                          keep_frac: float, tiebreak_col: str,
                          ascending: bool = False) -> DataFrame:
    """EXACT per-stratum quantile cut without a full-stratum sort —
    the scale-safe rendering of ``quantile_cut``'s job ('top 40% by
    quality per language', where the `en` stratum is most of the
    corpus and a per-stratum rank window would hand one reducer the
    whole language).

    Semantics: keep the best ``quota = max(1, floor(keep_frac·n_s +
    1e-9))`` rows of each stratum s under the total order (score desc
    — or asc —, tiebreak asc); the +1e-9 is ``mixture_quotas``' exact-
    arithmetic rule (a bare IEEE product turns 0.4·250 into
    100.000…01, which ceil/int would mis-round by one), and the
    max(1,·) keeps every non-empty stratum represented. The kept set
    is band 0 of ``_quantile_bands``.

    Degenerate stratum (min == max): every row is one bin → the band
    is the whole stratum and the window sorts it all; a constant-score
    stratum has no meaningful quantile anyway. Scores must be
    non-NULL (NULL rows are dropped, stated here so both renderings
    agree). NULL strata are kept as their OWN stratum, as in
    ``quantile_cut``'s window partition.

    INTENTIONAL quota divergence from ``quantile_cut``: this keeps
    exactly ``max(1, floor(kf·n))`` rows per stratum, while the
    percent_rank rule keeps ``floor(kf·(n−1)) + 1`` (e.g. n=5,
    kf=0.5 → 2 here vs 3 there). The floor-of-count rule is the one
    the mixture/budget samplers share and the one an external replay
    computes without a rank pass; substituting one rendering for the
    other changes the kept set at the boundary."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac out of (0,1]: {keep_frac}")
    return (_quantile_bands(df, strata_col, score_col, [keep_frac],
                            tiebreak_col, ascending)
            .where(F.col("_band") == 0).drop("_band"))


def per_key_cap(df: DataFrame, key_col: str, cap: int,
                order_col: str) -> DataFrame:
    """At most ``cap`` rows per key, chosen deterministically by
    ``order_col`` (e.g. md5-bucket order for an unbiased pick, or a
    quality score for a biased one) — the 'max N pages per domain'
    crawl-curation rule. row_number over a per-key window; same skew
    caveat as quantile_cut: acceptable while the key (domain) stays
    high-cardinality AND no single key dominates. When one domain owns
    a large corpus share, use ``per_key_cap_scalable`` — the two-phase
    md5-prefix-histogram rendering of the same pick (bit-identical
    kept set for order_col = md5(id)) that never sorts a whole key in
    one task."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1: {cap}")
    from pyspark.sql import Window
    w = Window.partitionBy(key_col).orderBy(F.asc(order_col))
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= cap)
              .drop("_rn"))


def per_key_cap_scalable(df: DataFrame, key_col: str, cap: int,
                         id_col: str) -> DataFrame:
    """Scale-safe 'max N pages per domain': keep, per key, the ``cap``
    rows with the smallest (md5(id), id) — the same deterministic
    unbiased pick as ``per_key_cap(order_col=md5-bucket)`` — WITHOUT
    handing any reducer a whole key: ``per_key_cap``'s row_number
    window sorts each key inside one task, so the one boilerplate
    domain that owns 10% of a crawl becomes a single straggler task.
    The kept set is band 0 of ``_quota_bands`` over the md5-prefix
    bucket, so it is bit-identical to the naive window's.

    Keys with n ≤ cap are kept whole. The cutoff relation has one row
    per key EXCEEDING the cap — in a crawl, the small heavy-hitter set
    — and broadcasts. NULL keys form their own key group; NULL ids
    order via md5('')."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1: {cap}")
    h, b = _md5_order_cols(id_col)
    base = df.withColumn("_h", h).withColumn("_bin", b)
    return (_quota_bands(base, key_col, [F.lit(cap)],
                         [F.asc("_h"), F.asc(id_col)])
            .where(F.col("_band") == 0).drop("_h", "_band"))


def mixture_quotas(shares: dict, budget: int) -> Dict[str, int]:
    """floor(share·budget) per stratum, with EXACT arithmetic: a bare
    int(share*budget) floors the float-perturbed product (0.29·100 →
    28.999…96 → 28, one row short of the documented floor); the +1e-9
    nudge restores exact-integer products while never promoting a
    genuinely fractional quota (shares have far fewer than 9 decimals
    of intent)."""
    import math
    return {s: math.floor(share * budget + 1e-9)
            for s, share in shares.items()}


def mixture_sample(df: DataFrame, strata_col: str, key_col: str,
                   shares: dict, budget: int) -> DataFrame:
    """Assemble a fixed-budget corpus with target per-stratum
    proportions — the dataset-MIXING step (Pile/Dolma-style source
    weighting) that follows quality filtering: for each stratum s in
    ``shares``, take the floor(shares[s]·budget) rows with the
    smallest md5(key) — a deterministic uniform-without-replacement
    pick, resume-stable and engine-replayable like every sampler in
    this module. Strata not in ``shares`` are dropped; an
    under-populated stratum contributes ALL its rows (the shortfall is
    visible in the output counts — no silent reflow to other strata,
    which would change the mixture semantics).

    Scale shape — NO full-stratum sort. Mixing runs over the entire
    kept corpus, last, with stratum = data SOURCE (cardinality ~5), so
    a per-stratum row_number window would hand one reducer task an
    entire source; the pick is band 0 of ``_quota_bands`` over the
    md5-prefix bucket instead. Output columns keep ``df``'s order.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1: {budget}")
    if not shares:
        raise ValueError("shares must be non-empty")
    quotas = mixture_quotas(shares, budget)
    quota = None
    for s in sorted(quotas):
        cond = F.col(strata_col) == s
        q = F.lit(quotas[s])
        quota = F.when(cond, q) if quota is None else quota.when(cond, q)
    h, b = _md5_order_cols(key_col)
    base = (df.where(F.col(strata_col).isin(list(shares)))
              .withColumn("_h", h).withColumn("_bin", b))
    return (_quota_bands(base, strata_col, [quota.otherwise(F.lit(0))],
                         [F.asc("_h"), F.asc(key_col)])
            .where(F.col("_band") == 0).drop("_h", "_band"))


def weighted_sample(df: DataFrame, key_col: str,
                    weight_col: str) -> DataFrame:
    """Importance sampling: keep each row with probability equal to
    its weight in [0,1] (quality-weighted corpus downsampling — keep
    high-quality docs with certainty, junk proportionally). The
    acceptance draw is the shared md5 kernel scaled to [0,1)
    (functions/hashing), so the decision is a pure function of the
    key: deterministic, resume-stable, partitioning-independent, and
    engine-replayable — `u < w` replays as
    ``(md5-slice % 10000)/10000.0 < w`` on any engine. Weights are
    clamped to [0,1]; granularity is 1/10000 (same bucket arithmetic
    + bias note as stratified_sample)."""
    u = hash_bucket(key_col) / F.lit(float(BUCKETS))
    w = F.least(F.greatest(F.col(weight_col).cast("double"),
                           F.lit(0.0)), F.lit(1.0))
    return df.where(u < w)


def temperature_rates(df: DataFrame, strata_col: str,
                      alpha: float = 0.3,
                      budget_frac: float = 0.5) -> DataFrame:
    """Per-stratum keep rates for TEMPERATURE-SCALED mixture sampling
    (the multilingual-LM standard: mBERT/XLM-R/mT5 sample language l
    with probability ∝ p_l^α, α≈0.3 — up-weights tail languages,
    tempers the head; Conneau & Lample 2019, arXiv:1901.07291 §3.1).

    Given corpus shares p_l = n_l / N, the target mixture is
    q_l = p_l^α / Σ_m p_m^α and the keep rate for a total budget of
    B = floor(budget_frac · N + 1e-9) docs is
    ``rate_l = min(1, B · q_l / n_l)`` rounded to 6 dp (pow/ln are
    libm-evaluated; the rounding is the repo float contract that
    absorbs last-bit cross-engine drift). Head strata may rate-limit
    at 1.0, making the realized total slightly under B — the standard
    behavior (you cannot up-sample without replacement).

    Plan shape: ONE map-combined count aggregate over the corpus, then
    two 1-row cross joins (total N, normalizer Z) over the tiny
    per-stratum relation — no driver round-trip, no second corpus
    scan. Returns (strata_col, n_docs, rate)."""
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac out of (0,1]: {budget_frac}")
    if alpha <= 0.0:
        raise ValueError(f"alpha must be > 0: {alpha}")
    n = df.groupBy(strata_col).agg(F.count("*").alias("n_docs"))
    tot = n.agg(F.sum("n_docs").alias("_N"))
    p = (n.crossJoin(F.broadcast(tot))
          .withColumn("_pa", F.pow(F.col("n_docs")
                                   / F.col("_N"), F.lit(alpha))))
    z = p.agg(F.sum("_pa").alias("_Z"))
    budget = F.floor(F.lit(float(budget_frac)) * F.col("_N")
                     + F.lit(1e-9))
    rate = F.round(
        F.least(F.lit(1.0),
                budget * (F.col("_pa") / F.col("_Z"))
                / F.col("n_docs")), 6)
    return (p.crossJoin(F.broadcast(z))
             .select(strata_col, "n_docs", rate.alias("rate")))


def temperature_sample(df: DataFrame, strata_col: str, key_col: str,
                       alpha: float = 0.3,
                       budget_frac: float = 0.5,
                       rate_alias: str = None) -> DataFrame:
    """Execute the temperature mixture: keep each row of stratum l
    with probability rate_l from ``temperature_rates`` via
    ``accept_at_rates`` — deterministic in ``key_col``, resume-stable,
    engine-replayable. NULL strata sample at their own rate;
    ``rate_alias`` exposes the applied rate column."""
    rates = temperature_rates(df, strata_col, alpha, budget_frac)
    return accept_at_rates(df, strata_col, key_col,
                           rates.select(strata_col, "rate"), rate_alias)


def quantile_buckets(df: DataFrame, strata_col: str, score_col: str,
                     fracs, labels, tiebreak_col: str,
                     ascending: bool = True,
                     bucket_col: str = "bucket") -> DataFrame:
    """Label every row with its per-stratum score bucket — the CCNet
    layout (Wenzek et al. 2020, arXiv:1911.00359 §4.3: per-language
    HEAD/MIDDLE/TAIL by perplexity terciles, head = lowest ppl).

    ``fracs`` are strictly increasing cumulative cut points (e.g.
    (1/3, 2/3)) and ``labels`` has len(fracs)+1 entries: rows ranked
    within fracs[0] of their stratum get labels[0], within fracs[1]
    labels[1], …, the remainder labels[-1]. Same quota rule as
    ``quantile_cut_scalable`` (max(1, floor(frac·n + 1e-9)) rows per
    stratum, under score asc/desc, tiebreak asc): the buckets are the
    bands between those nested top-quota prefixes of one total order,
    so band i is labels[i]. NULL scores are not rankable: they take
    labels[-1] (stated so the oracle agrees). NULL strata are a
    stratum of their own.

    Plan shape: every cut point comes from ONE pass — one extents
    aggregate, one (stratum, bin) histogram with one running count,
    and one cutoff aggregate that finds each cut's bin and residual
    rank, broadcast back; only the rows in a cut's boundary bin pay a
    row_number. The aggregates, windows and shuffles are the same for
    one cut point or three, and no per-stratum global sort runs
    anywhere."""
    fl = list(fracs)
    if len(labels) != len(fl) + 1:
        raise ValueError("need len(fracs)+1 labels, got "
                         f"{len(labels)} for {len(fl)} fracs")
    if any(b <= a for a, b in zip(fl, fl[1:])):
        raise ValueError(f"fracs must be strictly increasing: {fl}")
    # materialize the input ONCE: the pass scans it ~4× (extents,
    # histogram, band join, NULL scores), so an expensive upstream
    # (e.g. the --ccnet-keep LM fit+score join) would otherwise re-run
    # per scan. LAZY, so composing or explaining the plan fires no
    # job — the first real action materializes it and the remaining
    # scans hit the checkpoint.
    df = df.localCheckpoint(eager=False)
    names = F.array(*[F.lit(label) for label in labels])
    ranked = (_quantile_bands(df, strata_col, score_col, fl,
                              tiebreak_col, ascending)
              .withColumn(bucket_col, names[F.col("_band")])
              .drop("_band"))
    unranked = (df.where(F.col(score_col).cast("double").isNull())
                  .withColumn(bucket_col, F.lit(labels[-1])))
    return ranked.unionByName(unranked)


def split_thresholds(fracs) -> list:
    """Cumulative md5-bucket thresholds over [0, 65536) for the given
    (name, fraction) list — shared by `leakage_safe_split` and its
    DuckDB oracle so both engines compare against identical literals."""
    if not fracs:
        raise ValueError("fracs must name at least one split")
    if any(f < 0 for _, f in fracs):
        raise ValueError(f"negative split fraction in {fracs}")
    total = sum(f for _, f in fracs)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}"
                         " (an under-allocation would silently dump the"
                         " remainder into the last split)")
    out, acc = [], 0.0
    for _, frac in fracs[:-1]:
        acc += frac
        out.append(int(round(acc * 65536)))
    return out


def leakage_safe_split(df: DataFrame, key_col: str,
                       fracs=(("train", 0.90), ("val", 0.05),
                              ("test", 0.05)),
                       split_col: str = "split") -> DataFrame:
    """Deterministic GROUP-level train/val/test split: every row of a
    key (e.g. crawl domain) lands in the SAME split, so near-duplicate
    documents — which cluster within domains in real crawls — can
    never straddle the train/eval boundary (leakage control; the
    group-level analogue of the eval-decontamination pass).

    bucket = first 4 hex chars of md5(key) in [0, 65536); cumulative-
    fraction thresholds on the bucket assign the split. Same md5-bucket
    family as the samplers: no rand(), no shuffle, resume-stable — a
    pure projection the scan absorbs, so at 10^12 docs this costs
    nothing beyond the scan itself. NULL keys hash as '' (one
    deterministic group, identical in the DuckDB twin)."""
    _, bucket = _md5_order_cols(key_col)
    expr = None
    for thr, (name, _) in zip(split_thresholds(fracs), fracs):
        cond = bucket < thr
        expr = (F.when(cond, name) if expr is None
                else expr.when(cond, name))
    expr = (F.lit(fracs[-1][0]) if expr is None
            else expr.otherwise(fracs[-1][0]))
    return df.withColumn(split_col, expr)
