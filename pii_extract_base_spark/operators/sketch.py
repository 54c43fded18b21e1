"""Count-min sketch: fixed-memory frequency estimation over unbounded
key sets (Cormode & Muthukrishnan, J. Algorithms 2005).

At 100 TB the exact token→count table is itself a big-data object; the
CMS compresses it to depth×width counters (a few KB) that (a) build in
ONE map-side-combinable aggregate pass, (b) broadcast for map-side
frequency lookups (heavy-hitter screens, per-token downweighting à la
word2vec subsampling), and (c) merge across partitions/streams by
plain addition — the property exact dictionaries lack.  Estimates
overcount only: est(x) >= true(x), with error <= 2N/width at
probability 1 - (1/2)^depth.

The hash family is the repo's portable md5-slice (row r probe =
int(md5(r || ':' || item)[:8], 16) % width) so a DuckDB oracle replays
the sketch — including its collision overcounts — bit-for-bit.
"""

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F


def _bucket(item: Column, r: int, width: int) -> Column:
    from ..functions.hashing import md5_mod
    return md5_mod(item, width, salt=f"{r}:")


def cms_build(df: DataFrame, item_col: str, depth: int = 3,
              width: int = 1024,
              count_col: Optional[str] = None) -> DataFrame:
    """Sketch rows (row, bucket, c).  ``count_col`` feeds pre-counted
    items (weighted build — identical result to one row per
    occurrence, one aggregate cheaper).  depth×width output rows."""
    item = F.coalesce(F.col(item_col).cast("string"), F.lit(""))
    cnt = (F.col(count_col).cast("long") if count_col
           else F.lit(1).cast("long"))
    probes = F.array(*[
        F.struct(F.lit(r).cast("int").alias("row"),
                 _bucket(item, r, width).alias("bucket"))
        for r in range(depth)])
    return (df.select(cnt.alias("_c"), F.explode(probes).alias("p"))
              .groupBy(F.col("p.row").alias("row"),
                       F.col("p.bucket").alias("bucket"))
              .agg(F.sum("_c").alias("c")))


def cms_lookup(df: DataFrame, sketch: DataFrame, item_col: str,
               depth: int = 3, width: int = 1024,
               out_col: str = "cms_est") -> DataFrame:
    """Adds ``out_col`` = min over rows of the sketch counters at the
    item's probe positions.  The sketch broadcasts (depth×width rows);
    lookup is explode → broadcast join → min, keyed on the input's
    columns (which must uniquely identify rows)."""
    item = F.coalesce(F.col(item_col).cast("string"), F.lit(""))
    probes = F.array(*[
        F.struct(F.lit(r).cast("int").alias("row"),
                 _bucket(item, r, width).alias("bucket"))
        for r in range(depth)])
    keys = df.columns
    exploded = (df.withColumn("_p", F.explode(probes))
                  .select(*keys, F.col("_p.row").alias("_row"),
                          F.col("_p.bucket").alias("_bucket")))
    joined = exploded.join(
        F.broadcast(sketch),
        (F.col("_row") == F.col("row"))
        & (F.col("_bucket") == F.col("bucket")), "left")
    return (joined.groupBy(*keys)
                  .agg(F.min(F.coalesce(F.col("c"),
                                        F.lit(0).cast("long")))
                        .alias(out_col)))


# ---------------------------------------------------------------------------
# KMV distinct-count + histogram quantiles — DETERMINISTIC, engine-
# replayable sketches (unlike HLL / Greenwald-Khanna, whose internal
# state is not portable across engines, these are pure functions of
# the input multiset and replay exactly in DuckDB)

#: 16^15 — a 15-hex-digit md5 prefix normalized to [0, 1)
_KMV_SCALE = float(16 ** 15)


def kmv_hash(col: Column) -> Column:
    """Uniform double in [0,1) from md5 — the KMV order statistic."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
    return h.cast("double") / F.lit(_KMV_SCALE)


def kmv_distinct(df: DataFrame, col: str, k: int = 256,
                 prefilter: float = None) -> DataFrame:
    """KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct-count
    estimate: the k-th smallest DISTINCT normalized hash R_k gives
    n̂ = (k−1)/R_k (unbiased; rel. error ≈ 1/√(k−2)). Returns one row
    (approx_distinct double, exact when the domain has < k values —
    then the estimator degenerates to the true count).

    Scale shape: one hash projection + a distinct + global min-k.
    ``prefilter`` bounds the shuffle at corpus scale — rows with
    hash > prefilter cannot be among the k smallest once ≥ k distinct
    hashes survive below it, so the filter provably does NOT change
    the result; a one-row count action falls back to the unfiltered
    path when the corpus is too small for the threshold. The DuckDB
    oracle replays the unfiltered definition and must hash-match
    either path."""
    h = kmv_hash(F.col(col)).alias("h")
    base = df.select(h).where(F.col("h").isNotNull())
    cand = base.where(F.col("h") <= prefilter) if prefilter else base
    if prefilter is not None:
        # deterministic fallback: identical result by construction
        if cand.select("h").distinct().limit(k).count() < k:
            cand = base
    kth = (cand.select("h").distinct().orderBy("h").limit(k)
               .agg(F.max("h").alias("r"),
                    F.count("*").cast("long").alias("m")))
    est = F.when(F.col("m") < k, F.col("m").cast("double")) \
           .otherwise(F.lit(float(k - 1)) / F.col("r"))
    return kth.select(F.round(est, 4).alias("approx_distinct"))


def kmv_distinct_sql(expr: str, table: str, k: int = 256) -> str:
    """DuckDB replay of kmv_distinct (same md5 prefix, same k)."""
    scale = repr(_KMV_SCALE)
    return f"""(
        SELECT round(CASE WHEN count(*) < {k}
                          THEN count(*)::DOUBLE
                          ELSE {float(k - 1)!r} / max(h) END, 4)
        FROM (
            SELECT DISTINCT
                (('0x' || substr(md5({expr}), 1, 15))::BIGINT)::DOUBLE
                    / {scale} AS h
            FROM {table} WHERE {expr} IS NOT NULL
            ORDER BY h LIMIT {k})
    )"""


def histogram_quantiles(df: DataFrame, col: str, qs, bins: int = 4096):
    """Approximate quantiles from a fixed-bin histogram between the
    column's min and max — rank error ≤ one bin's mass, deterministic,
    and bit-replayable (both engines evaluate the identical IEEE bin
    expression, `functions/sampling.score_bin`, which
    quantile_cut_scalable uses for selection instead). Returns one
    row with columns p<q> = the cutoff bin's UPPER EDGE (the smallest
    bin boundary whose cumulative count reaches ceil(q·n)).

    Scale shape: two map-combined aggregates over the corpus (min/max,
    then bin counts), a cumsum over ≤``bins`` rows — no sort of the
    data itself (Spark's exact `percentile` sorts every group;
    approx_percentile's GK sketch is not cross-engine)."""
    from pyspark.sql import Window
    from ..functions.sampling import score_bin
    sc = F.col(col).cast("double")
    base = df.where(sc.isNotNull())
    ext = base.agg(F.count("*").alias("_n"), F.min(sc).alias("_mn"),
                   F.max(sc).alias("_mx"))
    NB = float(bins)
    binc = score_bin(sc, F.col("_mn"), F.col("_mx"), bins)
    hist = (base.crossJoin(F.broadcast(ext))
                .groupBy(binc.alias("_bin"))
                .agg(F.count("*").alias("_c"),
                     F.first("_n").alias("_n"),
                     F.first("_mn").alias("_mn"),
                     F.first("_mx").alias("_mx")))
    wcum = (Window.orderBy("_bin")
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    cum = hist.withColumn("_cum", F.sum("_c").over(wcum))
    cols = []
    for q in qs:
        quota = F.ceil(F.lit(float(q)) * F.col("_n"))
        edge = (F.col("_mn") + (F.col("_bin") + 1)
                * ((F.col("_mx") - F.col("_mn")) / F.lit(NB)))
        val = F.min(F.when(F.col("_cum") >= quota, edge))
        cols.append(F.round(val, 4)
                     .alias(f"p{str(q).replace('0.', '')}"))
    return cum.agg(*cols)


def histogram_quantiles_sql(expr: str, table: str, qs,
                            bins: int = 4096) -> str:
    """DuckDB replay of histogram_quantiles (identical IEEE bin and
    edge arithmetic)."""
    NB = repr(float(bins))
    picks = ", ".join(
        f"round(min(CASE WHEN _cum >= ceil({float(q)!r} * _n) "
        f"THEN _mn + (_bin + 1) * ((_mx - _mn) / {NB}) END), 4) "
        f"AS p{str(q).replace('0.', '')}"
        for q in qs)
    return f"""(
        SELECT {picks} FROM (
            SELECT _bin, _n, _mn, _mx,
                   sum(_c) OVER (ORDER BY _bin
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS _cum,
                   _c
            FROM (
                SELECT CASE WHEN _mx > _mn THEN
                           least({bins - 1}, CAST(floor((v - _mn)
                               * ({NB} / (_mx - _mn))) AS BIGINT))
                       ELSE 0 END AS _bin,
                       count(*)::BIGINT AS _c,
                       first(_n) AS _n, first(_mn) AS _mn,
                       first(_mx) AS _mx
                FROM (SELECT ({expr})::DOUBLE AS v FROM {table}
                      WHERE ({expr}) IS NOT NULL),
                     (SELECT count(*)::BIGINT AS _n,
                             min(({expr})::DOUBLE) AS _mn,
                             max(({expr})::DOUBLE) AS _mx
                      FROM {table} WHERE ({expr}) IS NOT NULL)
                GROUP BY 1)))"""
