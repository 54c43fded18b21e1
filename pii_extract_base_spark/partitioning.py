"""Partitioning & skew policy (north-star N9).

At 100 TB the hazard is long-document skew: a few 1 MB pages in a
partition of 1 KB pages stall its executor. Policy:

 - repartition by Spark's hash of the url: N near-equal partitions,
   so input read as one partition still runs as N tasks (a hot key
   stays in one partition; salted_join splits it for joins)
 - AQE handles residual skew at shuffle boundaries
   (spark.sql.adaptive.skewJoin / coalescePartitions, on in config.py)
 - Arrow batches are capped in rows and bytes in config.py; the fused
   UDF does constant per-row work beyond text length, so byte skew
   within a batch degrades gracefully.
"""

from pyspark.sql import DataFrame, functions as F


def salted_key(col: str, buckets: int):
    """Deterministic uniform bucket id from a string key."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(buckets))


def salted_repartition(df: DataFrame, col: str,
                       num_partitions: int) -> DataFrame:
    """Spark's hash repartition of ``df`` by ``col``."""
    return df.repartition(num_partitions, col)


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt_col: str, salts: int = 8,
                how: str = "inner") -> DataFrame:
    """Equi-join where one key value owns a huge share of ``big`` (a
    domain hosting half the crawl, the empty-language bucket). A plain
    shuffle join puts the whole hot key in ONE reducer; AQE's skew-join
    splits the hot partition only for sort-merge joins and only after
    materializing the skewed map output. Explicit salting fixes the
    layout a priori:

     - big side: deterministic salt in [0, salts) from ``salt_col``
       (any high-cardinality column — url, doc_id; NOT rand(), which
       breaks retry/resume determinism)
     - small side: replicated ×salts via explode(sequence(...))
     - equi-join on (key, salt) — the hot key now occupies ``salts``
       reducers instead of one.

    Row-identical to ``big.join(small, key, how)`` for inner/left
    (each big row joins exactly its salt's replica). Cost: small side
    shuffles ×salts — keep ``salts`` modest or broadcast instead when
    the small side fits (then skew is moot; this operator is for the
    mid-size dimension that does NOT fit in executor memory).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    b = big.withColumn("_salt", salted_key(salt_col, salts))
    s = (small.withColumn(
            "_salt", F.explode(F.sequence(
                F.lit(0).cast("long"), F.lit(salts - 1).cast("long")))))
    return b.join(s, [key, "_salt"], how).drop("_salt")
