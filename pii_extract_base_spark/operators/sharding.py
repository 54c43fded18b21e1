"""Training-shard packing: assign ordered documents to fixed
token-budget shards (the "make N-token training files" step that
follows curation in an LLM data pipeline).

Semantics: docs are laid out in ``order_cols`` order and the shard id
is `floor(tokens_before_doc / budget)` — the parallel prefix-sum
binning used at scale (a doc spanning a budget boundary lands in the
shard its FIRST token falls in).  This is deliberately NOT the
sequential greedy rule ("close the shard when the next doc would
overflow"): greedy is inherently serial, prefix-binning is one scan,
and the only difference is that boundary docs may straddle (shards are
±1 doc around budget, which training-data sharding tolerates).

The prefix sum itself is the textbook two-phase distributed scan — NO
single-partition global window (the usual `Window.orderBy(id)` without
a partitionBy collapses 100 TB onto one task):

 1. assign each row a range BUCKET from driver-sampled boundary
    literals (equal keys co-located, bucket i holds strictly smaller
    keys than bucket i+1 — a pure function of the row, see
    `distributed_prefix_sum`),
 2. per-bucket local cumulative sums,
 3. per-bucket totals (tiny: one row per bucket) scanned on a
    single partition — thousands of rows, not documents,
 4. offsets broadcast-joined back and added to the local sums.

The result is invariant to where the range boundaries fall, so the
sampling that picks them never changes the answer.
"""

from decimal import Decimal
from typing import List, Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType

from ..functions.textstats import token_count, words_col


def distributed_prefix_sum(df: DataFrame, val_col: str,
                           order_cols: Union[str, Sequence[str]],
                           out_col: str = "cum",
                           num_partitions: Optional[int] = None
                           ) -> DataFrame:
    """Adds ``out_col`` = inclusive cumulative sum of ``val_col`` over
    the total order defined by ``order_cols`` (must be unique keys).
    Two-phase scan: only per-bucket windows plus one tiny
    (#buckets-row) global window.

    The bucket id ``_pid`` is a PURE FUNCTION of the row: range
    boundaries over the leading order key are sampled ONCE on the
    driver and baked into the plan as literals, so every consumer of
    the bucketed relation (the local-cumsum window AND the totals
    aggregate) computes identical bucket ids by construction — no
    matter how many times the shuffle re-executes.  The earlier
    formulation derived ``_pid`` from ``spark_partition_id()`` after a
    ``repartitionByRange`` and pinned one materialization with a lazy
    localCheckpoint; that is correct only while exchange reuse /
    checkpoint pinning actually holds (RangePartitioner re-SAMPLES
    boundaries with a fresh seed on every re-execution, so two
    consumers seeing different shuffles disagree near partition edges
    and silently corrupt the sums), and local checkpoints die with
    their executor on a real cluster — turning a recoverable task
    failure into a job failure.  Literal boundaries have neither
    failure mode:
    retries, AQE re-planning, executor loss, and defeated exchange
    reuse all recompute the same ``_pid``.

    Boundary-sampling cost: one count + one bounded sample-collect job
    (≤ ~20 values per bucket) + one map-side-combined totals aggregate
    (≤ n_buckets result rows) before the main scan; nothing is cached.  Bucket lookup is
    a ``filter`` over the literal boundary array — O(#buckets)
    comparisons per row, which for the ≤ O(10³) buckets a 100-TB scan
    wants is noise next to the per-bucket window sort.  Ties on the
    leading key all land in one bucket (boundary test is ``<=``), so
    composite ``order_cols`` stay totally ordered: later columns only
    ever order WITHIN a bucket."""
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    order_cols = list(order_cols)
    spark = df.sparkSession
    n_buckets = int(num_partitions or
                    spark.conf.get("spark.sql.shuffle.partitions", "200"))
    key = order_cols[0]
    n = df.count()
    bounds: List = []
    if n > 0 and n_buckets > 1:
        frac = min(1.0, (20.0 * n_buckets) / n)
        sampled = sorted(
            r[0] for r in df.select(key).sample(False, frac, seed=42)
                            .collect() if r[0] is not None)
        if sampled:
            step = len(sampled) / n_buckets
            seen = set()
            for i in range(1, n_buckets):
                v = sampled[min(int(i * step), len(sampled) - 1)]
                if v not in seen:
                    seen.add(v)
                    bounds.append(v)
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        pid = F.size(F.filter(barr, lambda b: b <= F.col(key)))
    else:
        pid = F.lit(0)
    part = df.withColumn("_pid", pid)

    local_w = (Window.partitionBy("_pid").orderBy(*order_cols)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = part.withColumn("_local_cum", F.sum(val_col).over(local_w))

    # per-partition offsets as DRIVER LITERALS (≤ n_buckets rows from
    # one map-side-combined aggregate), exactly like the boundary
    # literals above: retry/AQE-stable by construction, and nothing is
    # persisted — the old `.persist()` here lived in the CacheManager
    # until session end, accumulating cached corpus relations across
    # chained-pipeline / rehearsal calls. The input is now scanned
    # twice (bounded totals aggregate + the window pass) instead of
    # once-plus-cache-write; _pid is a pure function of the row, so
    # both scans agree.
    tot_df = (part.groupBy("_pid")
                  .agg(F.sum(val_col).alias("_ptotal")))
    # offset type follows F.sum's result type (long for integral
    # inputs, double/decimal otherwise) — truncating to long would
    # silently corrupt prefix sums over fractional val_cols — so the
    # running offset starts at that type's zero (the typed column
    # rejects an int 0 for a double) and skips all-NULL buckets
    sum_dt = tot_df.schema["_ptotal"].dataType
    acc = (Decimal(0) if isinstance(sum_dt, DecimalType)
           else 0.0 if isinstance(sum_dt, DoubleType) else 0)
    orows = []
    for r in sorted(tot_df.collect(), key=lambda r: r["_pid"]):
        orows.append((r["_pid"], acc))
        if r["_ptotal"] is not None:
            acc = acc + r["_ptotal"]
    offsets = spark.createDataFrame(
        orows, f"_pid int, _offset {sum_dt.simpleString()}")

    return (local.join(F.broadcast(offsets), "_pid")
                 .withColumn(out_col,
                             F.col("_local_cum") + F.col("_offset"))
                 .drop("_pid", "_local_cum", "_offset"))


def token_budget_shards(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", budget: int = 100_000,
                        num_partitions: Optional[int] = None
                        ) -> DataFrame:
    """Per-doc shard assignment: (id, n_tokens, tokens_before, shard)
    with shard = floor(tokens_before / budget), docs ordered by id."""
    toks = df.select(F.col(id_col),
                     token_count(text_col).cast("long").alias("n_tokens"))
    cum = distributed_prefix_sum(toks, "n_tokens", id_col,
                                 out_col="_cum",
                                 num_partitions=num_partitions)
    return cum.select(
        id_col, "n_tokens",
        (F.col("_cum") - F.col("n_tokens")).alias("tokens_before"),
        F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(budget))
         .cast("long").alias("shard"))


def shard_manifest(assign: DataFrame, id_col: str = "doc_id"
                   ) -> DataFrame:
    """Shard-level rollup of a `token_budget_shards` assignment:
    (shard, n_docs, n_tokens, first_doc, last_doc)."""
    return (assign.groupBy("shard")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tokens").alias("n_tokens"),
                       F.min(id_col).alias("first_doc"),
                       F.max(id_col).alias("last_doc")))


def pack_examples(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", seq_len: int = 512,
                  num_partitions: Optional[int] = None,
                  tokens_col: Optional[str] = None) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing, as a per-doc
    example-span map: the token streams of all docs (in ``id_col``
    order) are conceptually concatenated and cut every ``seq_len``
    tokens into fixed-length training examples; a doc whose tokens
    occupy stream positions [tokens_before, tokens_before + n) spans
    examples floor(tokens_before/L) .. floor((tokens_before + n - 1)/L).

    Unlike `token_budget_shards` (whole docs binned by their FIRST
    token), packing SPLITS docs across example boundaries — the
    standard pre-training layout (every example exactly ``seq_len``
    tokens, no padding) — so the output is a span map, not a single
    assignment.  Output: (id, n_tokens, tokens_before, first_example,
    last_example, n_examples); empty docs get NULL spans and
    n_examples = 0.

    Scale shape: one two-phase prefix sum (see module docstring) and
    pure projections — no extra shuffle, nothing per-token ever
    materialized.  The downstream writer turns one span-map partition
    into examples locally; `example_manifest` derives the example-level
    rollup with a BOUNDED explode (total (doc, example) pairs
    = total_tokens/L + n_docs, each doc contributing n_examples rows).

    ``tokens_col`` switches the token stream from whitespace words of
    ``text_col`` to a precomputed array<string> column (e.g. BPE
    tokens from `operators/bpe.bpe_encode_arrow`) — NULL arrays count
    as empty.
    """
    if tokens_col is not None:
        n_toks = F.size(F.coalesce(F.col(tokens_col),
                                   F.array().cast("array<string>")))
        toks = df.select(F.col(id_col),
                         n_toks.cast("long").alias("n_tokens"))
    else:
        toks = df.select(F.col(id_col),
                         token_count(text_col).cast("long")
                          .alias("n_tokens"))
    cum = distributed_prefix_sum(toks, "n_tokens", id_col,
                                 out_col="_cum",
                                 num_partitions=num_partitions)
    tb = F.col("_cum") - F.col("n_tokens")
    first = F.floor(tb / F.lit(seq_len)).cast("long")
    last = F.floor((F.col("_cum") - 1) / F.lit(seq_len)).cast("long")
    nonempty = F.col("n_tokens") > 0
    return cum.select(
        id_col, "n_tokens", tb.alias("tokens_before"),
        F.when(nonempty, first).alias("first_example"),
        F.when(nonempty, last).alias("last_example"),
        F.when(nonempty, last - first + 1)
         .otherwise(F.lit(0)).cast("long").alias("n_examples"))


def example_manifest(spans: DataFrame, seq_len: int = 512,
                     id_col: str = "doc_id") -> DataFrame:
    """Example-level rollup of a `pack_examples` span map:
    (example, n_docs, n_tokens, first_doc, last_doc).  n_tokens equals
    ``seq_len`` for every example except the stream tail — the no-pad
    invariant the tests pin.  Each doc explodes to its n_examples span
    rows (bounded: see `pack_examples`), contribution to example e is
    the overlap of [tokens_before, tokens_before+n) with [e·L, (e+1)·L).
    """
    L = F.lit(seq_len).cast("long")
    ex = F.col("example")
    start = F.col("tokens_before")
    end = start + F.col("n_tokens")
    contrib = (F.least(end, (ex + 1) * L)
               - F.greatest(start, ex * L))
    return (spans.where(F.col("n_examples") > 0)
                 .select(id_col, "tokens_before", "n_tokens",
                         F.explode(F.sequence(F.col("first_example"),
                                              F.col("last_example")))
                          .alias("example"))
                 .groupBy("example")
                 .agg(F.count("*").alias("n_docs"),
                      F.sum(contrib).alias("n_tokens"),
                      F.min(id_col).alias("first_doc"),
                      F.max(id_col).alias("last_doc")))


def materialize_examples(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", seq_len: int = 512,
                         num_partitions: Optional[int] = None,
                         tokens_col: Optional[str] = None
                         ) -> DataFrame:
    """The WRITER half of `pack_examples`: assemble the actual
    fixed-length training examples — (example, n_tokens,
    tokens: array<string>) — from the span map, i.e. the step that
    emits the packed pre-training file rather than its manifest.

    Plan: span map (one two-phase prefix sum) joined 1:1 back to the
    per-doc token arrays, each doc exploded to its n_examples
    (doc, example) rows — the same BOUNDED explode as
    `example_manifest` (total rows = total_tokens/seq_len + n_docs) —
    each row carrying only the doc's token SLICE that overlaps
    [e·L, (e+1)·L) (`F.slice`, never the whole array per example),
    then ONE hash aggregate per example assembling pieces in stream
    order (array_sort on (tokens_before, piece) structs —
    tokens_before is unique per doc, so collect_list's arrival order
    never matters). All native ops; per-example state is seq_len
    tokens by construction, so a group can never exceed one example's
    size — no skew hazard at any corpus scale. Every example has
    exactly seq_len tokens except the stream tail (the no-pad
    invariant `tests/test_operators_extra.py` pins end-to-end).

    ``tokens_col``: pack a precomputed array<string> token column
    (tokenizer tokens, e.g. `bpe_encode_arrow` output) instead of
    whitespace words — see `pack_examples`."""
    spans = pack_examples(df, text_col, id_col, seq_len,
                          num_partitions=num_partitions,
                          tokens_col=tokens_col)
    stream = (F.coalesce(F.col(tokens_col),
                         F.array().cast("array<string>"))
              if tokens_col is not None else words_col(text_col))
    toks = df.select(F.col(id_col), stream.alias("_w"))
    L = F.lit(seq_len).cast("long")
    rows = (spans.where(F.col("n_examples") > 0)
                 .join(toks, id_col)
                 .select(id_col, "tokens_before", "n_tokens", "_w",
                         F.explode(F.sequence(F.col("first_example"),
                                              F.col("last_example")))
                          .alias("example")))
    start = F.col("tokens_before")
    end = start + F.col("n_tokens")
    lo = F.greatest(start, F.col("example") * L)
    hi = F.least(end, (F.col("example") + 1) * L)
    piece = F.slice(F.col("_w"), (lo - start + 1).cast("int"),
                    (hi - lo).cast("int"))
    return (rows.select("example", start.alias("_ord"),
                        piece.alias("_piece"))
                .groupBy("example")
                .agg(F.flatten(F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("_ord"), F.col("_piece")))),
                        lambda s: s["_piece"])).alias("tokens"))
                .select("example",
                        F.size("tokens").cast("long").alias("n_tokens"),
                        "tokens"))
