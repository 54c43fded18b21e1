"""BPE tokenizer training — the byte-pair-merge inner loop, run as a
corpus-scale Spark job (the missing piece between corpus curation and
model training: the tokenizer itself is FIT on the curated corpus).

Classic formulation (Sennrich et al. 2016, arXiv:1508.07909): start
from characters, repeatedly merge the most frequent adjacent symbol
pair.  The standard scaling trick is applied first: aggregate the
corpus to a DISTINCT-WORD frequency table, so every merge round costs
one scan of the (small) word table — training cost scales with
vocabulary, not corpus tokens.  That aggregation is the only
corpus-sized shuffle; everything after is:

  per round: explode adjacent symbol pairs (weighted by word count)
             → map-side-combinable hash aggregate
             → top candidates (count desc, pair asc — deterministic
               tie-break) → a few collected rows (the iterative-ML
               driver-loop contract: O(batch) state per round, like
               kmeans/LR/PageRank)
             → apply the merges as plain string replaces on the
               symbol column, localCheckpoint, repeat.

Symbol encoding: words are rendered as space-joined characters with
sentinel spaces (`" h e l l o "`), so applying merge (a,b) is
`replace(sym, " a b ", " ab ")` — a native string op on both engines.
Merge application is LEFT-TO-RIGHT NON-OVERLAPPING SINGLE-PASS (the
shared semantics of Spark's and DuckDB's replace): a run like
`a b a b` merges only its first occurrence in that round because the
occurrences share a boundary space.  This is a documented deviation
from textbook BPE's within-round re-scan — it only delays such merges
to a later round, and both engines (and the DuckDB replay) apply the
identical rule, which is what the parity gate verifies.  ASCII-ish
input assumed (Java regex `.` splits astral surrogate pairs where
RE2 would not).
"""

from typing import List, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.textstats import word_windows, words_col


def _sym_col(word: Column) -> Column:
    """' h e l l o ' — space-joined chars with sentinel spaces."""
    chars = F.regexp_extract_all(word, F.lit("."), 0)
    return F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" "))


def _pair_col(sym: Column) -> Column:
    """All adjacent symbol pairs ('a b'), multiplicity kept."""
    return word_windows(F.split(F.trim(sym), " "), 2)


def bpe_encode_count(df: DataFrame, merges, text_col: str = "text",
                     out_col: str = "n_bpe_tokens") -> DataFrame:
    """Encode-side token count: apply the fitted merge list in order
    to every word, count resulting symbols — the tokenizer-accurate
    doc length that budget sharding (`operators/sharding`) and context
    packing actually need (whitespace counts mis-budget by the
    compression ratio). Pure projection: the merge chain is inlined as
    plan literals (one nested replace chain per word inside a
    transform lambda), no UDF, no shuffle. Same single-pass merge
    application as training (see module docstring)."""
    pairs = [m[1] if isinstance(m, tuple) else m for m in merges]

    def enc(w):
        s = _sym_col(w)
        for pair in pairs:
            s = F.replace(s, F.lit(f" {pair} "),
                          F.lit(" " + pair.replace(" ", "") + " "))
        return F.size(F.split(F.trim(s), " "))

    words = words_col(text_col)
    total = F.aggregate(F.transform(words, enc), F.lit(0),
                        lambda a, x: a + x)
    return df.withColumn(out_col, total.cast("long"))


def _merge_pairs(merges) -> List[Tuple[str, str]]:
    """Normalize a merge list ([(round, 'a b', cnt)] or ['a b']) to
    [(left, right)] in rank order."""
    out = []
    for m in merges:
        pair = m[1] if isinstance(m, tuple) else m
        a, b = pair.split(" ")
        out.append((a, b))
    return out


def encode_word(word: str, pairs: List[Tuple[str, str]]) -> List[str]:
    """Apply the merge list to one word — SAME semantics as training
    and as the plan-literal encoder (`bpe_encode_count`): merges in
    rank order, each applied in ONE left-to-right pass WITH the
    replace-chain's consumed-boundary-space rule. In the space-joined
    symbol string, ``replace(sym, " a b ", " ab ")`` consumes the
    space AFTER the merged pair, so within the same pass the next
    match cannot start at the immediately following symbol: after a
    merge at (i, i+1), symbol i+2 is passed through verbatim and
    matching resumes at (i+3, i+4). E.g. 'aaaa' + (a,a) → ['aa', 'a',
    'a'] (" a a a a " → " aa a a "), and 'ababab' + (a,b) →
    ['ab', 'a', 'b', 'ab']. (This is deliberately not GPT-2's
    iterate-lowest-rank loop: that re-visits earlier ranks when later
    merges create new occurrences, so it would diverge from the
    replace-chain the training rounds and the DuckDB oracle
    evaluate.)"""
    syms = list(word)
    present = set(syms)
    for a, b in pairs:
        if len(syms) < 2 or a not in present or b not in present:
            continue
        out, i, n = [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
                # the replace consumed the boundary space after 'b':
                # the next symbol cannot start a match in this pass
                if i < n:
                    out.append(syms[i])
                    i += 1
            else:
                out.append(syms[i])
                i += 1
        if len(out) != len(syms):
            syms = out
            present = set(syms)
    return syms


def _bpe_arrow_kernel(df: DataFrame, merges, text_col: str,
                      out_col: str, out_type: str, word_value,
                      text_fold) -> DataFrame:
    """Shared Arrow-batched scaffolding for the two production encode
    paths (count + token-array): merge ranks ride by closure, a
    BOUNDED per-task word cache stores the IMMUTABLE ``word_value(w,
    pairs)`` per distinct word (cleared, not evicted, at cache_cap so
    high-cardinality word populations can't OOM an executor), and
    ``text_fold(values_iter)`` combines one text's per-word values
    (NULL text folds the empty iterator). One kernel means a cache-
    policy or schema-quoting fix can never drift between the paths."""
    import pandas as pd

    pairs = _merge_pairs(merges)
    cache_cap = 1_000_000
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.schema.fields] + [f"`{out_col}` {out_type}"])
    dtype = "int64" if out_type == "bigint" else "object"

    def run(batches):
        cache: dict = {}

        def per_text(text):
            if text is None:
                return text_fold(())

            def vals():
                for w in text.split():
                    v = cache.get(w)
                    if v is None:
                        v = word_value(w, pairs)
                        if len(cache) >= cache_cap:
                            cache.clear()
                        cache[w] = v
                    yield v

            return text_fold(vals())

        for pdf in batches:
            pdf[out_col] = pd.Series(
                (per_text(t) for t in pdf[text_col]),
                index=pdf.index, dtype=dtype)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def bpe_encode_count_arrow(df: DataFrame, merges,
                           text_col: str = "text",
                           out_col: str = "n_bpe_tokens") -> DataFrame:
    """PRODUCTION encode path: tokenizer-accurate token counts with a
    broadcast merge-ranks table and an Arrow-batched kernel — the
    plan-literal chain (`bpe_encode_count`) inlines one nested replace
    per merge and so grows (and eventually fails to compile) linearly
    with vocabulary; this plan is a single mapInPandas projection whose
    SIZE IS INDEPENDENT OF MERGE COUNT (10 or 50 000 merges — same
    plan). The merge list rides to executors once per task via the
    closure (a 50k-pair list is ~1 MB — broadcast-variable territory
    is not needed below ~100 MB).

    Executor-side the kernel is vocabulary-scaled, not token-scaled: a
    per-task dict caches word → token count, so each DISTINCT word in
    a batch is encoded once (Zipf: the top few thousand words cover
    most tokens). The cache is BOUNDED (``cache_cap`` entries, cleared
    when full) so a high-cardinality 'word' population — URLs, ids,
    hex hashes in a raw crawl — cannot grow it without limit and OOM
    an executor; clearing (rather than evicting) keeps the common case
    O(1) and still amortizes Zipf-head words between resets. Semantics
    are identical to `bpe_encode_count` — asserted by the parity test
    on adjacent-merged-pair inputs ('aaaa', 'banana', 'ababab') — so
    either path satisfies the same oracle."""
    return _bpe_arrow_kernel(
        df, merges, text_col, out_col, "bigint",
        lambda w, p: len(encode_word(w, p)), sum)


def bpe_encode_arrow(df: DataFrame, merges, text_col: str = "text",
                     out_col: str = "bpe_tokens") -> DataFrame:
    """Encode each row's text to its actual BPE token ARRAY (the
    writer-side companion of `bpe_encode_count_arrow`, which only
    counts): tokens of all whitespace words concatenated in word
    order, each word encoded with the replace-chain semantics of
    `encode_word`. Same Arrow-batched mapInPandas shape, same bounded
    per-task word → tokens cache (tuples, so cached values are
    immutable), plan size independent of merge count. NULL text
    encodes to an empty array. Feeds sequence packing
    (operators/sharding materialize_examples tokens_col=...) so the
    packed pre-training examples carry tokenizer tokens, not
    whitespace words."""
    return _bpe_arrow_kernel(
        df, merges, text_col, out_col, "array<string>",
        lambda w, p: tuple(encode_word(w, p)),
        lambda vs: [t for v in vs for t in v])


def bpe_train(df: DataFrame, text_col: str = "text",
              num_merges: int = 1000, batch: int = 64,
              min_count: int = 2) -> List[Tuple[int, str, int]]:
    """Fit up to ``num_merges`` BPE merges; returns [(round, "a b",
    count), ...] — the merge list IS the tokenizer model (applied in
    order at encode time). Deterministic: integer counts, total-order
    tie-break. Fits up to ``batch`` merges per round:

      per round: ONE pair-count job (explode adjacent pairs over the
      distinct-word table, weighted hash aggregate, pairs seen fewer
      than ``min_count`` times dropped) → collect the top 4·batch
      candidates (count desc, pair asc) → greedily keep pairs whose
      SYMBOLS ARE DISJOINT from every pair already kept this round →
      apply all kept merges as one chained-replace projection +
      localCheckpoint.

    Disjoint symbols make the batch exact w.r.t. its own counts:
    merging (a,b) only destroys adjacencies touching a or b, so the
    pre-round count of a symbol-disjoint (c,d) is still its true
    count when applied. The documented deviation from textbook BPE is
    ORDER at batch boundaries: a pair CREATED by this round's merges
    (e.g. ('ab','c')) cannot be picked until the next round even if
    its count would beat this round's lower picks — the standard
    trade in scalable/batched BPE training. ``batch=1, min_count=1``
    is the textbook loop, one merge per round, that ``bpe_oracle_sql``
    replays (q71); it runs 2 Spark jobs per merge, fine for a
    ≤10-merge fit but 10k–50k driver round-trips at a real vocabulary
    size.

    Driver state per round is O(batch) pairs; Spark jobs total
    ~num_merges/batch, independent of corpus size."""
    wf = (df.select(F.explode(words_col(text_col)).alias("w"))
            .groupBy("w").agg(F.count("*").alias("n")))
    cur = (wf.select("w", "n", _sym_col(F.col("w")).alias("sym"))
             .localCheckpoint())
    merges: List[Tuple[int, str, int]] = []
    rnd = 0
    while len(merges) < num_merges:
        want = min(batch, num_merges - len(merges))
        top = (cur.select("n", F.explode(_pair_col(F.col("sym")))
                          .alias("pair"))
                  .groupBy("pair").agg(F.sum("n").alias("cnt"))
                  .where(F.col("cnt") >= min_count)
                  .orderBy(F.desc("cnt"), F.asc("pair"))
                  .limit(4 * want).collect())
        if not top:
            break
        used: set = set()
        chosen = []
        for row in top:
            a, b = row["pair"].split(" ")
            if a in used or b in used:
                continue
            used.update((a, b, a + b))
            chosen.append((row["pair"], int(row["cnt"])))
            if len(chosen) >= want:
                break
        sym = F.col("sym")
        for pair, cnt in chosen:
            rnd += 1
            merges.append((rnd, pair, cnt))
            sym = F.replace(sym, F.lit(f" {pair} "),
                            F.lit(" " + pair.replace(" ", "") + " "))
        cur = (cur.withColumn("sym", sym).localCheckpoint())
    return merges


def bpe_oracle_sql(words_list_expr: str, table: str = "documents",
                   rounds: int = 6, final_select: str = None) -> str:
    """DuckDB replay of `bpe_train(batch=1, min_count=1)` as unrolled
    MATERIALIZED CTE rounds over the same word-frequency table.
    ``words_list_expr`` must be the engine's word-list expression over
    ``table``'s text column (the caller supplies the same tokenization
    the Spark side uses).  ``final_select`` overrides the trailing
    merge-table UNION (it may reference any ``m{r}`` CTE — e.g. to
    encode with the fitted merges)."""
    pairs_of = (
        "CASE WHEN len(a) >= 2 THEN list_transform(range(len(a) - 1), "
        "i -> a[i+1] || ' ' || a[i+2]) ELSE [] END")
    ctes = [f"""w0 AS MATERIALIZED (
        SELECT w, count(*)::BIGINT AS n,
               ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
                   || ' ' AS sym
        FROM (SELECT unnest({words_list_expr}) AS w FROM {table})
        GROUP BY w
    )"""]
    for r in range(1, rounds + 1):
        p = f"w{r - 1}"
        ctes.append(f"""p{r} AS MATERIALIZED (
            SELECT pair, sum(n)::BIGINT AS cnt FROM (
                SELECT n, unnest({pairs_of}) AS pair
                FROM (SELECT n, string_split(trim(sym), ' ') AS a
                      FROM {p})
            ) GROUP BY pair
        )""")
        ctes.append(f"""m{r} AS MATERIALIZED (
            SELECT {r}::BIGINT AS round, pair, cnt
            FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1
        )""")
        ctes.append(f"""w{r} AS MATERIALIZED (
            SELECT w, n,
                   replace(sym,
                           ' ' || (SELECT pair FROM m{r}) || ' ',
                           ' ' || replace((SELECT pair FROM m{r}),
                                          ' ', '') || ' ') AS sym
            FROM {p}
        )""")
    union = "\nUNION ALL ".join(f"SELECT * FROM m{r}"
                                for r in range(1, rounds + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + (final_select or union)
