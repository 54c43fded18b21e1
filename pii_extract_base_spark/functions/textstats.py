"""Text-analysis column builders (training-data pipeline ops): token
stats, word shingles, document fingerprints. All native Spark SQL —
no UDFs, fully inside WholeStageCodegen."""

from pyspark.sql import Column, functions as F


def words_col(text_col: str = "text") -> Column:
    """Whitespace tokens, empty strings dropped (== Python str.split())."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return F.filter(F.split(t, r"\s+"), lambda w: w != "")


def token_count(text_col: str = "text") -> Column:
    return F.size(words_col(text_col))


def distinct_token_count(text_col: str = "text") -> Column:
    return F.size(F.array_distinct(words_col(text_col)))


def mean_word_len(text_col: str = "text") -> Column:
    w = words_col(text_col)
    n = F.size(w)
    return F.when(n > 0,
                  F.round(F.aggregate(w, F.lit(0).cast("double"),
                                      lambda a, x: a + F.length(x)) / n, 4)
                  ).otherwise(F.lit(0.0))


def fingerprint(text_col: str = "text") -> Column:
    """Exact-dup document fingerprint: md5 of the raw text (md5 chosen
    because Spark and DuckDB produce identical hex — cross-engine
    verifiable, unlike xxhash64)."""
    return F.md5(F.coalesce(F.col(text_col), F.lit("")))


def _join(x: Column, y: Column) -> Column:
    return F.concat(x, F.lit(" "), y)


def word_windows(words: Column, k: int, combine=_join) -> Column:
    """Every full k-window of the array column ``words``, in order:
    ``combine`` folded left to right over each window's elements
    (default: the space-joined string). A row shorter than ``k``, an
    empty array and the words of a NULL text yield an empty array of
    the result's element type, so callers need no size guard.

    This module is the only place a word window is built, because the
    shape decides the cost. A higher-order-function lambda re-evaluates
    any row-level expression it references at every call (no common-
    subexpression elimination across lambda iterations), so
    ``transform(sequence(...), i -> slice(words, i+1, k))`` re-tokenizes
    the document once per window: O(words²) per document, measured at
    8,500 executor-CPU-s on one 3.2M-doc stage. Here the k shifted
    slices are HOF *inputs* and the k-1 zip_withs touch only their
    bound elements: O(k·words). The slices would each re-evaluate
    ``words`` too (k tokenizations of the text per row), so the array
    is bound once, as in `word_chunks`:
    ``transform(array(words), t -> ...)[0]``."""
    def windows(t):
        m = F.greatest(F.size(t) - (k - 1), F.lit(0))
        acc = F.slice(t, 1, m)
        for j in range(2, k + 1):
            acc = F.zip_with(acc, F.slice(t, j, m), combine)
        return acc
    return F.transform(F.array(words), windows)[0]


def word_chunks(words: Column, k: int) -> Column:
    """The non-overlapping k-word grid of ``words`` as space-joined
    strings, the last chunk shorter when the length is not a multiple
    of ``k``; empty for an empty array. The grid needs a per-index
    lambda, so the array is first bound to a lambda variable
    (``transform(array(words), t -> ...)[0]``): the inner lambda slices
    ``t``, O(k) per chunk, never re-evaluating ``words`` (see
    `word_windows`)."""
    def grid(t):
        n = F.size(t)
        # sequence(0, n, k) is never empty; the slice keeps ceil(n/k)
        # chunk starts, none for n = 0
        starts = F.slice(F.sequence(F.lit(0), n, F.lit(k)), 1,
                         F.ceil(n / F.lit(k)).cast("int"))
        return F.transform(
            starts, lambda s: F.array_join(F.slice(t, s + 1, k), " "))
    return F.transform(F.array(words), grid)[0]


def shingles(text_col: str = "text", k: int = 5) -> Column:
    """Distinct k-word shingles of the text (the MinHash input set)."""
    return F.array_distinct(word_windows(words_col(text_col), k))


def shingle_count(text_col: str = "text", k: int = 5) -> Column:
    return F.size(shingles(text_col, k))


def ngrams(text_col: str = "text", n: int = 2) -> Column:
    """ALL word n-grams in document order, duplicates KEPT (unlike
    `shingles`, which is the distinct set) — the input to repetition
    signals, where multiplicity is the whole point (Gopher's
    duplicate-n-gram fractions)."""
    return word_windows(words_col(text_col), n)


def rolling_fingerprint(text_col: str = "text",
                        base: int = 131, mod: int = 1_000_000_007,
                        chunk: int = 4096) -> Column:
    """Rabin–Karp polynomial rolling hash over the document's
    codepoints: H = fold(c -> (H*base + c) mod mod). Native SQL and
    engine-portable — DuckDB replays it exactly via list_reduce (the
    synthetic corpus is ASCII; both engines agree on codepoints).
    Unlike md5, prefix hashes of the same polynomial support O(1)
    rolling window comparisons for chunk-level dedup.

    Memory envelope: the fold is CHUNKED — an outer aggregate walks
    `chunk`-char substrings and only the current chunk's codepoint
    array is live (a flat per-codepoint array over a 1 MB document
    would materialize ~1M boxed one-char strings, ~50x the text bytes;
    this keeps peak extra memory at ~2x text bytes + one 4K int
    array regardless of document size)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chunks = F.ceil(F.length(t) / F.lit(chunk)).cast("int")
    pieces = F.when(
        F.length(t) > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda j: F.substring(t, j * chunk + 1, F.lit(chunk)))
    ).otherwise(F.array().cast("array<string>"))
    # split-on-empty gives the chunk's per-char array in ONE pass;
    # the previous transform(sequence)+substring(piece, i, 1) form
    # seeks from the string head per index — O(chunk²) per chunk,
    # i.e. ~chunk/2 extra character scans PER CHARACTER of the
    # document (a 1 MB page paid ~2×10⁹ char ops)
    h = F.aggregate(
        pieces, F.lit(0).cast("long"),
        lambda acc, piece: F.aggregate(
            F.split(piece, ""),
            acc, lambda a, c: (a * base + F.ascii(c)) % mod))
    return h
