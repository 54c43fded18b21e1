"""Deduplication operators for training-data pipelines.

 - exact_duplicates: md5-fingerprint groupBy (one shuffle on a 32-char
   key; at 100 TB this is the cheapest possible dedup pass)
 - minhash_signatures / lsh_candidate_pairs: MinHash + banded LSH.
   Hash family is md5-based (h_i(s) = md5(i || '|' || s), hex compared
   lexicographically) — chosen deliberately over xxhash64 so DuckDB can
   replay the EXACT signature for the driver's correctness oracle.
 - simhash_fingerprint: 64-bit SimHash over word unigrams (xxhash64 bit
   votes), native SQL end-to-end.
 - ngram_jaccard_pairs: exact Jaccard over shingle sets for candidate
   pairs (verification step after LSH).
 - duplicate_pairs: the one exact + near duplicate-edge builder;
   dedup_corpus resolves its edges, and q53/q91 cluster them.

Scale notes (100 TB): signatures are tiny (num_perm × 32 B) so the LSH
band explode+groupBy shuffles signature rows, never documents; the
final verify join pulls shingle sets only for candidate pairs (a ~1e-5
fraction). Skewed buckets (boilerplate pages) are broken by AQE.
"""

from typing import List

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.textstats import fingerprint, shingles


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: fingerprint, group size,
    representative (min id) — `n_dups > 1` rows are the duplicates."""
    return (df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
              .groupBy("fp")
              .agg(F.count("*").alias("n_dups"),
                   F.min(id_col).alias("representative")))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5,
                       num_perm: int = 8,
                       family: str = "md5slice") -> DataFrame:
    """MinHash signatures via explode → hash-once-per-shingle →
    map-side-combined groupBy(min) — each shingle is hashed exactly once
    (a naive per-permutation `array_min(transform(...))` re-evaluates
    the whole shingle expression tree num_perm times).

    Hash families:
     - "md5slice": one md5 per shingle; permutation i = hex slice
       [4i, 4i+4) of the digest (independent uniform 16-bit values),
       decoded to a LONG via conv(hex,16,10) so the minima aggregate in
       a mutable buffer (HashAggregate — a string min has no mutable
       buffer and forces SortAggregate; fixed-width hex is order-
       isomorphic to its numeric value, so the minima are identical).
       Cross-engine replayable (DuckDB: ('0x'||slice)::BIGINT) — this
       is the family the driver's oracle verifies. Coarse minima are
       fine for LSH candidate generation because ngram_jaccard_pairs
       verifies.
     - "xxhash64": sig[i] = min xxhash64(i, shingle) — full 64-bit
       family for production scale (1e12 docs), Spark-only.

    Docs with no shingles (< k words) are omitted, matching the oracle.
    """
    sh = (df.select(F.col(id_col),
                    F.explode(shingles(text_col, k)).alias("s")))
    if family == "md5slice":
        assert num_perm <= 8, "md5 has 32 hex chars = 8 slices of 4"
        h = F.md5("s")
        aggs = [F.min(F.conv(F.substring(h, 4 * i + 1, 4), 16, 10)
                       .cast("long")).alias(f"h{i}")
                for i in range(num_perm)]
    elif family == "xxhash64":
        aggs = [F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}")
                for i in range(num_perm)]
    else:
        raise ValueError(f"unknown minhash family: {family}")
    grouped = sh.groupBy(id_col).agg(*aggs)
    return grouped.select(
        id_col,
        F.array(*[F.col(f"h{i}").cast("string")
                  for i in range(num_perm)]).alias("sig"))


def _cap_buckets(rows: DataFrame, key_cols: List[str],
                 max_bucket: int) -> DataFrame:
    """Drop every LSH bucket larger than ``max_bucket`` BEFORE the
    candidate self-join — the self-join emits ~B²/2 pairs per bucket of
    B rows, so one boilerplate bucket (cookie banners, parked domains)
    of a million docs would otherwise produce ~5e11 candidate pairs
    that no verify step can absorb. AQE can split a skewed partition
    but cannot reduce the pair count; capping is the standard
    production MinHash mitigation (drop / sample top-frequency bands).

    Recall impact: members of a dropped bucket can still pair in their
    OTHER bands/tables; byte-identical boilerplate (the usual cause) is
    caught by the exact-dup pass in dedup_corpus regardless.

    Plan shape: a COUNT window over the bucket key, then filter — the
    rows relation is computed ONCE and shuffled ONCE on the same key
    the self-join uses, so both join sides read the identical windowed
    subtree and Spark's ReuseExchange materializes it a single time.
    (The alternative — groupBy the over-cap keys + broadcast anti-join
    — computes the rows subtree twice because the count aggregate is a
    second, non-reusable consumer; measured ~2x wall on q17/q22.)
    """
    from pyspark.sql import Window
    w = Window.partitionBy(*key_cols)
    return (rows.withColumn("_bsz", F.count("*").over(w))
                .where(F.col("_bsz") <= max_bucket)
                .drop("_bsz"))


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        num_perm: int = 8, band_size: int = 2,
                        family: str = "xxhash64",
                        max_bucket: int = 500) -> DataFrame:
    """Banded LSH: documents sharing any full band of their MinHash
    signature become a candidate pair (a, b) with a < b.

    Only signature rows shuffle (num_perm small values per doc), never
    document text; the band groupBy is the one shuffle that matters at
    corpus scale, on a short composite key. Band buckets larger than
    ``max_bucket`` are dropped before the self-join (see _cap_buckets;
    ``max_bucket=None`` disables — eval/test corpora only).
    """
    sigs = minhash_signatures(df, text_col, id_col, k, num_perm, family)
    n_bands = num_perm // band_size
    bands = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws("#", *[F.col("sig")[b * band_size + j]
                                        for j in range(band_size)])
                     .alias("bkey"))
            for b in range(n_bands)
        ])).alias("bb")
    ).select(id_col, "bb.band", "bb.bkey")
    if max_bucket is not None:
        bands = _cap_buckets(bands, ["band", "bkey"], max_bucket)

    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, ["band", "bkey"])
             .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (LSH verify step).

    Shingling is the expensive expression, so it is computed only for
    docs that appear in a candidate pair: a semi-join prune BEFORE the
    shingles projection. Candidates are a ~1e-5 fraction of a deduped
    web corpus — without the prune this step would re-shingle the
    ENTIRE corpus twice (once per join side), which at 1e12 docs costs
    more than the signature pass it is verifying.
    """
    cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                     .union(pairs.select(F.col("id_b").alias(id_col))))
    sh = (df.join(cand_ids, id_col, "left_semi")
            .select(F.col(id_col), shingles(text_col, k).alias("sh")))
    out = (pairs
           .join(sh.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sh", "sh_a"), "id_a")
           .join(sh.withColumnRenamed(id_col, "id_b")
                   .withColumnRenamed("sh", "sh_b"), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return out.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.4,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             method: str = "lsh",
                             n_planes: int = 6, n_tables: int = 4,
                             dim: int = None, seed: int = 42,
                             max_bucket: int = 500) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine)
    with cosine >= threshold.

    method="lsh" (DEFAULT — the 1e9+ vector scale path): multi-table
    random-hyperplane sign buckets. Each of `n_tables` tables hashes a
    vector to an `n_planes`-bit bucket; candidate pairs collide in at
    least one table; exact cosine then verifies every candidate, so
    precision is 1.0 by construction and recall grows with n_tables
    (1-(1-(1-θ/π)^planes)^tables). Only (id, table, bucket) rows
    shuffle for the candidate join — vectors are re-joined only for
    the surviving candidate pairs. The hyperplanes are a deterministic
    LCG stream (similarity._hyperplanes), so an external SQL engine can
    replay the identical plan with the planes inlined as literals —
    this is how the driver's DuckDB oracle verifies the bucketed path.
    Buckets larger than ``max_bucket`` are dropped before the
    candidate join (see _cap_buckets; None disables).

    method="exact": self cross-join with native dot products — the
    O(n^2) correctness baseline, eval-scale corpora only.
    """
    from .similarity import _dot, _norm, _hyperplanes

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"),
                      _norm(v).alias("nrm"))
    if method == "lsh":
        if dim is None:
            raise ValueError(
                "dim is required for method='lsh': the hyperplanes are "
                "inlined into the plan as literals, and inferring the "
                "dimension would need a driver-side head() action (a "
                "scan barrier mid-plan at corpus scale)")
        planes = _hyperplanes(dim, n_planes * n_tables, seed)
        tables = []
        for t in range(n_tables):
            bucket = None
            for i in range(n_planes):
                p = planes[t * n_planes + i]
                bit = F.when(
                    _dot(F.col("v"), F.array(*[F.lit(x) for x in p])) >= 0,
                    F.lit(1 << i)).otherwise(F.lit(0))
                bucket = bit if bucket is None else bucket + bit
            tables.append(F.struct(F.lit(t).alias("t"),
                                   bucket.alias("bucket")))
        # narrow (id, t, bucket) relation: the only thing that shuffles
        b = (base.select("id", F.explode(F.array(*tables)).alias("tb"))
                 .select("id", "tb.t", "tb.bucket"))
        if max_bucket is not None:
            b = _cap_buckets(b, ["t", "bucket"], max_bucket)
        pairs = (b.alias("x").join(b.alias("y"), ["t", "bucket"])
                  .where(F.col("x.id") < F.col("y.id"))
                  .select(F.col("x.id").alias("id_a"),
                          F.col("y.id").alias("id_b"))
                  .distinct())
        av = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                         F.col("nrm").alias("na"))
        bv = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                         F.col("nrm").alias("nb"))
        joined = pairs.join(av, "id_a").join(bv, "id_b")
        cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    else:
        a, b = base.alias("a"), base.alias("b")
        joined = (a.crossJoin(b).where(F.col("a.id") < F.col("b.id"))
                   .select(F.col("a.id").alias("id_a"),
                           F.col("b.id").alias("id_b"),
                           F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
                           F.col("a.nrm").alias("na"),
                           F.col("b.nrm").alias("nb")))
        cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (joined.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
                  .where(F.col("cosine") >= threshold))


def duplicate_pairs(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", jaccard_threshold: float = 0.8,
                    max_bucket: int = 500, k: int = 5) -> DataFrame:
    """The duplicate-edge set (id_a, id_b) of ``df``, the union of
     - EXACT pairs: each doc with the min id of its `fingerprint`
       group, as (min id, doc). One window over the fingerprint: one
       shuffle of (id, fp), where an aggregate joined back shuffles the
       ids twice (and a string id's min would SortAggregate);
     - NEAR pairs (id_a < id_b): `lsh_candidate_pairs` (md5slice, 8
       minima in 4 bands of 2) whose `ngram_jaccard_pairs` Jaccard
       reaches ``jaccard_threshold``.
    dedup_corpus and the q53/q91 clusters resolve this one relation.
    LSH buckets over ``max_bucket`` are dropped (None disables; see
    _cap_buckets); byte-identical boilerplate still pairs through the
    exact pass, which never caps."""
    from pyspark.sql import Window
    fp = (df.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
            .withColumn("_keep",
                        F.min(id_col).over(Window.partitionBy("_fp"))))
    exact = (fp.where(F.col(id_col) != F.col("_keep"))
               .select(F.col("_keep").alias("id_a"),
                       F.col(id_col).alias("id_b")))
    cand = lsh_candidate_pairs(df, text_col, id_col, k, 8, 2,
                               "md5slice", max_bucket)
    near = (ngram_jaccard_pairs(df, cand, text_col, id_col, k)
            .where(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b"))
    return exact.union(near)


def dedup_corpus(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 5,
                 jaccard_threshold: float = 0.8, max_bucket: int = 500,
                 resolve: str = "pairwise") -> DataFrame:
    """End-to-end corpus dedup: EXACT duplicates (md5 fingerprint) plus
    NEAR duplicates (banded-MinHash candidates whose shingle Jaccard is
    >= threshold) are dropped; the surviving rows of ``df`` are
    returned. The edges come from `duplicate_pairs`; near-dup recall is
    probabilistic (banding can miss a pair).

    Pair-resolution rules (``resolve``) — they differ on open
    triangles (edges 1–3 and 2–3 but NOT 1–2):
     - "pairwise" (default): a doc is dropped iff a duplicate with a
       SMALLER id exists. Greedy by id, order-independent, replayable
       in plain SQL (the q39 oracle), and it NEVER drops two docs that
       are not duplicates of each other — above, it keeps 1 AND 2.
     - "cc": transitive closure via connected components
       (operators/graph.py): one survivor per duplicate CLUSTER (the
       min id) — above, 3 bridges 1 and 2 into one cluster and only 1
       survives. The MinHashLSH-dedup convention (C4, RefinedWeb);
       costs the O(log²n)-round star-contraction loop on the PAIR
       relation only.
     - "best": "cc" clustering, but the survivor is the doc with the
       most whitespace tokens per cluster (ties -> lowest id) via
       `quality_retention` — the Dolma/RefinedWeb retention policy.

    Plan shape at scale: the exact pass shuffles (id, fp) once; the LSH
    pass shuffles signatures and shingles only candidate docs (semi-join
    prune); the losers feed one anti-join as they are — a distinct
    before it would add an aggregate the anti-join does not need.
    """
    if resolve not in ("pairwise", "cc", "best"):
        raise ValueError(f"unknown resolve rule: {resolve!r}")
    pairs = duplicate_pairs(df, text_col, id_col, jaccard_threshold,
                            max_bucket, k)
    if resolve == "pairwise":
        losers = pairs.select(F.col("id_b").alias(id_col))
    else:
        from .graph import connected_components
        cc = connected_components(pairs, node_col=id_col,
                                  cluster_col="cluster")
        if resolve == "cc":
            losers = (cc.where(F.col(id_col) != F.col("cluster"))
                        .select(id_col))
        else:
            from ..functions.textstats import token_count
            kept = quality_retention(df, cc,
                                     token_count(text_col).cast("long"),
                                     id_col=id_col)
            losers = kept.where(~F.col("kept")).select(id_col)
    return df.join(losers, id_col, "left_anti")


def decontaminate(df: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  eval_text_col: str = "text", k: int = 13,
                  max_overlap: int = 0,
                  broadcast_eval: bool = True) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares more than ``max_overlap`` distinct k-gram shingles with the
    evaluation corpus (the GPT-3-style 13-gram collision rule; k and
    the tolerance are configurable).

    Plan: the eval side reduces to its DISTINCT shingle set — for any
    real benchmark suite that is a few million short strings, so it
    broadcasts (``broadcast_eval``) and the check costs ZERO shuffles
    of the training corpus: explode → broadcast-semi-probe → per-doc
    collision count → anti-join. With ``broadcast_eval=False`` the
    probe becomes a shuffle equi-join on the shingle — the fallback
    when the eval set is itself corpus-sized. Only contaminated doc
    ids flow into the anti-join either way.
    """
    hits = (_eval_hits(df, eval_df, text_col, id_col, eval_text_col, k,
                       broadcast_eval)
            .where(F.col("_n_hits") > max_overlap)
            .select(id_col))
    return df.join(hits, id_col, "left_anti")


def _eval_hits(df: DataFrame, eval_df: DataFrame, text_col: str,
               id_col: str, eval_text_col: str, k: int,
               broadcast_eval: bool) -> DataFrame:
    """(id_col, _n_hits): per training doc with at least one hit, how
    many of its k-gram shingles occur in the evaluation corpus. The
    eval side reduces to its DISTINCT shingle set (a probe that must
    not count one shingle twice) and broadcasts when asked."""
    ev = (eval_df.select(F.explode(shingles(eval_text_col, k))
                         .alias("sh"))
                 .distinct())
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (df.select(F.col(id_col),
                      F.explode(shingles(text_col, k)).alias("sh"))
              .join(ev, "sh")
              .groupBy(id_col)
              .agg(F.count("*").alias("_n_hits")))


def simhash_col(text_col: str = "text", bits: int = 64,
                family: str = "xxhash64") -> F.Column:
    """SimHash over word unigrams in ONE pass: a single `aggregate`
    traversal of the word-hash array carries a `bits`-element vote
    vector (`zip_with` against a mask array adds ±1 per bit), then one
    fold ORs the positive-vote masks into the fingerprint. Hashes are
    computed once per word — round 1's version ran `bits` separate
    aggregate passes, re-evaluating the whole words/hash expression
    tree each time (O(bits·words) expression evals; this is O(words)
    traversals with an O(bits) vectorized step).

    families:
     - "xxhash64": full 64-bit word hashes — production hamming-
       distance near-dup at corpus scale (bits up to 64).
     - "md5": word hash = first 4 hex chars of md5 (16 bits, via
       native conv(hex,16,10)) — cross-engine replayable, the family
       the driver's DuckDB oracle verifies (bits <= 16).
    """
    from ..functions.textstats import words_col
    w = words_col(text_col)
    if family == "md5":
        assert bits <= 16, "md5 family uses a 16-bit word hash"
        hashes = F.transform(
            w, lambda x: F.conv(F.substring(F.md5(x), 1, 4),
                                16, 10).cast("long"))
    elif family == "xxhash64":
        hashes = F.transform(w, lambda x: F.xxhash64(x))
    else:
        raise ValueError(f"unknown simhash family: {family}")
    masks = F.array(*[F.shiftleft(F.lit(1).cast("long"), b)
                      for b in range(bits)])
    zeros = F.array(*[F.lit(0)] * bits)
    votes = F.aggregate(
        hashes, zeros,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0,
                                    F.lit(1)).otherwise(F.lit(-1))))
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m)
                                 .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def inverted_index_jaccard(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 5,
                           threshold: float = 0.5,
                           max_df: int = 500) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted
    index — the non-probabilistic sibling of banded MinHash (no false
    negatives above the threshold among DISCRIMINATIVE shingles).

    Plan: explode shingles → posting list (shingle, id); shingles whose
    document frequency exceeds ``max_df`` are dropped BEFORE the
    posting self-join (a boilerplate shingle shared by B docs emits
    ~B²/2 pair rows — the same quadratic hazard _cap_buckets bounds for
    LSH, and the standard IR mitigation: stop-shingle removal). Set
    sizes are recomputed over the SURVIVING postings, so the score is
    the exact Jaccard of the discriminative-shingle sets — a
    well-defined, engine-replayable semantic rather than a truncated
    approximation of the raw one. Then: self-join postings on shingle
    (one shuffle on the capped shingle key), count common shingles per
    (a, b) pair, join the two set sizes, filter >= threshold.

    At corpus scale this shuffles only (shingle-hash, id) postings —
    never text — and the pair aggregation is a map-side-combinable
    count. Use LSH (`lsh_candidate_pairs`) when even the capped posting
    join is too wide; use this when exactness over discriminative
    shingles matters (eval sets, legal dedup).
    """
    # the explicit isnotnull matches the null-filter the join pushes
    # into its two branches, so all FOUR consumers of the capped
    # postings (join a/b sides, both size lookups) are byte-identical
    # subtrees and ReuseExchange materializes the explode+window ONCE
    post = (df.select(F.col(id_col),
                      F.explode(shingles(text_col, k)).alias("sh"))
              .where(F.col("sh").isNotNull()))
    if max_df is not None:       # None disables the cap (eval corpora)
        post = _cap_buckets(post, ["sh"], max_df)
    sizes = post.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    a, b = post.alias("a"), post.alias("b")
    common = (a.join(b, "sh")
               .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"))
               .agg(F.count("*").alias("common")))
    jac = (F.col("common").cast("double")
           / (F.col("na") + F.col("nb") - F.col("common")))
    return (common
            .join(sizes.select(F.col(id_col).alias("id_a"),
                               F.col("n_sh").alias("na")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"),
                               F.col("n_sh").alias("nb")), "id_b")
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = 16,
                         family: str = "xxhash64") -> DataFrame:
    """SimHash fingerprints (default 16 bits keeps the plan small; 64
    with family="xxhash64" for production near-dup hamming search)."""
    return df.select(F.col(id_col),
                     simhash_col(text_col, bits, family).alias("simhash"))


def span_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", span: int = 10) -> DataFrame:
    """Sub-document (span-level) dedup, the C4/RefinedWeb fine-grained
    pass that document-level dedup cannot express: the corpus is cut
    into non-overlapping ``span``-token chunks, and every chunk whose
    exact text occurred earlier in the corpus (at a smaller (doc, pos))
    is REMOVED from the document; the document itself survives with the
    remaining chunks re-joined in order.  Catches boilerplate repeated
    INSIDE otherwise-unique pages — cookie banners, nav bars, license
    headers — which never trips a whole-doc fingerprint.

    Keep-first is decided by a global row_number over each chunk text
    ordered by (doc id, chunk pos): deterministic, order-independent,
    and exactly replayable in SQL.  Returns one row per input doc:
    (id, n_chunks, n_kept, clean_text).

    Plan at scale: one explode (docs -> ~tokens/span chunk rows), ONE
    shuffle on the chunk-text hash for the keep-first window, one
    shuffle back on id for the ordered re-assembly (_reassemble) — both
    keyed shuffles, no self-join, no pair blowup (bucket size never
    matters because only rank 1 survives, a WindowGroupLimit pushdown).
    """
    from pyspark.sql import Window
    from ..functions.textstats import word_chunks, words_col

    toks = words_col(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    chunks = df.select(
        F.col(id_col),
        F.posexplode(word_chunks(toks, span)).alias("pos", "chunk"))
    w = Window.partitionBy("chunk").orderBy(id_col, "pos")
    kept = (chunks.withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") == 1))
    base = df.select(F.col(id_col), n_chunks.alias("n_chunks"))
    return (base.join(_reassemble(kept, id_col, "pos", "chunk", " "),
                      id_col, "left")
                .select(id_col, "n_chunks",
                        F.coalesce("_n_kept", F.lit(0).cast("long"))
                         .alias("n_kept"),
                        F.coalesce("_clean", F.lit(""))
                         .alias("clean_text")))


def _reassemble(parts: DataFrame, id_col: str, pos_col: str,
                part_col: str, sep: str) -> DataFrame:
    """(id_col, _n_kept, _clean) per doc that kept any part: how many
    parts survived, and their ``part_col`` joined by ``sep`` in
    ``pos_col`` order. The ordered re-assembly of span_dedup,
    sliding_span_dedup and line_dedup_corpus: one hash aggregate on the
    doc id, sorting inside the aggregate so the order never depends on
    shuffle arrival (collect_list is bounded by doc length)."""
    return (parts.groupBy(id_col)
                 .agg(F.count("*").alias("_n_kept"),
                      F.array_join(
                          F.transform(
                              F.array_sort(F.collect_list(
                                  F.struct(pos_col, part_col))),
                              lambda s: s[part_col]), sep)
                       .alias("_clean")))


def dedup_incremental(new_df: DataFrame, archive_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 5, jaccard_threshold: float = 0.8,
                      max_bucket: int = 500) -> DataFrame:
    """Incremental (batch-over-archive) dedup — the shape every
    continuously-crawled corpus needs: the ARCHIVE is already deduped
    and immutable; only the NEW batch is filtered.  A new doc is
    dropped iff it exact- or near-duplicates (Jaccard >= threshold)
    any archive doc, or a NEW doc with a smaller id (keep-first within
    the batch, same order-independent rule as dedup_corpus).  Archive
    rows are never returned and never dropped.

    Ids must be unique across archive ∪ new.

    Scale shape: this is cheaper than re-running dedup_corpus over
    archive + batch because NO archive-vs-archive pairs are ever
    generated — the band self-join is filtered to pairs touching a new
    doc before the distinct, and the Jaccard verify re-shingles only
    candidate docs (semi-join prune in ngram_jaccard_pairs).  At 1e12
    archived docs the dominant cost is re-hashing archive signatures;
    production keeps the signature and fingerprint relations as
    bucketed tables (sources/bucketed.py) so each nightly batch joins
    against them without a full archive scan — the banded join below
    is bucket-colocatable on (band, bkey).
    """
    new_ids = new_df.select(F.col(id_col), F.lit(True).alias("_new"))
    arch_ids = archive_df.select(F.col(id_col), F.lit(False).alias("_new"))
    union = (new_df.select(id_col, text_col)
                   .unionByName(archive_df.select(id_col, text_col)))
    tags = new_ids.unionByName(arch_ids)

    # --- exact pass: a new doc loses iff its fingerprint group holds
    # an archive doc or a smaller-id new doc
    fps = (union.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
                .join(tags, id_col))
    grp = (fps.groupBy("_fp")
              .agg(F.max(F.when(~F.col("_new"), True).otherwise(False))
                    .alias("_has_arch"),
                   F.min(F.when(F.col("_new"), F.col(id_col)))
                    .alias("_new_min")))
    exact_losers = (fps.where(F.col("_new")).join(grp, "_fp")
                       .where(F.col("_has_arch")
                              | (F.col(id_col) != F.col("_new_min")))
                       .select(id_col))

    # --- near pass: banded LSH over the union (md5slice MinHash, 8
    # permutations in bands of 2), pairs restricted to (new, new) /
    # (new, archive) BEFORE distinct; Jaccard verify
    cand = lsh_candidate_pairs(union, text_col, id_col, k,
                               family="md5slice", max_bucket=max_bucket)
    ta = tags.select(F.col(id_col).alias("id_a"),
                     F.col("_new").alias("_new_a"))
    tb = tags.select(F.col(id_col).alias("id_b"),
                     F.col("_new").alias("_new_b"))
    cand = (cand.join(ta, "id_a").join(tb, "id_b")
                .where(F.col("_new_a") | F.col("_new_b")))
    near = (ngram_jaccard_pairs(union, cand.select("id_a", "id_b"),
                                text_col, id_col, k)
            .where(F.col("jaccard") >= jaccard_threshold)
            .join(ta, "id_a").join(tb, "id_b"))
    # loser orientation: the new side loses; new-vs-new keeps first.
    # (id_a < id_b by construction, so new-vs-new drops id_b.)
    near_losers = (near.select(
        F.when(F.col("_new_a") & F.col("_new_b"), F.col("id_b"))
         .when(F.col("_new_a"), F.col("id_a"))
         .otherwise(F.col("id_b")).alias(id_col)))

    losers = exact_losers.unionByName(near_losers)
    return new_df.join(losers, id_col, "left_anti")


def sliding_span_dedup(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       window: int = 8) -> DataFrame:
    """Alignment-free duplicated-span removal — the word-granular
    rendering of the ExactSubstr pass of Lee et al. 2022
    (arXiv:2107.06499, "Deduplicating Training Data Makes Language
    Models Better"), which `span_dedup`'s fixed grid cannot express: a
    duplicate offset by even one token from the chunk grid slips
    through grid dedup, while every ``window``-word SLIDING window is
    alignment-free by construction.  Every window whose exact text
    occurred earlier in the corpus (at a smaller (doc, pos)) marks its
    ``window`` covered words for removal; the first (global-minimum)
    occurrence keeps its words.  Documents survive with the remaining
    words re-joined in order.

    Plan at scale (suffix arrays need not apply), every step linear
    in document length:
      1. one explode: ~n_tokens sliding-window rows per corpus pass,
         built by `functions/textstats.word_windows`;
      2. ONE shuffle on the window text for the keep-first rank
         (WindowGroupLimit — only rank decisions, never pairs: a
         boilerplate banner duplicated in 10^9 documents is one hash
         group, not 10^18 candidate pairs);
      3. duplicate occurrences explode their ``window`` covered word
         indices — output volume is bounded by the duplicated token
         mass, not the corpus;
      4. LINEAR rebuild: tokens explode to (doc, pos) rows, removed
         positions hash-anti-join away, survivors re-aggregate per
         doc — no per-token membership scan
         (a per-doc array_contains filter would be O(words×removed):
         quadratic on exactly the book-length documents this operator
         exists for).

    Returns one row per input doc: (id, n_words, n_removed,
    clean_text).  Whitespace is normalized to single spaces by the
    rebuild (the standard trade of token-level dedup).  Deterministic
    and SQL-replayable end to end — the q79 DuckDB oracle replays the
    identical keep-first rule."""
    from pyspark.sql import Window
    from ..functions.textstats import ngrams, words_col

    toks = words_col(text_col)
    n_words = F.size(toks)
    wins = df.select(
        F.col(id_col),
        F.posexplode(ngrams(text_col, window)).alias("pos", "win"))
    w = Window.partitionBy("win").orderBy(id_col, "pos")
    dups = (wins.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") > 1))
    removed = (dups.select(
                   F.col(id_col),
                   F.explode(F.sequence(
                       F.col("pos"),
                       F.col("pos") + F.lit(window - 1))).alias("i"))
                   .distinct())
    # rebuild is LINEAR in document length (a per-token array_contains
    # against the removed-index array is O(words × removed) per doc —
    # ~5e9 comparisons for one half-duplicated 100k-word book, a
    # straggler-task generator). Here every step is a hash op: explode
    # tokens to (id, pos) rows, LEFT ANTI hash-join away the removed
    # positions, re-aggregate per doc. Every removed index is a word
    # index (i <= n_words - 1), so n_removed = n_words - n_kept.
    tok = df.select(F.col(id_col), F.posexplode(toks).alias("i", "t"))
    kept = _reassemble(tok.join(removed, [id_col, "i"], "left_anti"),
                       id_col, "i", "t", " ")
    base = df.select(F.col(id_col), n_words.alias("n_words"))
    return (base.join(kept, id_col, "left")
                .select(
                    id_col, "n_words",
                    (F.col("n_words")
                     - F.coalesce(F.col("_n_kept"), F.lit(0)))
                     .cast("long").alias("n_removed"),
                    F.coalesce(F.col("_clean"), F.lit(""))
                     .alias("clean_text")))


def semantic_dedup(emb: DataFrame, k: int = 8, iters: int = 2,
                   dim: int = None, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_cluster: int = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning by k-means bucketing + within-cluster
    cosine.  Where `embedding_near_dup_pairs` bounds the candidate
    space with random-hyperplane LSH, SemDeDup bounds it with LEARNED
    buckets: cluster the embeddings (operators/cluster.kmeans — the
    same deterministic plan-literal Lloyd loop the IVF family trains
    with), then compare pairs ONLY within a cluster and drop every
    vector that has a lower-id neighbor above ``threshold`` (the
    deterministic keep-lowest-id rendering of the paper's
    keep-one-per-similar-group rule).

    Plan at scale: the corpus never self-joins — only (id, cluster)
    rows shuffle into cluster buckets, and production k grows with N
    (the paper uses k ≈ n/1000, so E[cluster] is constant and the
    within-cluster pairwise term is O(n·c), not O(n²)).  A skewed
    (collapsed) cluster is bounded by ``max_cluster`` via the same
    _cap_buckets guard the LSH paths use (None disables; capped
    clusters skip pruning entirely rather than pruning a biased
    subset).  Vectors re-join candidates only for surviving pairs,
    exactly like the LSH verify step.

    Returns one row per vector: (id_col, cluster, kept boolean).
    Deterministic and SQL-replayable: cosine rounds to 6 dp before
    the threshold compare (the q17 cross-engine contract) and the
    Lloyd loop is the q55-verified replayable trainer.
    """
    from .cluster import kmeans
    from .similarity import _dot, _norm

    if dim is None:
        raise ValueError("dim is required: centroids are plan literals")
    assigned, _ = kmeans(emb, k=k, iters=iters, id_col=id_col,
                         vec_col=vec_col, dim=dim)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"),
                      _norm(v).alias("nrm"))
    memb = (assigned.select(F.col(id_col).alias("id"), "cluster"))
    cand = memb
    if max_cluster is not None:
        cand = _cap_buckets(memb, ["cluster"], max_cluster)
    x, y = cand.alias("x"), cand.alias("y")
    pairs = (x.join(y, "cluster")
              .where(F.col("x.id") < F.col("y.id"))
              .select(F.col("x.id").alias("id_a"),
                      F.col("y.id").alias("id_b")))
    av = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    bv = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    cos = F.round(_dot(F.col("va"), F.col("vb"))
                  / (F.col("na") * F.col("nb")), 6)
    removed = (pairs.join(av, "id_a").join(bv, "id_b")
                    .where(cos >= F.lit(threshold))
                    .select(F.col("id_b").alias("id"))
                    .distinct()
                    .withColumn("_rm", F.lit(True)))
    return (memb.join(removed, "id", "left")
                .select(F.col("id").alias(id_col), "cluster",
                        F.col("_rm").isNull().alias("kept")))


def contamination_scores(df: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         eval_text_col: str = "text", k: int = 13,
                         flag_frac: float = 0.1,
                         broadcast_eval: bool = True) -> DataFrame:
    """Graded contamination measurement — the reporting half of
    `decontaminate` (which is binary drop/keep at a collision count):
    for every training document, the FRACTION of its distinct k-gram
    shingles that appear anywhere in the evaluation corpus, plus a
    ``flagged`` verdict at ``flag_frac`` (the PaLM/Llama-style
    "contaminated if >X% of n-grams overlap" rule).  Runs before a
    release to size the contamination problem; `decontaminate` then
    enforces whatever cut the report justifies.

    Plan: identical zero-corpus-shuffle shape to decontaminate — the
    eval side reduces to its distinct shingle set and broadcasts;
    the corpus explodes once, probes the broadcast, and re-aggregates
    per doc.  Docs with no shingles (shorter than k words) report
    0 overlap and are never flagged.

    Returns (id_col, n_shingles, n_hits, overlap_frac, flagged) —
    overlap_frac rounded to 6 dp (cross-engine float contract).
    """
    from ..functions.textstats import shingle_count

    hits = _eval_hits(df, eval_df, text_col, id_col, eval_text_col, k,
                      broadcast_eval)
    n_sh = shingle_count(text_col, k)
    frac = F.round(F.col("n_hits") / F.greatest(F.col("n_shingles"),
                                                F.lit(1)), 6)
    return (df.select(F.col(id_col), n_sh.alias("n_shingles"))
              .join(hits, id_col, "left")
              .withColumn("n_hits",
                          F.coalesce(F.col("_n_hits"), F.lit(0))
                           .cast("long"))
              .withColumn("overlap_frac", frac)
              .withColumn("flagged", F.col("overlap_frac")
                          > F.lit(flag_frac))
              .select(id_col, "n_shingles", "n_hits", "overlap_frac",
                      "flagged"))


def line_dedup_corpus(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_docs: int = 2) -> DataFrame:
    """Corpus-wide boilerplate LINE removal — the line-granular dedup
    pass of CCNet (Wenzek et al. 2020, arXiv:1911.00359 §3.1) and
    RefinedWeb (Penedo et al. 2023, arXiv:2306.01116): any line whose
    trimmed text occurs in at least ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, copyright footers) and is
    removed from EVERY document; the remaining lines re-join in order.
    Complements the word-window passes: `sliding_span_dedup` catches
    shifted duplicated prose, this catches short verbatim lines that
    repeat across unrelated pages (too short for an 8-word window,
    too frequent to keep).

    Semantics pinned for the SQL oracle:
      - lines are literal '\\n' splits (trailing empties kept);
      - frequency counts DISTINCT documents, matched on md5(trim(line));
      - whitespace-only lines are never counted and never removed
        (they'd be trivially corpus-frequent);
      - the ORIGINAL (untrimmed) line text is what's removed/kept;
      - a fully-boilerplate document survives with clean_text = ''.

    Plan at scale (no pairs, no windows):
      1. one explode to (id, pos, line) rows;
      2. ONE hash aggregate on the 16-byte line hash with a map-side
         partial (countDistinct id) — a banner on 10^9 pages is one
         group, not 10^18 pairs;
      3. the frequent-line set (tiny: it's the boilerplate vocabulary
         of the crawl) hash-anti-joins the line rows — AQE broadcasts
         it when it fits;
      4. per-doc re-aggregate (_reassemble); the line count is the
         split's size, read off the doc row without an aggregate.

    Returns one row per input doc:
    (id_col, n_lines, n_removed, clean_text).
    """
    # NULL text behaves as '' (one empty line: whitespace-only, so
    # never counted and never removed) — WITHOUT the coalesce,
    # split(NULL) -> NULL -> posexplode emits nothing and the doc
    # would vanish from the output, breaking the one-row-per-input-doc
    # contract (and silently deleting NULL-text pages through
    # run_pipeline --dedup-lines' rewrite join)
    split = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
    lines = df.select(F.col(id_col),
                      F.posexplode(split).alias("pos", "line"))
    h = F.md5(F.trim(F.col("line")))
    freq = (lines.where(F.trim(F.col("line")) != "")
                 .groupBy(h.alias("h"))
                 .agg(F.countDistinct(id_col).alias("_ndocs"))
                 .where(F.col("_ndocs") >= min_docs)
                 .select("h"))
    kept = _reassemble(lines.join(freq, h == freq["h"], "left_anti"),
                       id_col, "pos", "line", "\n")
    tot = df.select(F.col(id_col), F.size(split).alias("n_lines"))
    return (tot.join(kept, id_col, "left")
               .select(
                   id_col,
                   F.col("n_lines").cast("long").alias("n_lines"),
                   (F.col("n_lines")
                    - F.coalesce(F.col("_n_kept"), F.lit(0)))
                       .cast("long").alias("n_removed"),
                   F.coalesce(F.col("_clean"), F.lit(""))
                    .alias("clean_text")))


def quality_retention(docs: DataFrame, clusters: DataFrame,
                      quality: Column, id_col: str = "doc_id",
                      quality_name: str = "quality") -> DataFrame:
    """Quality-aware duplicate-cluster retention (the Dolma/RefinedWeb
    policy: keep the BEST document per duplicate cluster, not simply
    the lowest id).  ``clusters`` is a (id, cluster) assignment — e.g.
    `operators/graph.connected_components` over the exact+near edge
    set; docs absent from it are singletons and keep themselves.
    ``quality`` is any per-doc Column over ``docs`` (doc length,
    q67's classifier margin, -q63 perplexity...); ties break to the
    LOWEST id so the decision is total and deterministic.

    Output: (id, cluster, <quality_name>, kept).

    Plan shape at 100 TB: one left join to attach cluster ids
    (localCheckpointed so the corpus join feeds winner election AND
    the final join from ONE materialization, not two subtrees), then
    winner election as two map-side-combinable aggregates — max
    quality per cluster, min id among the quality-maxers — instead of
    a `max_by` over a (quality, -id) struct, which Spark executes as
    SortAggregate (struct buffers aren't hash-aggregable), or a
    per-cluster sort window over the corpus. Both are HASH aggregates
    when quality and ids are numeric. With string ids (``run_pipeline
    --dedup --dedup-keep best`` keys on ``url``) the min(id) buffer is a
    string too, so Spark runs that step, partial and final, as
    SortAggregate keyed by cluster.
    """
    scored = docs.select(F.col(id_col), quality.alias("_q"))
    # singleton fallback: cluster = the doc's own id, cast to the
    # cluster column's type (cluster keys need not be numeric — e.g.
    # canonical URLs in q93)
    ctype = clusters.schema["cluster"].dataType
    full = (scored.join(clusters, id_col, "left")
                  .withColumn("cluster",
                              F.coalesce(F.col("cluster"),
                                         F.col(id_col).cast(ctype)))
                  .localCheckpoint(eager=False))
    best_q = full.groupBy("cluster").agg(F.max("_q").alias("_bq"))
    # null-safe winner test: a cluster whose docs ALL have NULL
    # quality has _bq = NULL (F.max skips NULLs), and a plain == would
    # elect no winner — silently deleting the whole cluster from the
    # output. eqNullSafe makes every all-NULL doc tie and the min-id
    # tie-break resolves it; in PARTIAL-NULL clusters NULL-quality
    # docs still can't win (NULL <=> non-NULL is false).
    winners = (full.join(best_q, "cluster")
                   .where(F.col("_q").eqNullSafe(F.col("_bq")))
                   .groupBy("cluster")
                   .agg(F.min(id_col).alias("_keep")))
    return (full.join(winners, "cluster")
                .select(id_col, "cluster",
                        F.col("_q").alias(quality_name),
                        (F.col(id_col) == F.col("_keep")).alias("kept")))
