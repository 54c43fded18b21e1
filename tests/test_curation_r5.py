"""Round-5 curation operators: SemDeDup, DSIR weights, script
profiling, contamination scoring."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- SemDeDup

def _planted_embeddings(spark):
    """Two tight semantic groups plus singletons. Ids are chosen so
    the deterministic smallest-id k-means init picks DIVERSE seed
    vectors (0, 1, 10), not three copies of the same point: vectors
    100/101/102 are near-copies of one direction, 10/11 of another,
    0 and 1 are far from everything."""
    import random
    rng = random.Random(5)
    def jitter(base, eps):
        return [x + eps * rng.uniform(-1, 1) for x in base]
    a = [1.0] * 8 + [0.0] * 8
    b = [0.0] * 8 + [1.0] * 8
    c = [1.0, -1.0] * 8
    rows = [(0, c), (1, [float(i) for i in range(16)]),
            (10, b), (11, jitter(b, 0.01)),
            (100, a), (101, jitter(a, 0.01)), (102, jitter(a, 0.02))]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


def test_semantic_dedup_drops_higher_ids_in_groups(spark):
    from pii_extract_base_spark.operators.dedup import semantic_dedup
    emb = _planted_embeddings(spark)
    out = semantic_dedup(emb, k=3, iters=2, dim=16, threshold=0.95)
    got = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert len(got) == 7
    # lowest id of each similar group survives; its near-copies drop
    assert got[100] and not got[101] and not got[102]
    assert got[10] and not got[11]
    # singletons always survive
    assert got[0] and got[1]


def test_semantic_dedup_never_compares_across_clusters(spark):
    """With k = n every vector is its own cluster: nothing can be
    removed even at threshold 0 — the pruning is strictly
    within-bucket (the SemDeDup contract)."""
    from pii_extract_base_spark.operators.dedup import semantic_dedup
    emb = _planted_embeddings(spark)
    out = semantic_dedup(emb, k=7, iters=1, dim=16, threshold=0.0)
    # k-means may still co-locate the planted near-copies (they ARE
    # the same point); but the two far singletons must survive
    got = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert got[0] and got[1]


def test_semantic_dedup_max_cluster_cap_skips_pruning(spark):
    from pii_extract_base_spark.operators.dedup import semantic_dedup
    emb = _planted_embeddings(spark)
    # cap of 1 drops every cluster from the candidate join: all kept
    out = semantic_dedup(emb, k=2, iters=1, dim=16, threshold=0.0,
                         max_cluster=1)
    assert all(r["kept"] for r in out.collect())


# ---------------------------------------------------------------- DSIR

def test_dsir_upweights_target_like_docs(spark):
    from pii_extract_base_spark.functions.dsir import dsir_weights
    rows = [
        (0, "alpha beta gamma alpha beta", True),
        (1, "alpha beta gamma gamma beta", True),
        (2, "delta epsilon zeta delta zeta", False),
        (3, "alpha beta gamma beta alpha", False),   # target-like raw doc
        (4, "delta epsilon zeta epsilon", False),
        (5, "", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = dsir_weights(df, F.col("tgt"))
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 6
    # the raw doc built from target vocabulary scores ABOVE the raw
    # docs built from non-target vocabulary
    assert got[3]["dsir_logratio"] > got[2]["dsir_logratio"]
    assert got[3]["dsir_logratio"] > got[4]["dsir_logratio"]
    # target docs themselves score positive, off-target negative
    assert got[0]["dsir_logratio"] > 0 > got[2]["dsir_logratio"]
    # empty doc: no evidence, weight 0
    assert got[5]["n_words"] == 0 and got[5]["dsir_logratio"] == 0.0


def test_dsir_weight_matches_hand_computation(spark):
    """2-doc corpus small enough to check the add-one estimator by
    hand: target = doc 0 = 'a a b', raw adds doc 1 = 'b c'."""
    from pii_extract_base_spark.functions.dsir import dsir_weights
    df = spark.createDataFrame(
        [(0, "a a b", True), (1, "b c", False)],
        "doc_id long, text string, tgt boolean")
    out = {r["doc_id"]: r["dsir_logratio"]
           for r in dsir_weights(df, F.col("tgt")).collect()}
    # vocab v=3; n_tgt=3, n_raw=5
    def lr(c_t, c_r):
        return round(math.log2((c_t + 1) / (3 + 3))
                     - math.log2((c_r + 1) / (5 + 3)), 9)
    w0 = round((2 * lr(2, 2) + lr(1, 2)) / 3, 5)
    w1 = round((lr(1, 2) + lr(0, 1)) / 2, 5)
    assert out[0] == pytest.approx(w0, abs=1e-9)
    assert out[1] == pytest.approx(w1, abs=1e-9)


def test_dsir_select_topk_is_gumbel_topk(spark):
    """The resampling half: the selected set must equal the Python
    replay of the Gumbel-top-k rule — key = round(w − ln(−ln u), 6)
    with u = (md5_mod(id, 10^8)+0.5)/10^8, top k by (key desc, id
    asc)."""
    import hashlib
    from pii_extract_base_spark.functions.dsir import (
        dsir_select_topk, dsir_weights)
    rows = [(i,
             ("alpha beta gamma " * (1 + i % 3)
              if i % 4 else "delta epsilon zeta "),
             i % 5 == 0)
            for i in range(60)]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, tgt boolean")
    k = 10
    got = dsir_select_topk(df, F.col("tgt"), k=k).collect()
    assert len(got) == k
    # replay: weights from the verified dsir_weights, Gumbel in Python
    w = {r["doc_id"]: r["dsir_logratio"]
         for r in dsir_weights(df, F.col("tgt")).collect()}

    def key(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) \
            % 100_000_000
        u = (b + 0.5) / 1e8
        return round(w[i] - math.log(-math.log(u)), 6)

    want = sorted(w, key=lambda i: (-key(i), i))[:k]
    assert [r["doc_id"] for r in got] == want
    for r in got:
        assert r["gumbel_key"] == pytest.approx(key(r["doc_id"]),
                                                abs=1e-9)
    with pytest.raises(ValueError):
        dsir_select_topk(df, F.col("tgt"), k=0)


# ---------------------------------------------------------------- scripts

def test_script_profile_counts_and_dominance(spark):
    from pii_extract_base_spark.functions.charscript import script_profile
    rows = [(0, "hello мир"),            # 5 latin, 3 cyrillic
            (1, "αβγ δε 中文 ok"),        # greek 5, cjk 2, latin 2
            (2, "مرحبا"),                # arabic 5
            (3, "12345 !?"),             # nothing in-range
            (4, None)]
    df = spark.createDataFrame(rows, "page_id long, text string")
    got = {r["page_id"]: r for r in script_profile(df).collect()}
    assert (got[0]["n_latin"], got[0]["n_cyrillic"]) == (5, 3)
    assert got[0]["script"] == "latin"
    assert (got[1]["n_greek"], got[1]["n_cjk"], got[1]["n_latin"]) == (5, 2, 2)
    assert got[1]["script"] == "greek"
    assert got[2]["script"] == "arabic" and got[2]["n_arabic"] == 5
    assert got[3]["script"] == "unknown"
    assert got[4]["script"] == "unknown" and got[4]["n_chars"] == 0


def test_script_profile_tie_breaks_in_fixed_order(spark):
    from pii_extract_base_spark.functions.charscript import script_profile
    df = spark.createDataFrame([(0, "ab мы")],   # 2 latin, 2 cyrillic
                               "page_id long, text string")
    assert script_profile(df).collect()[0]["script"] == "latin"


def test_synth_multiscript_rows_deterministic():
    from pii_extract_base_spark.functions.charscript import (
        synth_multiscript_rows)
    a, b = synth_multiscript_rows(60), synth_multiscript_rows(60)
    assert a == b and len(a) == 60
    assert all(isinstance(t, str) and t for _, t in a)


def test_script_profile_dominant_matches_synthesis(spark):
    """Each synthesized page is 70/30 dominated by script i mod 5 —
    the profiler should recover the planted dominant script on the
    large majority of pages."""
    from pii_extract_base_spark.functions.charscript import (
        SCRIPTS, script_profile, synth_multiscript_rows)
    rows = synth_multiscript_rows(60)
    df = spark.createDataFrame(rows, "page_id long, text string")
    got = script_profile(df).collect()
    hits = sum(1 for r in got
               if r["script"] == SCRIPTS[r["page_id"] % len(SCRIPTS)])
    assert hits >= 54   # >= 90% recovered


# ---------------------------------------------------------------- contamination

def test_contamination_scores_gradient(spark):
    from pii_extract_base_spark.operators.dedup import contamination_scores
    banner = "w1 w2 w3 w4 w5 w6 w7"
    rows = [
        (0, banner),                                  # == an eval doc
        (1, banner + " x1 x2 x3 x4 x5 x6 x7"),        # partial overlap
        (2, "y1 y2 y3 y4 y5 y6 y7 y8"),               # clean
        (3, "z1 z2"),                                 # too short for 5-grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(banner,)], "text string")
    out = {r["doc_id"]: r
           for r in contamination_scores(df, ev, k=5,
                                         flag_frac=0.2).collect()}
    assert out[0]["overlap_frac"] == 1.0 and out[0]["flagged"]
    # doc 1: 10 distinct 5-grams, 3 from the banner
    assert out[1]["n_shingles"] == 10 and out[1]["n_hits"] == 3
    assert out[1]["overlap_frac"] == 0.3 and out[1]["flagged"]
    assert out[2]["n_hits"] == 0 and not out[2]["flagged"]
    assert out[3]["n_shingles"] == 0 and out[3]["overlap_frac"] == 0.0
    assert not out[3]["flagged"]


# --------------------------------------------------------- line dedup (q88)

def test_line_dedup_removes_corpus_frequent_lines(spark):
    from pii_extract_base_spark.operators.dedup import line_dedup_corpus
    rows = [
        (1, "BANNER\nunique one\n\nfooter"),
        (2, "BANNER\nunique two\n  \nfooter"),
        (3, "BANNER"),                    # fully boilerplate
        (4, " BANNER \nsolo line"),       # trimmed match, orig removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup_corpus(df).collect()}
    # BANNER (4 docs) and footer (2 docs) are removed everywhere
    assert out[1]["clean_text"] == "unique one\n"
    assert out[1]["n_lines"] == 4 and out[1]["n_removed"] == 2
    # whitespace-only lines are never counted and never removed
    assert out[2]["clean_text"] == "unique two\n  "
    # fully-boilerplate doc survives with empty text
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    # trimmed-form match removes the untrimmed original
    assert out[4]["clean_text"] == "solo line"


def test_line_dedup_null_text_doc_survives(spark):
    """NULL text keeps its row (contract: one row per input doc) —
    split(NULL) must not posexplode the document away, or the
    --dedup-lines rewrite join silently deletes NULL-text pages."""
    from pii_extract_base_spark.operators.dedup import line_dedup_corpus
    rows = [(1, "BANNER\nkeep me"), (2, "BANNER\nother"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup_corpus(df).collect()}
    assert set(out) == {1, 2, 3}
    # NULL behaves as '': one whitespace-only line, never removed
    assert out[3]["clean_text"] == ""
    assert out[3]["n_lines"] == 1 and out[3]["n_removed"] == 0


def test_line_dedup_min_docs_threshold(spark):
    from pii_extract_base_spark.operators.dedup import line_dedup_corpus
    rows = [(1, "twice\nonce a"), (2, "twice\nonce b"),
            (3, "thrice\nonce c"), (4, "thrice"), (5, "thrice")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_dedup_corpus(df, min_docs=3).collect()}
    # 'twice' (2 docs) survives a min_docs=3 cut; 'thrice' (3) does not
    assert out[1]["clean_text"] == "twice\nonce a"
    assert out[3]["clean_text"] == "once c"
    assert out[4]["clean_text"] == ""


def test_line_dedup_counts_distinct_docs_not_occurrences(spark):
    from pii_extract_base_spark.operators.dedup import line_dedup_corpus
    # the same line 5x inside ONE doc is not corpus-boilerplate
    rows = [(1, "rep\nrep\nrep\nrep\nrep"), (2, "other line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup_corpus(df).collect()}
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == "rep\nrep\nrep\nrep\nrep"


# ------------------------------------------------------ sequence packing

def _packing_docs(spark):
    """Docs with known token counts (doc i has i+1 tokens), plus an
    empty doc and a doc longer than one example."""
    rows = [(i, " ".join(f"w{j}" for j in range(i + 1)))
            for i in range(6)]                    # 1..6 tokens
    rows.append((6, ""))                          # empty
    rows.append((7, " ".join(["x"] * 23)))        # spans many examples
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_examples_span_arithmetic(spark):
    from pii_extract_base_spark.operators.sharding import pack_examples
    docs = _packing_docs(spark)
    out = {r["doc_id"]: r for r in
           pack_examples(docs, seq_len=8, num_partitions=3).collect()}
    # stream: doc0 tokens [0,1) doc1 [1,3) doc2 [3,6) doc3 [6,10)
    #         doc4 [10,15) doc5 [15,21) doc6 empty doc7 [21,44)
    assert out[0]["tokens_before"] == 0
    assert (out[3]["first_example"], out[3]["last_example"]) == (0, 1)
    assert out[3]["n_examples"] == 2          # straddles the 8-boundary
    assert (out[4]["first_example"], out[4]["last_example"]) == (1, 1)
    assert out[6]["n_examples"] == 0
    assert out[6]["first_example"] is None
    assert (out[7]["first_example"], out[7]["last_example"]) == (2, 5)
    assert out[7]["n_examples"] == 4


def test_example_manifest_no_pad_invariant(spark):
    """Every example holds exactly seq_len tokens except the tail,
    and total manifest tokens == total corpus tokens."""
    from pii_extract_base_spark.operators.sharding import (
        example_manifest, pack_examples)
    docs = _packing_docs(spark)
    spans = pack_examples(docs, seq_len=8, num_partitions=3)
    man = example_manifest(spans, seq_len=8).orderBy("example").collect()
    total = 1 + 2 + 3 + 4 + 5 + 6 + 0 + 23    # 44 tokens
    assert [r["example"] for r in man] == list(range(6))  # ceil(44/8)
    assert [r["n_tokens"] for r in man] == [8, 8, 8, 8, 8, 4]
    assert sum(r["n_tokens"] for r in man) == total
    # doc7 (stream [21,44)) is the only doc in examples 3 and 4
    assert man[3]["n_docs"] == 1 and man[3]["first_doc"] == 7
    # example 2 holds the tail of doc5 ([15,21)) and head of doc7
    assert man[2]["n_docs"] == 2
    assert (man[2]["first_doc"], man[2]["last_doc"]) == (5, 7)


def test_pack_examples_matches_serial_replay(spark):
    """Distributed prefix-sum packing == a serial Python replay on
    the same corpus (the q89 oracle's logic)."""
    from pii_extract_base_spark.operators.sharding import pack_examples
    import random
    rng = random.Random(89)
    rows = [(i, " ".join(["t"] * rng.randint(0, 40)))
            for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pack_examples(docs, seq_len=16, num_partitions=7).collect()}
    tb = 0
    for i, text in rows:
        n = len(text.split())
        assert got[i]["n_tokens"] == n
        assert got[i]["tokens_before"] == tb
        if n == 0:
            assert got[i]["n_examples"] == 0
        else:
            assert got[i]["first_example"] == tb // 16
            assert got[i]["last_example"] == (tb + n - 1) // 16
        tb += n


# ------------------------------------------------ corpus-fit bigram LM

def test_bigram_lm_hand_computed(spark):
    """2-doc training corpus, probabilities checked by hand."""
    import math
    from pii_extract_base_spark.functions.lmtrain import lm_fit_score
    docs = spark.createDataFrame(
        [(0, "a b a b", "en"), (1, "a b c", "en"),
         (2, "a b", "fr"),       # scored, not trained on
         (3, "z q", "fr"),       # fully unseen bigram + context
         (4, "solo", "fr")],     # < 2 words -> sentinel
        "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           lm_fit_score(docs, F.col("lang") == "en").collect()}
    # training bigrams: doc0 (a,b)(b,a)(a,b), doc1 (a,b)(b,c)
    # c2: (a,b)=3 (b,a)=1 (b,c)=1 ; c1: a=3 b=2 ; V=3 (a,b,c)
    v, k = 3.0, 0.5
    p_ab = (3 + k) / (3 + k * v)
    p_ba = (1 + k) / (2 + k * v)
    p_bc = (1 + k) / (2 + k * v)
    exp0 = -(2 * math.log2(p_ab) + math.log2(p_ba)) / 3
    assert abs(out[0]["logppl"] - exp0) < 1e-12
    assert out[0]["n_bigrams"] == 3
    exp2 = -math.log2(p_ab)
    assert abs(out[2]["logppl"] - exp2) < 1e-12
    # unseen context z: p = (0+k)/(0+k*V) = 1/V
    exp3 = -math.log2(1.0 / v)
    assert abs(out[3]["logppl"] - exp3) < 1e-12
    assert out[4]["logppl"] == 99.0 and out[4]["n_bigrams"] == 0


def test_bigram_lm_conditional_normalizes(spark):
    """Smoothed p(.|w1) sums to 1 over the event space (V seen words
    + the unseen mass folded into V add-k slots) for a seen context:
    sum over observed w2 of (c2+k)/(c1+kV) + (V - #observed) * k/(c1+kV)
    == 1 because c1 = sum c2 (context counts ARE bigram-start counts)."""
    from pii_extract_base_spark.functions.lmtrain import bigram_lm_fit
    docs = spark.createDataFrame(
        [(0, "a b a c a b b d", "en")],
        "doc_id long, text string, lang string")
    bg, ctx, scalars = bigram_lm_fit(docs)
    rows = bg.collect()
    v = scalars.collect()[0]["v"]
    k = 0.5
    for c in {r["w1"] for r in rows}:
        c1 = sum(r["c2"] for r in rows if r["w1"] == c)
        obs = [(r["c2"] + k) / (c1 + k * v)
               for r in rows if r["w1"] == c]
        n_obs = len(obs)
        total = sum(obs) + (v - n_obs) * k / (c1 + k * v)
        assert abs(total - 1.0) < 1e-12


def test_bigram_lm_target_docs_score_lower(spark):
    """Docs resembling the training slice get lower (better) ppl than
    out-of-domain docs — the property the CCNet cut relies on."""
    from pii_extract_base_spark.functions.lmtrain import lm_fit_score
    rows = [(i, "the cat sat on the mat and the dog ran", "en")
            for i in range(10)]
    rows.append((100, "the cat sat on the mat", "fr"))   # in-domain
    rows.append((101, "zq xv wk yj qq zz pp", "fr"))     # gibberish
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r["logppl"] for r in
           lm_fit_score(docs, F.col("lang") == "en").collect()}
    assert out[100] < out[101]


# ------------------------------------------- quality-aware retention

def test_doremi_weights_math_and_properties(spark):
    """The static-loss exponentiated-gradient update: weights sum to
    1, the hardest domain gains weight vs its corpus share, the
    easiest loses, rounds=0 returns the reference shares, and the
    driver math matches an independent pure-python replication."""
    import math
    from pii_extract_base_spark.functions.doremi import doremi_weights
    from pii_extract_base_spark.operators.lr import _qround
    rows = ([("hard", float(i % 7 + 20)) for i in range(100)]
            + [("mid", float(i % 5 + 5)) for i in range(200)]
            + [("easy", 1.0 + (i % 3)) for i in range(100)])
    df = spark.createDataFrame(rows, "source string, loss double")
    out = {r["source"]: r for r in doremi_weights(
        df, "source", F.col("loss"), rounds=10, eta=0.5,
        smooth=0.01).collect()}
    ws = {k: v["weight"] for k, v in out.items()}
    assert abs(sum(ws.values()) - 1.0) < 1e-4
    assert ws["hard"] > 0.25 and ws["easy"] < 0.25    # shares: .25/.5/.25
    assert out["hard"]["n_docs"] == 100
    # independent replication of the documented update
    doms = sorted(out)
    u = {d: out[d]["n_docs"] / 400.0 for d in doms}
    mn = min(out[d]["mean_loss"] for d in doms)
    lam = {d: _qround(out[d]["mean_loss"] - mn, 9) for d in doms}
    a = dict(u)
    for _ in range(10):
        b = {d: a[d] * math.exp(0.5 * lam[d]) for d in doms}
        z = sum(b[d] for d in doms)
        a = {d: _qround((1.0 - 0.01) * b[d] / z + 0.01 * u[d], 8)
             for d in doms}
    for d in doms:
        assert ws[d] == _qround(a[d], 6), d
    # rounds=0: the reference distribution, untouched
    base = {r["source"]: r["weight"] for r in doremi_weights(
        df, "source", F.col("loss"), rounds=0).collect()}
    assert base == {"hard": 0.25, "mid": 0.5, "easy": 0.25}


def test_doremi_weights_null_loss_domain_not_boosted(spark):
    """A domain whose losses are ALL NULL takes lambda = 0 (reference
    treatment): it stays in the output and can only LOSE share to
    boosted domains, never crash or vanish."""
    from pii_extract_base_spark.functions.doremi import doremi_weights
    rows = ([("a", 10.0)] * 50 + [("b", None)] * 50
            + [("c", 1.0)] * 100)
    df = spark.createDataFrame(rows, "source string, loss double")
    out = {r["source"]: r for r in doremi_weights(
        df, "source", F.col("loss"), rounds=5).collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["b"]["mean_loss"] is None
    # shares a/b/c = .25/.25/.5; lambda: a=9, b=0 (NULL), c=0 (min)
    assert out["a"]["weight"] > 0.25          # boosted
    assert 0.0 < out["b"]["weight"] < 0.25    # reference-treated, cut
    assert 0.0 < out["c"]["weight"] < 0.5


def test_doremi_oracle_null_loss_domain_matches_engine(spark,
                                                      monkeypatch):
    """q101's DuckDB replay applies doremi_weights' NULL-loss rule: a
    domain whose losses are all NULL takes lambda = 0, so its weight
    is a number equal to the engine's, not NULL."""
    import duckdb
    import __spark_entry__ as entry
    from pii_extract_base_spark.functions import textstats as ts
    from pii_extract_base_spark.functions.doremi import doremi_weights
    rows = ([("a", "one two three four five six")] * 3
            + [("b", "x y")] * 2 + [("c", "p")] * 5)
    df = spark.createDataFrame(rows, "source string, text string")
    loss = F.when(F.col("source") != "b",
                  F.log(F.lit(1.0) + ts.token_count("text")
                        .cast("double")))
    got = {r["source"]: r["weight"] for r in doremi_weights(
        df, "source", loss, rounds=10, eta=0.5, smooth=0.01).collect()}
    # the same NULL-loss domain on the DuckDB side: b's words are NULL
    monkeypatch.setattr(
        entry, "_DUCK_WORDS",
        f"CASE WHEN source <> 'b' THEN {entry._DUCK_WORDS} END")
    con = duckdb.connect()
    con.register("documents_df", df.toPandas())
    con.execute("CREATE TABLE documents AS SELECT * FROM documents_df")
    want = {s: w for s, _, _, w in
            con.execute(entry._doremi_oracle()).fetchall()}
    assert want["b"] is not None
    assert got == want


def test_doremi_sample_deterministic_and_budgeted(spark):
    """doremi_sample keeps ~rate_i of each domain via the md5 kernel:
    deterministic on re-run, and the boosted domain's kept FRACTION
    exceeds the cut domain's."""
    from pii_extract_base_spark.functions.doremi import (
        doremi_weights, doremi_sample)
    rows = [(f"u{i}", "hard" if i % 2 else "easy",
             20.0 if i % 2 else 2.0) for i in range(400)]
    df = spark.createDataFrame(rows, "url string, source string, "
                                     "loss double")
    w = [tuple(r) for r in doremi_weights(
        df, "source", F.col("loss"), rounds=10).collect()]
    a = doremi_sample(df, "source", "url", w, budget_frac=0.5)
    b = doremi_sample(df, "source", "url", w, budget_frac=0.5)
    ka = {r["url"] for r in a.collect()}
    assert ka == {r["url"] for r in b.collect()}
    frac = {s: len([u for u in ka if
                    (int(u[1:]) % 2 == 1) == (s == "hard")]) / 200.0
            for s in ("hard", "easy")}
    assert frac["hard"] > frac["easy"]
    assert 0.2 < len(ka) / 400.0 <= 0.75    # near the 50% budget


def test_quality_retention_keeps_best_not_lowest_id(spark):
    from pii_extract_base_spark.operators.dedup import quality_retention
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e"), (3, "a b c"),   # cluster 1
         (10, "x"), (11, "x")],                        # cluster 10
        "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster long")
    out = {r["doc_id"]: r for r in quality_retention(
        docs, clusters, F.size(F.split("text", " ")).cast("long"),
        quality_name="n_words").collect()}
    # cluster 1: doc 2 is longest (5 words) -> kept, NOT doc 1
    assert out[2]["kept"] and not out[1]["kept"] and not out[3]["kept"]
    # cluster 10: tie on quality -> lowest id wins
    assert out[10]["kept"] and not out[11]["kept"]


def test_quality_retention_null_quality_clusters_not_dropped(spark):
    """A cluster whose docs ALL have NULL quality still elects a
    winner (min id) instead of vanishing from the output; in a
    partial-NULL cluster, NULL-quality docs can't win."""
    from pii_extract_base_spark.operators.dedup import quality_retention
    docs = spark.createDataFrame(
        [(1, None), (2, None),          # all-NULL cluster
         (10, None), (11, 5)],          # partial-NULL cluster
        "doc_id long, q long")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)],
        "doc_id long, cluster long")
    out = {r["doc_id"]: r for r in quality_retention(
        docs, clusters, F.col("q")).collect()}
    assert set(out) == {1, 2, 10, 11}   # one row per doc, none dropped
    assert out[1]["kept"] and not out[2]["kept"]      # min-id tie-break
    assert out[11]["kept"] and not out[10]["kept"]    # NULL can't win


def test_quality_retention_singletons_keep_themselves(spark):
    from pii_extract_base_spark.operators.dedup import quality_retention
    docs = spark.createDataFrame(
        [(5, "lone doc"), (7, "another")],
        "doc_id long, text string")
    clusters = spark.createDataFrame(
        [], "doc_id long, cluster long")
    out = quality_retention(
        docs, clusters, F.lit(1).cast("long")).collect()
    assert all(r["kept"] for r in out)
    assert {r["cluster"] for r in out} == {5, 7}


def test_dedup_corpus_resolve_best_keeps_longest(spark):
    """resolve='best' keeps the LONGEST doc of each duplicate cluster
    (resolve='cc' would keep the min id)."""
    from pii_extract_base_spark.operators.dedup import dedup_corpus
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, base),                       # exact dup of 2, shorter
         (2, base),                       # same text -> same length; min id 1 wins ties
         (3, base + " iota kappa"),       # near-dup of 1/2 (shared shingles)
         (50, "completely different text with nothing shared here")],
        "doc_id long, text string")
    out = dedup_corpus(docs, id_col="doc_id", k=3,
                       jaccard_threshold=0.3, resolve="best")
    kept = {r["doc_id"] for r in out.collect()}
    # cluster {1,2,3}: doc 3 is longest -> survives; singleton 50 stays
    assert kept == {3, 50}
    out_cc = dedup_corpus(docs, id_col="doc_id", k=3,
                          jaccard_threshold=0.3, resolve="cc")
    assert {r["doc_id"] for r in out_cc.collect()} == {1, 50}


def test_quality_retention_string_clusters(spark):
    """Cluster keys may be strings (q93 uses canonical URLs);
    singletons fall back to their id cast to the cluster type."""
    from pii_extract_base_spark.operators.dedup import quality_retention
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 4)],
        "doc_id long, ts long")
    clusters = spark.createDataFrame(
        [(1, "example.com/a"), (2, "example.com/a"), (3, "example.com/a")],
        "doc_id long, cluster string")
    out = {r["doc_id"]: r for r in quality_retention(
        docs, clusters, F.col("ts"), quality_name="ts").collect()}
    # latest ts wins; tie between 2 and 3 -> lowest id (2)
    assert out[2]["kept"] and not out[3]["kept"] and not out[1]["kept"]
    assert out[7]["kept"] and out[7]["cluster"] == "7"


def test_materialize_examples_stream_identity(spark):
    """q94's writer half: the packed examples, concatenated in example
    order, are token-for-token identical to the corpus token stream in
    doc_id order (globally unique tokens make this a strong check —
    any mis-slice, mis-order, or drop changes the rebuilt stream), and
    every example holds exactly seq_len tokens except the tail."""
    import math
    import random
    from pii_extract_base_spark.operators.sharding import (
        materialize_examples)
    rng = random.Random(94)
    rows, stream = [], []
    for i in range(60):
        toks = [f"d{i}w{j}" for j in range(rng.randint(0, 30))]
        stream.extend(toks)
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = (materialize_examples(docs, seq_len=16, num_partitions=5)
           .orderBy("example").collect())
    assert [r["example"] for r in out] == list(range(
        math.ceil(len(stream) / 16)))
    assert [t for r in out for t in r["tokens"]] == stream
    sizes = [r["n_tokens"] for r in out]
    assert all(s == 16 for s in sizes[:-1])
    assert sizes[-1] == len(stream) - 16 * (len(sizes) - 1)
    assert all(len(r["tokens"]) == r["n_tokens"] for r in out)
    # bucket-count invariance: the r5 prefix-sum rewrite makes the
    # bucket id a pure function of the row, so the packed stream must
    # be identical no matter how many range buckets the scan uses —
    # including 1 (single bucket) and more buckets than partitions
    for nparts in (1, 3, 64):
        again = (materialize_examples(docs, seq_len=16,
                                      num_partitions=nparts)
                 .orderBy("example").collect())
        assert [t for r in again for t in r["tokens"]] == stream, nparts


def test_materialize_examples_tokens_col_stream_identity(spark):
    """tokens_col= packs a precomputed array<string> column (the BPE
    writer path, q95): stream identity and the no-pad invariant hold
    over the provided arrays — including NULL arrays, which count as
    empty — and the whitespace text column is ignored entirely."""
    import math
    import random
    from pii_extract_base_spark.operators.sharding import (
        materialize_examples)
    rng = random.Random(95)
    rows, stream = [], []
    for i in range(40):
        toks = [f"d{i}t{j}" for j in range(rng.randint(0, 25))]
        if i % 7 == 3:
            toks = None  # NULL token array → contributes nothing
        else:
            stream.extend(toks)
        rows.append((i, "IGNORED decoy text", toks))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, bpe_tokens array<string>")
    out = (materialize_examples(docs, seq_len=16, num_partitions=5,
                                tokens_col="bpe_tokens")
           .orderBy("example").collect())
    assert [r["example"] for r in out] == list(range(
        math.ceil(len(stream) / 16)))
    assert [t for r in out for t in r["tokens"]] == stream
    sizes = [r["n_tokens"] for r in out]
    assert all(s == 16 for s in sizes[:-1])
    assert sizes[-1] == len(stream) - 16 * (len(sizes) - 1)
    assert not any("IGNORED" in t for r in out for t in r["tokens"])
