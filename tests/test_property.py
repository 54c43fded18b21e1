"""Property-based parity: each custom operator vs a naive in-Python
reference implementation on randomized small inputs (seeded, bounded
example counts — every example runs a real Spark job).

The naive references ARE the semantics the operators claim:
 - asof_join: per-left-row argmax over right rows with ts <= left ts
 - range_join: the full inequality cross-filter
 - stratified_sample: per-row md5-bucket rule
 - mixture_sample / quantile_cut_scalable / quantile_buckets: the
   per-stratum rank-quota pick or label
"""

import hashlib

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:          # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

SETTINGS = dict(max_examples=12, deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

keys = st.integers(min_value=0, max_value=3)
ts = st.integers(min_value=0, max_value=50)


@given(left=st.lists(st.tuples(keys, ts), min_size=1, max_size=12),
       right=st.lists(st.tuples(keys, ts, st.integers(0, 99)),
                      min_size=0, max_size=12))
@settings(**SETTINGS)
def test_asof_join_matches_naive(spark, left, right):
    from pii_extract_base_spark.operators.asof import asof_join
    # dedup right per (k, ts): the documented determinism precondition
    rmap = {(k, t): v for k, t, v in right}
    right = [(k, t, v) for (k, t), v in rmap.items()]
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)],
        "rid long, k long, t long")
    rdf = spark.createDataFrame(right + [(-99, -99, -99)],
                                "k long, t long, v long"
                                ).where("k >= 0")
    got = {r.rid: r.v_asof for r in
           asof_join(ldf, rdf, by="k", left_ts="t", right_ts="t",
                     right_cols=["v"], how="left").collect()}
    for i, (k, t) in enumerate(left):
        cands = [(rt, v) for rk, rt, v in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t)


@given(pts=st.lists(st.integers(-5, 60), min_size=1, max_size=15),
       rng=st.lists(st.tuples(st.integers(-5, 50), st.integers(0, 20)),
                    min_size=1, max_size=8),
       chunk=st.sampled_from([1.0, 3.0, 7.5, 100.0]))
@settings(**SETTINGS)
def test_range_join_matches_naive(spark, pts, rng, chunk):
    from pii_extract_base_spark.operators.rangejoin import range_join
    ranges = [(i, float(lo), float(lo + span))
              for i, (lo, span) in enumerate(rng)]
    pdf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(pts)], "pid long, x double")
    rdf = spark.createDataFrame(ranges, "rid long, lo double, hi double")
    got = {(r.pid, r.rid) for r in
           range_join(pdf, rdf, "x", "lo", "hi", chunk).collect()}
    want = {(i, rid)
            for i, p in enumerate(pts)
            for rid, lo, hi in ranges if lo <= p < hi}
    assert got == want


@given(ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=30,
                    unique=True),
       rate=st.sampled_from([0.0, 0.1, 0.5, 0.9, 1.0]))
@settings(**SETTINGS)
def test_stratified_sample_matches_naive(spark, ids, rate):
    from pii_extract_base_spark.functions.sampling import (
        BUCKETS, stratified_sample)
    df = spark.createDataFrame([(i, "s") for i in ids],
                               "id long, g string")
    got = {r.id for r in
           stratified_sample(df, "g", "id", {"s": rate}).collect()}
    thr = int(round(rate * BUCKETS))
    want = {i for i in ids
            if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            % BUCKETS < thr}
    assert got == want


# ---------------------------------------------------------------------------
# two-phase samplers (r4): the histogram selection must equal the naive
# rank-quota pick on arbitrary strata shapes — including heavy ties,
# singleton strata, and quota edge fractions


@given(rows=st.lists(st.tuples(st.integers(0, 400), keys),
                     min_size=1, max_size=40, unique_by=lambda r: r[0]),
       budget=st.integers(1, 30))
@settings(**SETTINGS)
def test_mixture_sample_matches_naive(spark, rows, budget):
    import math
    from pii_extract_base_spark.functions.sampling import mixture_sample
    shares = {"s0": 0.5, "s1": 0.29, "s2": 0.21}
    df = spark.createDataFrame([(i, f"s{g}") for i, g in rows],
                               "doc_id long, src string")
    got = {r["doc_id"] for r in
           mixture_sample(df, "src", "doc_id", shares, budget).collect()}
    want = set()
    for s, share in shares.items():
        quota = math.floor(share * budget + 1e-9)
        members = sorted(
            (i for i, g in rows if f"s{g}" == s),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        want |= set(members[:quota])
    assert got == want


@given(rows=st.lists(st.tuples(st.integers(0, 500), keys,
                               st.integers(0, 6)),
                     min_size=1, max_size=40, unique_by=lambda r: r[0]),
       frac=st.sampled_from([0.1, 0.29, 0.4, 0.5, 0.9, 1.0]))
@settings(**SETTINGS)
def test_quantile_cut_scalable_matches_naive(spark, rows, frac):
    import math
    from pii_extract_base_spark.functions.sampling import (
        quantile_cut_scalable)
    df = spark.createDataFrame(
        [(i, f"g{g}", float(sc)) for i, g, sc in rows],
        "id long, g string, score double")
    got = {r["id"] for r in
           quantile_cut_scalable(df, "g", "score", frac, "id").collect()}
    want = set()
    for g in {r[1] for r in rows}:
        members = [r for r in rows if r[1] == g]
        quota = max(1, math.floor(frac * len(members) + 1e-9))
        members.sort(key=lambda r: (-r[2], r[0]))
        want |= {r[0] for r in members[:quota]}
    assert got == want


# ------------------------------------------------- r5: retention/packing

@given(rows=st.lists(st.tuples(st.integers(0, 30),       # doc id
                               st.integers(0, 5),        # cluster key
                               st.integers(0, 9)),       # quality
                     min_size=1, max_size=16))
@settings(**SETTINGS)
def test_quality_retention_matches_naive(spark, rows):
    """Exactly one kept per cluster; kept = (max quality, then min
    id); singletons (no cluster row) keep themselves."""
    from pii_extract_base_spark.operators.dedup import quality_retention
    from pyspark.sql import functions as F
    docs = {i: q for i, c, q in rows}           # last wins per id
    clus = {i: c for i, c, q in rows if c > 0}  # c==0 -> singleton
    ddf = spark.createDataFrame(list(docs.items()), "doc_id long, q long")
    cdf = spark.createDataFrame(
        list(clus.items()) + [(-1, -1)], "doc_id long, cluster long"
    ).where("doc_id >= 0")
    got = {r.doc_id: (r.cluster, r.kept) for r in quality_retention(
        ddf, cdf, F.col("q")).collect()}
    assert set(got) == set(docs)
    # naive winner per effective cluster
    eff = {i: clus.get(i, i) for i in docs}
    winner = {}
    for i in docs:
        c = eff[i]
        cand = winner.get(c)
        if cand is None or (docs[i], -i) > (docs[cand], -cand):
            winner[c] = i
    for i in docs:
        assert got[i][0] == eff[i]
        assert got[i][1] == (winner[eff[i]] == i)
    kept_per_cluster = {}
    for i, (c, k) in got.items():
        kept_per_cluster.setdefault(c, 0)
        kept_per_cluster[c] += int(k)
    assert all(v == 1 for v in kept_per_cluster.values())


@given(lens=st.lists(st.integers(0, 25), min_size=1, max_size=14),
       seq_len=st.integers(2, 9))
@settings(**SETTINGS)
def test_pack_examples_manifest_invariants(spark, lens, seq_len):
    """Manifest partitions the token stream: every example holds
    exactly seq_len tokens except the last, totals match, doc spans
    agree with a serial replay."""
    from pii_extract_base_spark.operators.sharding import (
        example_manifest, pack_examples)
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = pack_examples(df, seq_len=seq_len, num_partitions=3)
    man = sorted(example_manifest(spans, seq_len=seq_len).collect(),
                 key=lambda r: r.example)
    total = sum(lens)
    if total == 0:
        assert man == []
        return
    n_ex = -(-total // seq_len)
    assert [r.example for r in man] == list(range(n_ex))
    assert all(r.n_tokens == seq_len for r in man[:-1])
    assert man[-1].n_tokens == total - seq_len * (n_ex - 1)
    assert sum(r.n_tokens for r in man) == total


@given(rows=st.lists(st.tuples(st.integers(0, 500),
                               st.sampled_from(["a", "b", None]),
                               st.one_of(st.none(), st.integers(0, 3))),
                     min_size=1, max_size=40, unique_by=lambda r: r[0]),
       tiny=st.lists(st.one_of(st.none(), st.integers(0, 3)),
                     min_size=1, max_size=3),
       fracs=st.lists(st.sampled_from([0.1, 0.25, 1 / 3, 0.5, 2 / 3,
                                       0.75, 0.9, 1.0]),
                      min_size=1, max_size=3, unique=True).map(sorted),
       ascending=st.booleans())
@settings(**SETTINGS)
def test_quantile_buckets_matches_naive(spark, rows, tiny, fracs,
                                        ascending):
    """Random strata with a NULL one, NULL scores, heavy ties (4 score
    values), a 1-3 row stratum where max(1, ·) makes quotas equal,
    both orders, 1 to 3 cut points."""
    from pii_extract_base_spark.functions.sampling import (
        quantile_buckets)
    from tests.test_sampling_scalable import _naive_buckets
    rows = [(i, g, None if sc is None else float(sc))
            for i, g, sc in rows]
    rows += [(1000 + j, "tiny", None if sc is None else float(sc))
             for j, sc in enumerate(tiny)]
    labels = [f"b{i}" for i in range(len(fracs) + 1)]
    df = spark.createDataFrame(rows, "doc_id long, g string, s double")
    got = {r["doc_id"]: r["bucket"] for r in
           quantile_buckets(df, "g", "s", fracs, labels, "doc_id",
                            ascending=ascending).collect()}
    assert got == _naive_buckets(rows, fracs, labels, ascending)
