"""Scale-safe samplers (functions/sampling): the two-phase histogram
renderings of mixture_sample and quantile_cut must (a) select exactly
the rows the naive full-stratum rank window would, and (b) carry no
full-stratum sort in their physical plans — the 100-TB hazard the
round-3 verdict flagged (one reducer task sorting an entire source /
language)."""

import hashlib
import io
import math
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _plan(df, mode="formatted"):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


# ---------------------------------------------------------------------------
# mixture_sample

def _naive_mixture(rows, shares, budget):
    """Reference pick: per stratum, the floor(share·budget + 1e-9)
    rows with the smallest (md5(str(key)), key)."""
    out = set()
    for s, share in shares.items():
        quota = math.floor(share * budget + 1e-9)
        members = sorted((r for r in rows if r[1] == s),
                         key=lambda r: (_md5(str(r[0])), r[0]))
        out |= {r[0] for r in members[:quota]}
    return out


def test_mixture_matches_naive_window_pick(spark):
    from pii_extract_base_spark.functions.sampling import mixture_sample
    rows = [(i, f"s{i % 4}") for i in range(997)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    shares = {"s0": 0.5, "s1": 0.29, "s2": 0.2, "s3": 0.0}
    got = {r["doc_id"] for r in
           mixture_sample(df, "src", "doc_id", shares, 100).collect()}
    assert got == _naive_mixture(rows, shares, 100)


def test_mixture_exact_quota_arithmetic():
    """ADVICE r3: int(share·budget) truncated the float-perturbed
    product one short of the exact floor."""
    from pii_extract_base_spark.functions.sampling import mixture_quotas
    assert mixture_quotas({"a": 0.29}, 100) == {"a": 29}
    assert mixture_quotas({"a": 0.145}, 200) == {"a": 29}
    assert mixture_quotas({"a": 0.57}, 100) == {"a": 57}
    assert mixture_quotas({"a": 0.335}, 10) == {"a": 3}   # true fraction


def test_mixture_plan_has_no_full_stratum_sort(spark):
    from pii_extract_base_spark.functions.sampling import mixture_sample
    df = spark.createDataFrame([(i, f"s{i % 2}") for i in range(50)],
                               "doc_id long, src string")
    out = mixture_sample(df, "src", "doc_id", {"s0": 0.5, "s1": 0.5}, 20)
    plan = _plan(out)
    # the only row_number window runs on the boundary tie band, which
    # sits above a Filter on the broadcast cutoff bucket (_cutb); the
    # pass-through branch is a plain broadcast-join filter
    assert "row_number" in plan
    assert "_cutb" in plan
    assert "percent_rank" not in plan
    # histogram phase present: an aggregate over the md5-prefix bucket
    assert "_cum" in plan or "_c" in plan


def test_mixture_skewed_stratum(spark):
    """One stratum owns ~95% of the rows; the selection must still be
    exactly the naive pick (the whole point of the histogram path is
    that this case no longer needs a single-task sort)."""
    from pii_extract_base_spark.functions.sampling import mixture_sample
    rows = ([(i, "big") for i in range(20_000)]
            + [(100_000 + i, "small") for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, src string")
    shares = {"big": 0.9, "small": 0.1}
    got = {r["doc_id"] for r in
           mixture_sample(df, "src", "doc_id", shares, 1000).collect()}
    assert got == _naive_mixture(rows, shares, 1000)
    assert len(got) == 900 + 50    # small understocked: all 50, no reflow


# ---------------------------------------------------------------------------
# quantile_cut_scalable

def _naive_cut(rows, keep_frac, ascending=False):
    """Reference: per stratum, quota = max(1, floor(kf·n + 1e-9)) rows
    under (score desc|asc, id asc)."""
    out = set()
    strata = {r[1] for r in rows}
    for s in strata:
        members = [r for r in rows if r[1] == s]
        quota = max(1, math.floor(keep_frac * len(members) + 1e-9))
        members.sort(key=lambda r: (r[2] if ascending else -r[2], r[0]))
        out |= {r[0] for r in members[:quota]}
    return out


@pytest.mark.parametrize("ascending", [False, True])
def test_quantile_cut_scalable_matches_naive(spark, ascending):
    from pii_extract_base_spark.functions.sampling import (
        quantile_cut_scalable)
    # heavy ties (score = i % 13) force tiebreak resolution in the
    # boundary bin; stratum sizes 700 / 250 / 1
    rows = ([(i, "en", float(i % 13)) for i in range(700)]
            + [(1000 + i, "fr", float((i * 7) % 50)) for i in range(250)]
            + [(9999, "xx", 3.0)])
    df = spark.createDataFrame(rows, "id long, g string, score double")
    got = {r["id"] for r in
           quantile_cut_scalable(df, "g", "score", 0.4, "id",
                                 ascending=ascending).collect()}
    assert got == _naive_cut(rows, 0.4, ascending)


def test_quantile_cut_scalable_constant_score_stratum(spark):
    """min == max collapses to one bin — the documented degenerate
    fallback must still return exactly quota rows."""
    from pii_extract_base_spark.functions.sampling import (
        quantile_cut_scalable)
    rows = [(i, "c", 5.0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, g string, score double")
    got = sorted(r["id"] for r in
                 quantile_cut_scalable(df, "g", "score", 0.4, "id")
                 .collect())
    assert got == list(range(8))      # ties -> id asc tiebreak


def test_quantile_cut_scalable_plan_shape(spark):
    from pii_extract_base_spark.functions.sampling import (
        quantile_cut_scalable)
    df = spark.createDataFrame([(i, "g", float(i)) for i in range(50)],
                               "id long, g string, score double")
    plan = _plan(quantile_cut_scalable(df, "g", "score", 0.4, "id"))
    assert "percent_rank" not in plan
    assert "_cutbin" in plan           # band filter on the cutoff bin
    assert "row_number" in plan


def test_quantile_cut_scalable_validates(spark):
    from pii_extract_base_spark.functions.sampling import (
        quantile_cut_scalable)
    df = spark.createDataFrame([(1, "g", 1.0)],
                               "id long, g string, score double")
    with pytest.raises(ValueError):
        quantile_cut_scalable(df, "g", "score", 0.0, "id")


def test_quantile_cut_scalable_null_stratum_kept(spark):
    """r4 ADVICE: NULL strata must form their OWN stratum (null-safe
    joins), like quantile_cut's window partition — not be silently
    dropped by inner joins on the strata column."""
    from pii_extract_base_spark.functions.sampling import (
        quantile_cut_scalable)
    rows = ([(i, "en", float(i)) for i in range(10)]
            + [(100 + i, None, float(i)) for i in range(10)])
    df = spark.createDataFrame(rows, "id long, g string, score double")
    got = {r["id"] for r in
           quantile_cut_scalable(df, "g", "score", 0.5, "id").collect()}
    # per stratum: top-5 by score desc — en keeps 5..9, NULL keeps
    # 105..109
    assert got == {5, 6, 7, 8, 9, 105, 106, 107, 108, 109}


# ---------------------------------------------------------------------------
# per_key_cap_scalable

def _naive_key_cap(rows, cap):
    """Reference: per key, the cap rows with smallest (md5(str(id)), id)."""
    from collections import defaultdict
    by_key = defaultdict(list)
    for rid, key in rows:
        by_key[key].append(rid)
    out = set()
    for key, ids in by_key.items():
        ids.sort(key=lambda i: (_md5(str(i)), i))
        out |= set(ids[:cap])
    return out


def test_per_key_cap_scalable_matches_naive_with_heavy_key(spark):
    """One key owns ~95% of the rows (the shape the operator exists
    for); the kept set must equal the naive per-key window pick, keys
    under the cap are kept whole, and NULL keys form their own group."""
    from pii_extract_base_spark.functions.sampling import (
        per_key_cap_scalable)
    rows = ([(i, "megadomain") for i in range(5000)]
            + [(100_000 + i, f"tail{i % 7}") for i in range(140)]
            + [(200_000 + i, "tiny") for i in range(3)]
            + [(300_000 + i, None) for i in range(25)])
    df = spark.createDataFrame(rows, "id long, dom string")
    got = {r["id"] for r in
           per_key_cap_scalable(df, "dom", 10, "id").collect()}
    assert got == _naive_key_cap(rows, 10)
    kept_tiny = {r for r in got if 200_000 <= r < 200_100}
    assert len(kept_tiny) == 3                      # under-cap: whole
    assert len({r for r in got if r >= 300_000}) == 10   # NULL key group


def test_per_key_cap_scalable_plan_no_full_key_sort(spark):
    from pii_extract_base_spark.functions.sampling import (
        per_key_cap_scalable)
    df = spark.createDataFrame([(i, f"d{i % 3}") for i in range(60)],
                               "id long, dom string")
    plan = _plan(per_key_cap_scalable(df, "dom", 5, "id"))
    # row_number only above the boundary-bucket filter; histogram agg
    assert "row_number" in plan
    assert "_cutb" in plan
    assert "percent_rank" not in plan


def test_per_key_cap_scalable_validates(spark):
    from pii_extract_base_spark.functions.sampling import (
        per_key_cap_scalable)
    df = spark.createDataFrame([(1, "a")], "id long, dom string")
    with pytest.raises(ValueError):
        per_key_cap_scalable(df, "dom", 0, "id")


# ---------------------------------------------------------------------------
# leakage_safe_split

def test_leakage_safe_split_no_straddle(spark):
    """The load-bearing invariant: a key maps to exactly ONE split, so
    near-dup docs sharing a domain can never cross the train/eval
    boundary; assignment is a pure function of the key (re-run and
    partitioning invariant), and fractions land near their targets."""
    from pii_extract_base_spark.functions.sampling import (
        leakage_safe_split, split_thresholds)

    rows = [(i, f"domain{i % 211}.com") for i in range(2000)]
    rows += [(9001, None), (9002, None)]  # NULL keys: one '' group
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = leakage_safe_split(df, "source").cache()
    straddle = (out.groupBy("source")
                   .agg(F.countDistinct("split").alias("k"))
                   .where(F.col("k") > 1).count())
    assert straddle == 0
    # NULL keys form one deterministic group with a single split
    nulls = out.where(F.col("source").isNull()) \
               .select("split").distinct().collect()
    assert len(nulls) == 1 and nulls[0]["split"] in (
        "train", "val", "test")

    # partition-layout invariance: identical assignment at 1 partition
    again = {r["doc_id"]: r["split"]
             for r in leakage_safe_split(
                 df.repartition(1), "source").collect()}
    for r in out.collect():
        assert again[r["doc_id"]] == r["split"]

    # fractions: md5 buckets are near-uniform, so with 211 domains the
    # train share should be in a loose band around 0.90
    n = out.count()
    train = out.where(F.col("split") == "train").count()
    assert 0.80 <= train / n <= 0.97

    # thresholds helper: cumulative, int, stable
    assert split_thresholds((("train", 0.90), ("val", 0.05),
                             ("test", 0.05))) == [58982, 62259]
    # malformed fracs raise instead of silently dumping the
    # unallocated mass into the last split
    with pytest.raises(ValueError):
        split_thresholds((("train", 0.5), ("val", 0.05),
                          ("test", 0.05)))
    with pytest.raises(ValueError):
        split_thresholds(())
    with pytest.raises(ValueError):
        split_thresholds((("a", 1.2), ("b", -0.2)))


# ---------------------------------------------------------------------------
# temperature_sample (r5: temperature-scaled language mixture)

def test_temperature_rates_match_hand_formula(spark):
    """rate_l = round(min(1, floor(bf·N+1e-9) · q_l / n_l), 6) with
    q_l = p_l^α / Σ p^α — replayed in plain Python on known counts."""
    from pii_extract_base_spark.functions.sampling import (
        temperature_rates)
    counts = {"en": 800, "de": 150, "sw": 50}
    rows = [(f"{lang}{i}", lang)
            for lang, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    got = {r["lang"]: (r["n_docs"], r["rate"])
           for r in temperature_rates(df, "lang", alpha=0.3,
                                      budget_frac=0.5).collect()}
    N = sum(counts.values())
    pa = {l: (n / N) ** 0.3 for l, n in counts.items()}
    Z = sum(pa.values())
    B = math.floor(0.5 * N + 1e-9)
    for lang, n in counts.items():
        want = round(min(1.0, B * (pa[lang] / Z) / n), 6)
        assert got[lang] == (n, pytest.approx(want, abs=1e-9)), lang


def test_temperature_sample_tempers_the_head(spark):
    """α < 1 must up-weight tail languages: the keep RATE ordering is
    the reverse of the size ordering, the kept set is deterministic
    (same rows on a re-run), and every kept row satisfies the md5
    acceptance inequality."""
    from pii_extract_base_spark.functions.sampling import (
        temperature_sample, BUCKETS)
    rows = ([(i, "en") for i in range(2000)]
            + [(10_000 + i, "de") for i in range(300)]
            + [(20_000 + i, "sw") for i in range(60)]
            + [(30_000 + i, None) for i in range(40)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "lang", "doc_id", alpha=0.3,
                             budget_frac=0.3, rate_alias="rate")
    kept = out.collect()
    rate = {r["lang"]: r["rate"] for r in kept}
    # tail >= head in keep rate, strictly where no 1.0 rate-cap binds
    # (tiny strata saturate at 1.0 — you cannot up-sample without
    # replacement); NULL strata sample at their own rate
    assert rate["sw"] == 1.0            # tiny stratum kept whole
    assert rate["sw"] > rate["de"] > rate["en"]
    assert rate[None] > rate["en"]
    # md5 inequality holds row by row
    for r in kept:
        b = int(_md5(str(r["doc_id"]))[:8], 16) % BUCKETS
        assert b < math.floor(r["rate"] * BUCKETS + 1e-9)
    # deterministic: identical kept set on a fresh plan
    again = {r["doc_id"] for r in
             temperature_sample(df, "lang", "doc_id", alpha=0.3,
                                budget_frac=0.3).collect()}
    assert again == {r["doc_id"] for r in kept}
    # realized total lands near (never above by much) the budget: each
    # stratum keeps ~rate·n with md5-uniform noise
    assert len(kept) <= 0.33 * len(rows)


def test_temperature_sample_validates(spark):
    from pii_extract_base_spark.functions.sampling import (
        temperature_rates)
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError):
        temperature_rates(df, "lang", alpha=0.3, budget_frac=0.0)
    with pytest.raises(ValueError):
        temperature_rates(df, "lang", alpha=0.0)


# ---------------------------------------------------------------------------
# quantile_buckets (r5: CCNet head/middle/tail layout)

def _naive_buckets(rows, fracs, labels, ascending=True):
    """Per stratum: rank the non-NULL scores by (score asc|desc, id
    asc); label by the same max(1, floor(frac·n + 1e-9)) cumulative
    quotas the cut uses. NULL scores take the last label."""
    from collections import defaultdict
    by_s = defaultdict(list)
    want = {}
    for rid, s, score in rows:
        if score is None:
            want[rid] = labels[-1]
        else:
            by_s[s].append((score if ascending else -score, rid))
    for s, members in by_s.items():
        members.sort()
        quotas = [max(1, math.floor(f * len(members) + 1e-9))
                  for f in fracs]
        for rank, (_, rid) in enumerate(members, start=1):
            lab = labels[-1]
            for q, l in zip(quotas, labels):
                if rank <= q:
                    lab = l
                    break
            want[rid] = lab
    return want


def test_quantile_buckets_match_naive_rank(spark):
    from pii_extract_base_spark.functions.sampling import (
        quantile_buckets)
    rows = [(i, f"l{i % 3}", float((i * 37) % 101)) for i in range(400)]
    rows += [(1000, "solo", 5.0)]          # n=1 stratum
    df = spark.createDataFrame(rows, "doc_id long, g string, s double")
    out = quantile_buckets(df, "g", "s", (1.0 / 3.0, 2.0 / 3.0),
                           ("head", "middle", "tail"), "doc_id",
                           ascending=True)
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    assert got == _naive_buckets(rows, (1.0 / 3.0, 2.0 / 3.0),
                                 ("head", "middle", "tail"))
    # n=1 stratum: the single row is head (quota max(1,·) = 1)
    assert got[1000] == "head"


def test_quantile_buckets_null_scores_take_last_label(spark):
    from pii_extract_base_spark.functions.sampling import (
        quantile_buckets)
    rows = [(1, "en", 1.0), (2, "en", 2.0), (3, "en", 3.0),
            (4, "en", None)]
    df = spark.createDataFrame(rows, "doc_id long, g string, s double")
    out = quantile_buckets(df, "g", "s", (1.0 / 3.0, 2.0 / 3.0),
                           ("head", "middle", "tail"), "doc_id")
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    # NULL score is unrankable -> tail; ranked rows quota on n=3
    assert got == {1: "head", 2: "middle", 3: "tail", 4: "tail"}


def test_quantile_buckets_validates(spark):
    from pii_extract_base_spark.functions.sampling import (
        quantile_buckets)
    df = spark.createDataFrame([(1, "en", 1.0)],
                               "doc_id long, g string, s double")
    with pytest.raises(ValueError):
        quantile_buckets(df, "g", "s", (0.5, 0.4), ("a", "b", "c"),
                         "doc_id")
    with pytest.raises(ValueError):
        quantile_buckets(df, "g", "s", (0.5,), ("a", "b", "c"),
                         "doc_id")


def test_quantile_buckets_plan_does_not_grow_with_cuts(spark):
    """Every cut point comes from one histogram pass: 1, 2 and 3 cut
    points plan the same aggregates, windows and shuffles (one more
    cut used to add a histogram, a window and a join-back)."""
    from pii_extract_base_spark.functions.sampling import (
        quantile_buckets)
    from pii_extract_base_spark.plans import count_nodes, formatted_plan
    df = spark.createDataFrame(
        [(i, f"l{i % 3}", float(i % 7)) for i in range(60)],
        "doc_id long, g string, s double")
    shapes = []
    for fracs in ((0.5,), (1.0 / 3.0, 2.0 / 3.0), (0.25, 0.5, 0.75)):
        labels = [f"b{i}" for i in range(len(fracs) + 1)]
        plan = formatted_plan(quantile_buckets(df, "g", "s", fracs,
                                               labels, "doc_id"))
        shapes.append([count_nodes(plan, node) for node in
                       ("HashAggregate", "Window", "Exchange")])
    assert shapes[0] == shapes[1] == shapes[2], shapes
