"""functions/textstats word-window builders: exact outputs on the edge
arrays, and linear cost in document length for the builders and the
span dedups that use them."""

import random
import time

import pytest
from pyspark.sql import functions as F

from pii_extract_base_spark.functions.textstats import (word_chunks,
                                                        word_windows,
                                                        words_col)
from pii_extract_base_spark.operators.dedup import (sliding_span_dedup,
                                                    span_dedup)

EDGE_TEXTS = {
    "null": None,
    "empty": "",
    "shorter_than_k": "a b",
    "exact_multiple_of_k": "a b c d e f",
    "ragged": " a  b\tc d e f g ",
}


@pytest.fixture(scope="module")
def edge_rows(spark):
    df = spark.createDataFrame(list(EDGE_TEXTS.items()),
                               "case string, text string")
    w = words_col("text")
    out = df.select("case", word_windows(w, 3).alias("win"),
                    word_windows(w, 2, lambda x, y: F.struct(
                        x.alias("a"), y.alias("b"))).alias("pairs"),
                    word_chunks(w, 3).alias("chunks"))
    return {r["case"]: r for r in out.collect()}


@pytest.mark.parametrize("case", sorted(EDGE_TEXTS))
def test_builders_match_python_on_edge_arrays(edge_rows, case):
    words = (EDGE_TEXTS[case] or "").split()
    row = edge_rows[case]
    assert row.win == [" ".join(words[i:i + 3])
                       for i in range(len(words) - 2)]
    assert [(p.a, p.b) for p in row.pairs] == list(zip(words, words[1:]))
    assert row.chunks == [" ".join(words[i:i + 3])
                          for i in range(0, len(words), 3)]


def test_builders_pinned_outputs(edge_rows):
    assert edge_rows["null"].win == edge_rows["null"].chunks == []
    assert edge_rows["empty"].win == edge_rows["empty"].chunks == []
    assert edge_rows["shorter_than_k"].win == []
    assert edge_rows["shorter_than_k"].chunks == ["a b"]
    assert edge_rows["exact_multiple_of_k"].win == [
        "a b c", "b c d", "c d e", "d e f"]
    assert edge_rows["exact_multiple_of_k"].chunks == ["a b c", "d e f"]


# ---------------------------------------------------------------------------
# linear time: one doc of n words plus one of n/2, 300-word vocabulary

def _docs(spark, n):
    rng = random.Random(n)
    vocab = [f"w{i}" for i in range(300)]
    rows = [(0, " ".join(rng.choice(vocab) for _ in range(n))),
            (1, " ".join(rng.choice(vocab) for _ in range(n // 2)))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _builder_job(build):
    return lambda df: df.select(
        F.length(F.array_join(build(words_col("text")), " ")).alias("n"))


def _dedup_job(run):
    return lambda df: run(df).select(F.length("clean_text").alias("n"))


def _wall_s(job, df, repeat=2):
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        job(df).agg(F.sum("n"), F.count("*")).collect()
        best = min(best, time.perf_counter() - t)
    return best


# a per-index lambda over the row's word array (the quadratic form)
# costs 3.3-4x per 2x at these sizes
SCALING = [
    ("word_windows", _builder_job(lambda w: word_windows(w, 8)), 16_000),
    ("word_chunks", _builder_job(lambda w: word_chunks(w, 10)), 32_000),
    ("sliding_span_dedup",
     _dedup_job(lambda df: sliding_span_dedup(df, window=8)), 8_000),
    ("span_dedup", _dedup_job(lambda df: span_dedup(df, span=10)),
     16_000),
]


@pytest.mark.parametrize("name,job,n", SCALING,
                         ids=[s[0] for s in SCALING])
def test_window_cost_is_linear_in_doc_length(spark, name, job, n):
    """At twice the words a window job costs at most 3x as much."""
    _wall_s(job, _docs(spark, 1_000), repeat=1)   # warm the plan path
    t1 = _wall_s(job, _docs(spark, n))
    t2 = _wall_s(job, _docs(spark, 2 * n))
    assert t2 <= 3 * t1, (t1, t2)
