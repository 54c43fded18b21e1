"""Engine-vs-oracle parity on the synthetic pages corpus (BASELINE.md):
byte-identical scrubbed text per url, identical entity dicts, identical
keep/drop (F1 must be 1.0 — shared row function), rule vector equality
between the native-Spark SQL rendering (off the pipeline path) and the
pure-Python one, and pipeline-vs-oracle parity on whitespace the two
renderings treat differently, on NULL languages, on a language outside
the pipeline's set and on a digits-only page.
"""

import math

import pytest

from pii_extract_base_spark.pipeline import QualityPipeline, DEFAULT_LANGUAGES
from pii_extract_base_spark.sources.pages import synth_pages, build_page, page_record
from pii_extract_base_spark.oracle import oracle_page

SF_DIR = "/root/testdata/sf0.001"
N_DOCS = 400  # cap for test speed


@pytest.fixture(scope="module")
def results(spark):
    pages = synth_pages(spark, SF_DIR).where(f"url is not null").limit(N_DOCS)
    pipe = QualityPipeline(DEFAULT_LANGUAGES)
    rows = pipe(pages).collect()
    assert len(rows) == N_DOCS
    return rows


def test_scrubbed_text_byte_identical(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert row.scrubbed_text == exp["scrubbed_text"], row.url


def test_entities_exact(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        got = [e.asDict() for e in row.entities]
        assert got == exp["entities"], row.url


def test_keep_f1_is_one(results):
    tp = fp = fn = 0
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert sorted(row.reasons) == sorted(exp["reasons"]), row.url
        if row.keep and exp["keep"]:
            tp += 1
        elif row.keep and not exp["keep"]:
            fp += 1
        elif not row.keep and exp["keep"]:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 == 1.0


def test_rules_native_vs_python(spark, results):
    """rules_struct_column (q11 and perfbench use the native rendering)
    equals rules_python over the same pages."""
    from pii_extract_base_spark.functions.quality import (
        rules_python, rules_struct_column)
    pages = spark.createDataFrame([(r.url, r.text, r.lang)
                                   for r in results],
                                  "url string, text string, lang string")
    native = pages.select("url", "text", "lang",
                          rules_struct_column("text", "lang").alias("r"))
    rows = native.collect()
    assert len(rows) == N_DOCS
    for row in rows:
        assert row.r.asDict() == rules_python(row.text, row.lang), row.url


# Whitespace Python's str.split/strip treat as such but Java's \s and
# Spark's trim do not: the pipeline must follow the oracle here.
_SENT = ("the people of the town went to the market and bought some "
         "bread with the money that they had saved for the week")
WHITESPACE_CASES = {
    "tab_only_lines": "\n".join(
        ["The cat sat on the mat and the dog lay by the warm door.",
         "\t\t", "\t\t",
         "It was a quiet day in the town and all of the people were in.",
         "\t\t", "\t\t",
         "We went to the market for some bread and milk for the week."]),
    "nbsp_words": _SENT.replace(" ", "\u00a0"),
    "nel_words": _SENT.replace(" ", "\u0085"),
    "tab_before_bullet": "\n".join(
        f"\t- item {i} is one of the things that the people of the town "
        f"like and use" for i in range(8)),
    "tab_after_ellipsis": "\n".join(
        f"and then {i} of them went home to the town in the rain...\t"
        for i in range(8)),
    "null_text": None,
    "empty_text": "",
}


def _pipeline_rows(spark, host, cases):
    """{name: pipeline row} of the pages {name: (text, lang)}."""
    import datetime
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://{host}/{name}", ts, text, lang)
         for name, (text, lang) in cases.items()],
        "url string, warc_ts timestamp, text string, lang string")
    return {r.url.rsplit("/", 1)[1]: r
            for r in QualityPipeline(DEFAULT_LANGUAGES)(pages).collect()}


@pytest.fixture(scope="module")
def whitespace_results(spark):
    return _pipeline_rows(spark, "ws.example", {
        name: (text, "en") for name, text in WHITESPACE_CASES.items()})


@pytest.mark.parametrize("case", sorted(WHITESPACE_CASES))
def test_whitespace_pages_match_oracle(whitespace_results, case):
    row = whitespace_results[case]
    exp = oracle_page(WHITESPACE_CASES[case], "en", row.url,
                      DEFAULT_LANGUAGES)
    assert row.rules.asDict() == exp["rules"]
    assert row.keep == exp["keep"]
    assert list(row.reasons) == exp["reasons"]
    assert row.scrubbed_text == exp["scrubbed_text"]


# (text, lang) pages the synthetic corpus never holds: a row language
# outside the pipeline's languages (its PII is not detected, as in the
# oracle), a page of digits with no whitespace at all, a ~1 MB page
# with no newline and an email and a card number every ~190 bytes, and
# a ~0.8 MB page with a context-checked phone every ~95 bytes
EDGE_CASES = {
    "lang_outside_set": (
        "la gente della città è andata al mercato e ha comprato il pane "
        "con i soldi risparmiati per la settimana. scrivi a "
        "mario.rossi@example.com o 4111 1111 1111 1111", "it"),
    "digits_no_whitespace": ("0123456789" * 300, "en"),
    "one_mb_no_newline": ("".join(
        f"the people of the town went to the market and bought some "
        f"bread with the money that they had saved, mail "
        f"anna.berg{i}@example.com or pay by card 4111 1111 1111 1111 "
        f"before the week ends. " for i in range(5_400)), "en"),
    "dense_phones": ("".join(
        f"for orders and returns call the shop on phone +44 20 7946 "
        f"{i % 10_000:04d} between nine and five each day. "
        for i in range(8_500)), "en"),
}


@pytest.fixture(scope="module")
def edge_results(spark):
    return _pipeline_rows(spark, "edge.example", EDGE_CASES)


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_edge_pages_match_oracle(edge_results, case):
    row = edge_results[case]
    text, lang = EDGE_CASES[case]
    exp = oracle_page(text, lang, row.url, DEFAULT_LANGUAGES)
    assert row.keep == exp["keep"]
    assert list(row.reasons) == exp["reasons"]
    assert row.n_entities == exp["n_entities"]
    assert row.scrubbed_text == exp["scrubbed_text"]


@pytest.fixture(scope="module")
def null_lang_pages(spark):
    recs = [page_record(doc_id) for doc_id in range(40)]
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["text"], None) for r in recs],
        "url string, warc_ts timestamp, text string, lang string")


def test_null_lang_pages_match_oracle(null_lang_pages):
    """A NULL `lang` decides as the oracle does (`lang_mismatch`): the
    decision must not follow SQL's NULL `!=`, which emits no reason."""
    rows = QualityPipeline(("en",))(null_lang_pages).collect()
    assert len(rows) == 40
    for row in rows:
        exp = oracle_page(row.text, None, row.url, ("en",))
        assert row.keep == exp["keep"], row.url
        assert list(row.reasons) == exp["reasons"], row.url
        assert row.n_entities == exp["n_entities"], row.url
        assert row.scrubbed_text == exp["scrubbed_text"], row.url


def test_null_lang_multilingual_fails_loudly(null_lang_pages):
    """With several languages and no row language, detect cannot pick
    its tasks: collecting `keep` raises instead of keeping the row.
    (`count()` would prune the UDF and raise nothing.)"""
    out = QualityPipeline(DEFAULT_LANGUAGES)(null_lang_pages.limit(1))
    with pytest.raises(Exception, match="must select a language for tasks"):
        out.select("keep").collect()


def test_scores_match(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert row.lang_pred == exp["lang_pred"]
        assert math.isclose(row.lang_conf, exp["lang_conf"], rel_tol=1e-12)
        assert math.isclose(row.logppl, exp["logppl"], rel_tol=1e-12)


def test_expected_defect_classes(results):
    """Class-level keep/drop expectations (pages synthesizer contract)."""
    from pii_extract_base_spark.sources.pages import DROP_CLASSES, N_CLASSES
    for row in results:
        doc_id = None
        # recover doc_id via url hash is overkill: recompute page records
    # build an index url -> doc_id
    import hashlib
    by_url = {}
    for doc_id in range(N_DOCS * 3):
        h = hashlib.sha1(str(doc_id).encode()).hexdigest()[:8]
        by_url[f"https://site{doc_id % 97}.example/{h}"] = doc_id
    n_drop = 0
    for row in results:
        doc_id = by_url.get(row.url)
        if doc_id is None:
            continue
        cls = (doc_id // 10) % N_CLASSES
        if cls in DROP_CLASSES:
            assert not row.keep, (row.url, cls, row.reasons)
            n_drop += 1
        else:
            assert row.keep, (row.url, cls, row.reasons)
    assert n_drop > 0


def test_entities_present_for_injected_classes(results):
    """Injected-PII classes must produce the expected entity types."""
    import hashlib
    from pii_extract_base_spark.sources.pages import N_CLASSES
    by_url = {}
    for doc_id in range(N_DOCS * 3):
        h = hashlib.sha1(str(doc_id).encode()).hexdigest()[:8]
        by_url[f"https://site{doc_id % 97}.example/{h}"] = doc_id
    checked = set()
    for row in results:
        doc_id = by_url.get(row.url)
        if doc_id is None:
            continue
        cls = (doc_id // 10) % N_CLASSES
        types = {e["type"] for e in row.entities}
        if cls == 1:
            assert "CREDIT_CARD" in types, row.url
            assert "<CREDIT_CARD>" in row.scrubbed_text
        elif cls == 2:
            assert "CREDIT_CARD" not in types, row.url  # two-phase validate
        elif cls == 3:
            assert "PHONE_NUMBER" in types, row.url
        elif cls == 4:
            assert "PHONE_NUMBER" not in types, row.url  # context-dropped
        elif cls == 5:
            assert "EMAIL_ADDRESS" in types, row.url
        elif cls == 6:
            vals = [e["value"] for e in row.entities
                    if e["type"] == "BANK_ACCOUNT"]
            assert vals == ["DE89 3704 0044 0532 0130 00"], row.url
        elif cls == 8:
            assert "TOXIC" in types, row.url
            assert "<TOXIC>" in row.scrubbed_text
        checked.add(cls)
    assert {1, 2, 3, 4, 5, 6, 8} <= checked
