"""Distributed multi-chunk detection (operators/detect.detect_chunked)
vs the local chunk-tree API (kernel PiiProcessor.detect with
chunk_context=True) — SURVEY §2.3 D1 on the DataFrame plane
(reference api/processor.py:284, context behavior
test/unit/D_api/test_A_processor.py:552)."""

import pytest

from pii_extract_base_spark.kernel.exceptions import InvArgException
from pii_extract_base_spark.kernel.model import PiiCollectionBuilder
from pii_extract_base_spark.kernel.processor import SrcDocument
from pii_extract_base_spark.kernel.scrub import scrub_text
from pii_extract_base_spark.kernel.task import DocumentChunk
from pii_extract_base_spark.registry.factory import make_processor

# chunk 1's phone number has NO context keyword in its own chunk —
# only the neighbor chunk 0 carries "phone", and the spec's window is
# a mere 16 chars left of the span, so the keyword must sit at the
# chunk boundary; chunk 3's number has no context anywhere and the
# PHONE task must skip it; credit card / email are context-free
DOCS = {
    "doc-a": ["Could you call me back by phone",
              "+34983453999 reaches me after lunch",
              "and write to ford.prefect@example.com too",
              "what is this number without context? +34983453000"],
    "doc-b": ["My credit card number is 4273 9666 4581 5642 ok",
              "no PII in this chunk at all"],
    "doc-c": ["nothing here either"],
}


def _local_reference(docid, chunks, context=True):
    """Run the local chunk-tree API and return (entity tuples keyed by
    chunk, scrubbed chunk list, doc-level detector count)."""
    proc = make_processor(("en",))
    doc = SrcDocument(docid,
                      [DocumentChunk(str(i), c)
                       for i, c in enumerate(chunks)],
                      metadata={"lang": "en"})
    piic = proc.detect(doc, chunk_context=context)
    ents = []
    for p in piic:
        d = p.asdict()
        ents.append((int(d["chunkid"]), d["start"], d["end"],
                     d["type"], d["value"], d["detector"]))
    spans = {}
    for p in piic:
        d = p.asdict()
        spans.setdefault(int(d["chunkid"]), []).append(
            (d["start"], d["end"], d["type"]))
    scrubbed = [scrub_text(c, spans.get(i, []))
                for i, c in enumerate(chunks)]
    return sorted(ents), scrubbed


def _chunked_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, lang string, chunks array<string>")


def _spark_rows(spark, rows, languages=("en",)):
    from pii_extract_base_spark.operators.detect import detect_chunked
    out = detect_chunked(_chunked_df(spark, rows), languages).collect()
    return {r["doc_id"]: r for r in out}


def _spark_result(spark):
    from pii_extract_base_spark.operators.detect import detect_chunked
    rows = [(k, "en", v) for k, v in sorted(DOCS.items())]
    df = spark.createDataFrame(
        rows, "doc_id string, lang string, chunks array<string>")
    out = detect_chunked(df, ("en",)).collect()
    return {r["doc_id"]: r for r in out}


def test_detect_chunked_parity_with_local_api(spark):
    got = _spark_result(spark)
    for docid, chunks in DOCS.items():
        ref_ents, ref_scrubbed = _local_reference(docid, chunks)
        row = got[docid]
        spark_ents = sorted(
            (e["chunk"], e["start"], e["end"], e["type"], e["value"],
             e["detector"]) for e in row["entities"])
        assert spark_ents == ref_ents, docid
        assert list(row["scrubbed_chunks"]) == ref_scrubbed, docid
        assert row["n_chunks"] == len(chunks)
        assert row["n_entities"] == len(ref_ents)


def test_cross_chunk_context_is_load_bearing(spark):
    """The phone in doc-a chunk 1 is ONLY valid through chunk 0's
    'phone' keyword: without neighbor context the local API drops it,
    with context both paths find it — proving detect_chunked attaches
    neighbour context as the reference's iter_full(context=True)."""
    with_ctx, _ = _local_reference("doc-a", DOCS["doc-a"], context=True)
    without, _ = _local_reference("doc-a", DOCS["doc-a"], context=False)
    phones_ctx = [e for e in with_ctx if e[3] == "PHONE_NUMBER"]
    phones_no = [e for e in without if e[3] == "PHONE_NUMBER"]
    assert len(phones_ctx) == 1 and phones_ctx[0][0] == 1
    assert phones_no == []
    got = _spark_result(spark)
    spark_phones = [e for e in got["doc-a"]["entities"]
                    if e["type"] == "PHONE_NUMBER"]
    assert len(spark_phones) == 1 and spark_phones[0]["chunk"] == 1
    # the undetectable +34983453000 in chunk 3 must NOT appear
    assert all(e["value"] != "+34983453000"
               for e in got["doc-a"]["entities"])


def test_doc_level_detector_numbering(spark):
    """D12 across chunks: detector ids are dense, first-use-ordered
    over the WHOLE document (chunk, start) — not per chunk."""
    got = _spark_result(spark)
    ents = sorted(got["doc-a"]["entities"],
                  key=lambda e: (e["chunk"], e["start"]))
    seen = {}
    for e in ents:
        key = (e["type"], e["method"])
        if e["detector"] not in seen.values():
            seen[key] = e["detector"]
    ids = sorted({e["detector"] for e in ents})
    assert ids == list(range(1, len(ids) + 1))
    # first entity in document order carries detector 1
    assert ents[0]["detector"] == 1


def _assert_matches_local(row, chunks):
    """`row` equals the local chunk-tree API on `chunks` (a NULL
    array is no chunks, a NULL chunk is empty text)."""
    texts = [c or "" for c in chunks or []]
    ref_ents, ref_scrubbed = _local_reference(row["doc_id"], texts)
    assert sorted((e["chunk"], e["start"], e["end"], e["type"],
                   e["value"], e["detector"])
                  for e in row["entities"]) == ref_ents
    assert list(row["scrubbed_chunks"]) == ref_scrubbed
    assert row["n_chunks"] == len(texts)
    assert row["n_entities"] == len(ref_ents)


def test_empty_and_null_chunks_keep_their_row(spark):
    """One row per input document, even with no chunks to detect on."""
    got = _spark_rows(spark, [("empty", "en", []), ("null", "en", None),
                              ("doc-c", "en", DOCS["doc-c"])])
    assert set(got) == {"empty", "null", "doc-c"}
    for docid, chunks in (("empty", []), ("null", None)):
        row = got[docid]
        assert row["n_chunks"] == 0 and row["n_entities"] == 0
        assert list(row["entities"]) == []
        assert list(row["scrubbed_chunks"]) == []
        _assert_matches_local(row, chunks)


def test_null_chunk_element(spark):
    """A NULL chunk is detected and scrubbed as empty text, and is
    empty context for its neighbours."""
    chunks = [DOCS["doc-b"][0], None, "Could you call me back by phone",
              "+34983453999 reaches me after lunch"]
    row = _spark_rows(spark, [("doc-n", "en", chunks)])["doc-n"]
    assert row["scrubbed_chunks"][1] == ""
    assert {e["type"] for e in row["entities"]} >= {"CREDIT_CARD",
                                                    "PHONE_NUMBER"}
    _assert_matches_local(row, chunks)


def test_language_outside_set_gives_no_entities(spark):
    """The chunk loop dispatches per chunk like the page path: a
    language with no built tasks yields zero entities. The local
    `PiiProcessor.detect` refuses such a document instead."""
    proc = make_processor(("en",))
    chunks = DOCS["doc-b"]
    doc = SrcDocument("doc-x", [DocumentChunk(str(i), c)
                                for i, c in enumerate(chunks)],
                      metadata={"lang": "xx"})
    piic = PiiCollectionBuilder(lang="xx", docid="doc-x")
    for chunk in doc.iter_full(context=True):
        proc.detect_chunk(chunk, piic, default_lang="xx")
    assert len(piic) == 0
    with pytest.raises(InvArgException):
        proc.detect(doc, chunk_context=True)
    row = _spark_rows(spark, [("doc-x", "xx", chunks)])["doc-x"]
    assert row["n_chunks"] == len(chunks) and row["n_entities"] == 0
    assert list(row["entities"]) == []
    assert list(row["scrubbed_chunks"]) == chunks


def test_null_lang_multilingual_fails_loudly(spark):
    """A NULL lang with a 4-language processor names no task set: the
    local API and detect_chunked both raise."""
    langs = ("en", "es", "fr", "de")
    doc = SrcDocument("doc-a", [DocumentChunk(str(i), c)
                                for i, c in enumerate(DOCS["doc-a"])])
    with pytest.raises(InvArgException,
                       match="must select a language for tasks"):
        make_processor(langs).detect(doc, chunk_context=True)
    from pii_extract_base_spark.operators.detect import detect_chunked
    out = detect_chunked(
        _chunked_df(spark, [("doc-a", None, DOCS["doc-a"])]), langs)
    with pytest.raises(Exception,
                       match="must select a language for tasks"):
        out.collect()


def test_plan_is_one_arrow_crossing(spark):
    """The whole document is one row: one ArrowEvalPython stage and
    nothing that moves chunks between tasks."""
    from pii_extract_base_spark.operators.detect import detect_chunked
    from pii_extract_base_spark.plans import count_nodes, formatted_plan
    rows = [(k, "en", v) for k, v in sorted(DOCS.items())]
    plan = formatted_plan(detect_chunked(_chunked_df(spark, rows),
                                         ("en",)))
    assert count_nodes(plan, r"\) ArrowEvalPython") == 1, plan
    assert count_nodes(plan, "Exchange") == 0, plan
    assert count_nodes(plan, "Window") == 0, plan


def test_arrow_batches_are_byte_bounded(spark):
    """get_spark bounds pandas-UDF input batches in bytes as well as
    rows, so a batch of whole-document rows stays bounded. Shown with
    the bound lowered to 1 MB: 40 rows of 100 KB never share a batch
    beyond ~11 rows."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pii_extract_base_spark.config import ARROW_MAX_BYTES_PER_BATCH

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    assert spark.conf.get(key) == str(ARROW_MAX_BYTES_PER_BATCH)

    @pandas_udf("long")
    def batch_rows(s: pd.Series) -> pd.Series:
        return pd.Series([len(s)] * len(s))

    spark.conf.set(key, str(1 << 20))
    try:
        big = (spark.range(0, 40, numPartitions=1)
               .select(F.repeat(F.lit("x"), 100_000).alias("t")))
        sizes = {r[0] for r in big.select(batch_rows("t")).collect()}
    finally:
        spark.conf.set(key, str(ARROW_MAX_BYTES_PER_BATCH))
    assert 1 < max(sizes) <= 11, sizes
