"""PII/toxicity detect + scrub stage (north-star N4/N5/N6).

`process_page` is a pure function — the per-row contract, mirroring the
reference's raw-chunk API (detect_chunk, reference api/processor.py:215-258,
SURVEY.md §3.3). The Spark stage wraps it in an Arrow pandas UDF; the
oracle calls it directly. Byte-identical scrubbed text between engine and
oracle holds by construction.

Each Spark path is one Arrow pandas UDF over one pure row function:
`page_result` for a page (the quality pipeline) and `document_result`
for a chunked document (`detect_chunked`), which runs the kernel's own
chunk loop with neighbour context, so both paths share the kernel's
semantics instead of re-rendering them in Spark.

The detector registry is NOT broadcast as pickled objects: executors
rebuild it once per (languages, config) via a module-level cache —
equivalent to the reference's build-once memoization
(gather/collection/task_collection.py:173-182) hoisted to executor scope,
and immune to regex-pickling issues.
"""

import json
from typing import Dict, List, Optional, Tuple

from ..functions.decision import decide_python
from ..functions.quality import RULE_NAMES, rules_python
from ..functions.scoring import score_text
from ..kernel.model import PiiCollectionBuilder
from ..kernel.task import DocumentChunk
from ..kernel.processor import PiiProcessor, SrcDocument
from ..kernel.scrub import scrub_text
from ..registry.factory import make_processor


def _struct(fields) -> str:
    """The Spark DDL struct type of (name, type) pairs."""
    return "struct<" + ",".join(f"{n}:{t}" for n, t in fields) + ">"


# entity fields exposed in the exploded Spark schema (FIXTURES.md §3.1)
ENTITY_FIELDS = (
    ("type", "string"), ("subtype", "string"), ("value", "string"),
    ("start", "long"), ("end", "long"), ("lang", "string"),
    ("country", "string"), ("detector", "int"), ("method", "string"),
    ("stage", "string"))

ENTITY_STRUCT = _struct(ENTITY_FIELDS)

_PROC_CACHE: Dict[tuple, PiiProcessor] = {}


def get_processor(languages: Tuple[str, ...],
                  config_json: Optional[str] = None) -> PiiProcessor:
    """Executor-side memoized processor factory (one build per worker)."""
    key = (tuple(languages), config_json)
    proc = _PROC_CACHE.get(key)
    if proc is None:
        config = json.loads(config_json) if config_json else None
        proc = make_processor(languages, config=config)
        _PROC_CACHE[key] = proc
    return proc


def entity_dict(pii, piic: PiiCollectionBuilder) -> Dict:
    """One entity of `piic` as a dict with ENTITY_FIELDS; its
    ``detector`` is the collection's dense first-use id. Read from the
    entity's fields as ``PiiEntity.asdict`` resolves them."""
    f = pii.fields
    det = f["detector"]
    return {
        "type": pii.info.pii.name,
        "subtype": pii.info.subtype,
        "value": pii.value,
        "start": pii.pos,
        "end": pii.pos + len(pii.value),
        "lang": f.get("lang") or pii.info.lang,
        "country": f.get("country") or pii.info.country,
        "detector": det,
        "method": piic.get_detector(det).method,
        "stage": (f.get("process") or {}).get("stage"),
    }


def detect_entities(proc: PiiProcessor, chunk: DocumentChunk, lang: str,
                    docid: str) -> List[Dict]:
    """Detect on one chunk; entity dicts with ENTITY_FIELDS, in
    collection order."""
    piic = PiiCollectionBuilder(lang=lang, docid=docid)
    proc.detect_chunk(chunk, piic, default_lang=lang)
    return [entity_dict(p, piic) for p in piic]


def _scrub(text: str, ents: List[Dict]) -> str:
    return scrub_text(text, [(e["start"], e["end"], e["type"])
                             for e in ents])


def process_page(proc: PiiProcessor, text: str, lang: str,
                 url: str, do_scrub: bool = True) -> Tuple[List[Dict], str]:
    """Detect entities on one page and scrub them. Returns
    (entity dicts with ENTITY_FIELDS, scrubbed text — or None when
    ``do_scrub`` is off)."""
    text = text or ""
    ents = detect_entities(proc, DocumentChunk(id="0", data=text), lang,
                           url)
    return ents, (_scrub(text, ents) if do_scrub else None)


def detect_batch(texts, langs, urls, languages: Tuple[str, ...],
                 config_json: Optional[str] = None,
                 do_scrub: bool = True):
    """Batch kernel: list-of-rows → (entities, scrubbed, counts)."""
    proc = get_processor(languages, config_json)
    all_ents, scrubbed, counts = [], [], []
    for text, lang, url in zip(texts, langs, urls):
        ents, sc = process_page(proc, text, lang, url, do_scrub)
        all_ents.append(ents)
        scrubbed.append(sc)
        counts.append(len(ents))
    return all_ents, scrubbed, counts


def page_result(proc: PiiProcessor, text: str, lang: str,
                url: str) -> Dict:
    """The whole per-row result of the quality pipeline: scores, the
    rule vector (RULE_NAMES order), entities, the scrub and the
    keep/reasons decision. `make_fused_udf` maps it over each Arrow
    batch and `oracle.oracle_page` calls it directly, so the pipeline
    equals the oracle by construction."""
    lang_pred, lang_conf, logppl = score_text(text or "")
    rules = rules_python(text, lang)
    ents, scrubbed = process_page(proc, text, lang, url)
    keep, reasons = decide_python(rules, lang, lang_pred, lang_conf, logppl)
    return {
        "lang_pred": lang_pred,
        "lang_conf": lang_conf,
        "logppl": logppl,
        "rules": rules,
        "entities": ents,
        "n_entities": len(ents),
        "scrubbed_text": scrubbed,
        "keep": keep,
        "reasons": reasons,
    }


# detect_chunked's entity struct: the chunk index, the span, then the
# other ENTITY_FIELDS; a document's entities are sorted by these fields
# in this order, NULLs first
DOC_ENTITY_FIELDS = (("chunk", "int"),) + tuple(
    sorted(ENTITY_FIELDS, key=lambda f: f[0] not in ("start", "end")))


def document_result(proc: PiiProcessor, chunks, lang: str,
                    docid: str) -> Dict:
    """The per-document result of `detect_chunked`: the kernel's own
    chunk loop (`SrcDocument.iter_full(context=True)`, each chunk
    detected with its neighbours' text as before/after context) into
    ONE collection, so detector ids are dense and first-use-ordered
    over the whole document. Unlike `PiiProcessor.detect` it does not
    check the document language: a language outside the built set
    yields no entities. NULL chunks (or a NULL chunk) are empty."""
    texts = [c or "" for c in chunks] if chunks is not None else []
    doc = SrcDocument(docid, [DocumentChunk(str(i), t)
                              for i, t in enumerate(texts)])
    piic = PiiCollectionBuilder(lang=lang, docid=docid)
    for chunk in doc.iter_full(context=True):
        proc.detect_chunk(chunk, piic, default_lang=lang)
    ents = [dict(entity_dict(p, piic), chunk=int(p.chunkid))
            for p in piic]
    # scrub each chunk from its entities in collection order, as
    # process_page does (scrub_text keeps the first of equal spans)
    spans: List[List[Dict]] = [[] for _ in texts]
    for e in ents:
        spans[e["chunk"]].append(e)
    ents.sort(key=lambda e: tuple((e[f] is not None, e[f])
                                  for f, _ in DOC_ENTITY_FIELDS))
    return {
        "n_chunks": len(texts),
        "n_entities": len(ents),
        "scrubbed_chunks": [_scrub(t, s) for t, s in zip(texts, spans)],
        "entities": ents,
    }


RULES_STRUCT = _struct((n, "boolean") for n in RULE_NAMES)

# page_result's fields, in the pipeline's output column order
FUSED_FIELDS = (
    ("lang_pred", "string"), ("lang_conf", "double"),
    ("logppl", "double"), ("rules", RULES_STRUCT),
    ("entities", f"array<{ENTITY_STRUCT}>"), ("n_entities", "int"),
    ("scrubbed_text", "string"), ("keep", "boolean"),
    ("reasons", "array<string>"))

FUSED_RESULT_SCHEMA = _struct(FUSED_FIELDS)


def make_fused_udf(languages: Tuple[str, ...],
                   config_json: Optional[str] = None):
    """All of a row's Python work in ONE Arrow crossing: `page_result`
    (langid+ppl in one shared n-gram pass, the quality rules, detect,
    scrub and the keep/reasons decision) mapped over the batch.

    The JVM-side row<->Arrow conversion around each ArrowEvalPython
    stage costs more than the vectorized Python kernels, and the
    native renderings of the rules and scrub are array higher-order
    functions that Spark interprets outside whole-stage codegen; both
    are cheaper here, where `text` is already in Python. Deciding here
    too keeps Python's NULL semantics: a NULL `lang` is a
    `lang_mismatch`, as in the oracle, where a native `!=` would yield
    NULL and emit no reason.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    langs_t = tuple(languages)

    @pandas_udf(FUSED_RESULT_SCHEMA)
    def fused_udf(text: pd.Series, lang: pd.Series,
                  url: pd.Series) -> pd.DataFrame:
        proc = get_processor(langs_t, config_json)
        return pd.DataFrame(
            [page_result(proc, t, lg, u) for t, lg, u in zip(
                text.tolist(), lang.tolist(), url.tolist())],
            columns=[n for n, _ in FUSED_FIELDS])

    return fused_udf


# document_result's fields, in detect_chunked's output column order
DOCUMENT_FIELDS = (
    ("n_chunks", "long"), ("n_entities", "long"),
    ("scrubbed_chunks", "array<string>"),
    ("entities", f"array<{_struct(DOC_ENTITY_FIELDS)}>"))

DOCUMENT_RESULT_SCHEMA = _struct(DOCUMENT_FIELDS)


def detect_chunked(df, languages: Tuple[str, ...],
                   id_col: str = "doc_id", chunks_col: str = "chunks",
                   lang_col: str = "lang",
                   config_json: Optional[str] = None):
    """Chunk-tree detection on the DataFrame plane (SURVEY §2.3 D1,
    reference ``api/processor.py:284``, context behavior
    ``test/unit/D_api/test_A_processor.py:552``).

    Each input row already holds its whole document, so the document
    is the unit of work: ONE Arrow crossing maps `document_result`
    over the rows, then a select. Neighbour context, document-level
    detector numbering (D12) and the per-chunk scrub all come from the
    kernel's own chunk loop — no shuffle, window or join.

    Returns one row per input row, empty or NULL ``chunks`` included:
    (id, lang, n_chunks, n_entities, scrubbed_chunks, entities — each
    with its ``chunk`` index and document-level ``detector`` id)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    langs_t = tuple(languages)

    @pandas_udf(DOCUMENT_RESULT_SCHEMA)
    def document_udf(chunks: pd.Series, lang: pd.Series,
                     docid: pd.Series) -> pd.DataFrame:
        proc = get_processor(langs_t, config_json)
        return pd.DataFrame(
            [document_result(proc, c, lg, d) for c, lg, d in zip(
                chunks.tolist(), lang.tolist(), docid.tolist())],
            columns=[n for n, _ in DOCUMENT_FIELDS])

    return (df.withColumn("_doc", document_udf(
                F.col(chunks_col), F.col(lang_col),
                F.col(id_col).cast("string")))
              .select(id_col, lang_col, "_doc.*"))
