"""PII/toxicity detect + scrub stage (north-star N4/N5/N6).

`process_page` is a pure function — the per-row contract, mirroring the
reference's raw-chunk API (detect_chunk, reference api/processor.py:215-258,
SURVEY.md §3.3). The Spark stage wraps it in an Arrow pandas UDF; the
oracle calls it directly. Byte-identical scrubbed text between engine and
oracle holds by construction.

The detector registry is NOT broadcast as pickled objects: executors
rebuild it once per (languages, config) via a module-level cache —
equivalent to the reference's build-once memoization
(gather/collection/task_collection.py:173-182) hoisted to executor scope,
and immune to regex-pickling issues.
"""

import json
from typing import Dict, Iterator, List, Optional, Tuple

from ..functions.decision import decide_python
from ..functions.quality import RULE_NAMES, rules_python
from ..functions.scoring import score_text
from ..kernel.model import PiiCollectionBuilder
from ..kernel.task import DocumentChunk
from ..kernel.processor import PiiProcessor
from ..kernel.scrub import scrub_text
from ..registry.factory import make_processor

# entity fields exposed in the exploded Spark schema (FIXTURES.md §3.1)
ENTITY_FIELDS = ("type", "subtype", "value", "start", "end", "lang",
                 "country", "detector", "method", "stage")

ENTITY_STRUCT = ("struct<type:string,subtype:string,value:string,"
                 "start:long,end:long,lang:string,country:string,"
                 "detector:int,method:string,stage:string>")

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


def detect_entities(proc: PiiProcessor, chunk: DocumentChunk, lang: str,
                    docid: str) -> Iterator[Tuple[Dict, object]]:
    """Detect on one chunk; yields (entity dict with ENTITY_FIELDS,
    its detector) per entity, in collection order."""
    piic = PiiCollectionBuilder(lang=lang, docid=docid)
    proc.detect_chunk(chunk, piic, default_lang=lang)
    for p in piic:
        d = p.asdict()
        det = piic.get_detector(d["detector"])
        yield {
            "type": d["type"],
            "subtype": d.get("subtype"),
            "value": d["value"],
            "start": d["start"],
            "end": d["end"],
            "lang": d.get("lang"),
            "country": d.get("country"),
            "detector": d["detector"],
            "method": det.method,
            "stage": d.get("process", {}).get("stage"),
        }, det


def _scrub(text: str, ents: List[Dict]) -> str:
    return scrub_text(text, [(e["start"], e["end"], e["type"])
                             for e in ents])


def process_page(proc: PiiProcessor, text: str, lang: str,
                 url: str, do_scrub: bool = True) -> Tuple[List[Dict], str]:
    """Detect entities on one page and scrub them. Returns
    (entity dicts with ENTITY_FIELDS, scrubbed text — or None when
    ``do_scrub`` is off)."""
    text = text or ""
    ents = [e for e, _ in detect_entities(
        proc, DocumentChunk(id="0", data=text), lang, url)]
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


RULES_STRUCT = ("struct<" + ",".join(f"{n}:boolean" for n in RULE_NAMES)
                + ">")

# page_result's fields, in the pipeline's output column order
FUSED_FIELDS = (
    ("lang_pred", "string"), ("lang_conf", "double"),
    ("logppl", "double"), ("rules", RULES_STRUCT),
    ("entities", f"array<{ENTITY_STRUCT}>"), ("n_entities", "int"),
    ("scrubbed_text", "string"), ("keep", "boolean"),
    ("reasons", "array<string>"))

FUSED_RESULT_SCHEMA = ("struct<" + ",".join(f"{n}:{t}" for n, t in
                                            FUSED_FIELDS) + ">")


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


# ---------------------------------------------------------------------------
# Distributed multi-chunk document detection (SURVEY §2.3 D1)

# chunk-level entity: detector identity as a KEY string; the dense
# doc-level detector int is assigned afterwards in Spark (D12 semantics
# need the whole document, which no single chunk row sees)
CHUNK_ENTITY_STRUCT = ("struct<type:string,subtype:string,value:string,"
                       "start:long,end:long,lang:string,country:string,"
                       "detector_key:string,method:string,stage:string>")

CHUNK_DETECT_SCHEMA = (f"struct<entities:array<{CHUNK_ENTITY_STRUCT}>,"
                       f"scrubbed_text:string,n_entities:int>")


def make_chunk_detect_udf(languages: Tuple[str, ...],
                          config_json: Optional[str] = None):
    """Arrow pandas UDF for ONE CHUNK + its neighbor context — the
    distributed rendering of reference ``api/processor.py:284``
    (``doc.iter_full(context=True)``: each chunk is detected with the
    previous/next chunk's text as its before/after context, so
    context-validated tasks — e.g. the phone detector's 'ph/phone/fax'
    window — can validate across chunk boundaries exactly like the
    local API (kernel/processor.py SrcDocument.iter_full)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    langs_t = tuple(languages)

    @pandas_udf(CHUNK_DETECT_SCHEMA)
    def chunk_udf(chunk_id: pd.Series, text: pd.Series,
                  before: pd.Series, after: pd.Series,
                  lang: pd.Series, docid: pd.Series) -> pd.DataFrame:
        proc = get_processor(langs_t, config_json)
        all_ents, scrubbed, counts = [], [], []
        for cid, t, bf, af, lg, did in zip(
                chunk_id.tolist(), text.tolist(), before.tolist(),
                after.tolist(), lang.tolist(), docid.tolist()):
            t = t or ""
            ctx = {}
            if bf is not None:
                ctx["before"] = bf
            if af is not None:
                ctx["after"] = af
            chunk = DocumentChunk(id=str(cid), data=t,
                                  context=ctx or None)
            ents = []
            for e, det in detect_entities(proc, chunk, lg, did):
                del e["detector"]
                e["detector_key"] = "|".join(
                    str(k or "") for k in det.key())
                ents.append(e)
            all_ents.append(ents)
            scrubbed.append(_scrub(t, ents))
            counts.append(len(ents))
        return pd.DataFrame({"entities": all_ents,
                             "scrubbed_text": scrubbed,
                             "n_entities": counts})

    return chunk_udf


def detect_chunked(df, languages: Tuple[str, ...],
                   id_col: str = "doc_id", chunks_col: str = "chunks",
                   lang_col: str = "lang",
                   config_json: Optional[str] = None):
    """Distributed chunk-tree detection — closes SURVEY §2.3 D1 on the
    DataFrame plane (reference ``api/processor.py:284``, context
    behavior ``test/unit/D_api/test_A_processor.py:552``; the local
    twin is ``kernel/processor.PiiProcessor.detect(chunk_context=
    True)``, and the parity pytest pins the two byte-identical).

    Plan shape, built for books/transcripts where ONE document can be
    larger than one executor's memory:

      1. ``posexplode(chunks)`` → one row per chunk; chunks of a
         document land on (potentially) different executors.
      2. one window over (doc, pos): ``lag``/``lead`` attach the
         neighbor chunks' text as before/after context — the only
         per-document shuffle, and it carries chunk text, not the
         whole document.
      3. the Arrow chunk UDF detects per chunk WITH context and
         scrubs the chunk.
      4. doc-level dense detector numbering (D12 — first use in
         position order across the WHOLE document): per (doc,
         detector_key), the first (chunk, start, end) occurrence is
         ranked by a window over the tiny per-doc detector set, then
         joined back — no chunk text in that join.
      5. per-doc reassembly: entities sorted by (chunk, start, end),
         scrubbed chunks re-ordered into an array.

    Returns one row per document: (id, lang, n_chunks, n_entities,
    entities array — each with its ``chunk`` index and doc-level
    ``detector`` id — and scrubbed_chunks array)."""
    from pyspark.sql import Window, functions as F

    udf = make_chunk_detect_udf(languages, config_json)
    ex = df.select(F.col(id_col), F.col(lang_col),
                   F.posexplode(F.col(chunks_col))
                    .alias("chunk", "chunk_text"))
    w = Window.partitionBy(id_col).orderBy("chunk")
    ex = ex.select(
        id_col, lang_col, "chunk", "chunk_text",
        F.lag("chunk_text").over(w).alias("before_ctx"),
        F.lead("chunk_text").over(w).alias("after_ctx"))
    res = (ex.withColumn("_r", udf(
                F.col("chunk"), F.col("chunk_text"),
                F.col("before_ctx"), F.col("after_ctx"),
                F.col(lang_col), F.col(id_col).cast("string")))
             .select(id_col, lang_col, "chunk",
                     F.col("_r.entities").alias("entities"),
                     F.col("_r.scrubbed_text").alias("scrubbed_text"),
                     F.col("_r.n_entities").alias("n_entities")))
    # `res` feeds BOTH the detector-numbering subtree and the per-doc
    # reassembly subtree; without a materialization barrier Catalyst
    # re-plans (and re-RUNS) the Arrow detect UDF — the most expensive
    # stage in the engine — once per consumer (r4 judge: 3 copies in
    # the q77 plan). One localCheckpoint runs it exactly once; LAZY so
    # merely composing/explaining the plan doesn't fire a corpus-wide
    # detect job (it materializes inside the first real action).
    res = res.localCheckpoint(eager=False)

    ent = (res.select(id_col, "chunk", F.explode("entities").alias("e"))
              .select(id_col, "chunk", "e.*"))
    firsts = (ent.groupBy(id_col, "detector_key")
                 .agg(F.min(F.struct("chunk", "start", "end"))
                       .alias("_first")))
    wnum = Window.partitionBy(id_col).orderBy("_first")
    nums = (firsts.withColumn("detector", F.row_number().over(wnum))
                  .drop("_first"))
    ent = ent.join(nums, [id_col, "detector_key"])
    doc_ents = (ent.groupBy(id_col)
                   .agg(F.sort_array(F.collect_list(F.struct(
                            "chunk", "start", "end", "type", "subtype",
                            "value", "lang", "country", "detector",
                            "method", "stage"))).alias("entities")))

    docs = (res.groupBy(id_col, lang_col)
               .agg(F.count("*").cast("long").alias("n_chunks"),
                    F.sum("n_entities").cast("long").alias("n_entities"),
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("chunk", "scrubbed_text"))),
                        lambda s: s["scrubbed_text"])
                     .alias("scrubbed_chunks")))
    return (docs.join(doc_ents, id_col, "left")
                .withColumn("entities",
                            F.coalesce(F.col("entities"),
                                       F.array().cast(
                                           "array<struct<chunk:int,"
                                           "start:bigint,end:bigint,"
                                           "type:string,subtype:string,"
                                           "value:string,lang:string,"
                                           "country:string,detector:int,"
                                           "method:string,stage:string>>"))))
