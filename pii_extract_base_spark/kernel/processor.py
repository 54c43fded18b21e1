"""PiiProcessor: build tasks per language, detect over chunks/documents.

Parity: reference api/processor.py:109-301 — language dispatch
(:229-236), per-chunk task identity-dedup (:239-245), stable position
sort (:254-256), dense first-use detector numbering (via
PiiCollectionBuilder), stats (:124,251-252,297-301), document-level
language check (:32-42,276-281).

In the Spark engine each Python worker builds this object once, through
``operators/detect.get_processor``'s per-process cache, and its
``detect_chunk`` is the per-row contract of the batch UDF
(SURVEY.md §3.3).
"""

from collections import defaultdict
from itertools import chain
from typing import Dict, Iterable, List, Optional, Tuple, Union

from .defs import STAGE
from .exceptions import ProcException, InvArgException
from .model import PiiEntity, PiiEntityInfo, PiiCollectionBuilder
from .task import BasePiiTask, DocumentChunk
from .collection import PiiTaskCollection


def check_language(lang1, lang2) -> bool:
    """Reference api/processor.py:32-42."""
    if lang1 is None or lang2 is None:
        return True
    if isinstance(lang1, str):
        lang1 = [lang1]
    if isinstance(lang2, str):
        lang2 = [lang2]
    return bool(set(lang1) & set(lang2))


def set_pii_stage(pii: PiiEntity, allow_duplicates: bool = False,
                  **data) -> bool:
    """Reference helper/utils.py:48-58."""
    if not allow_duplicates:
        prc = pii.fields.get("process")
        if prc and prc.get("stage") == STAGE:
            return False
    pii.add_process_stage(STAGE, **data)
    return True


class SrcDocument:
    """Minimal source document: id + metadata + flat chunk list.

    Parity: pii-data SrcDocument as consumed at reference
    api/processor.py:276-285 (``doc.metadata``, ``doc.iter_full``) and
    the tree-of-chunks YAML of test/data/minidoc-example.yaml (we
    flatten the tree; ``iter_full(context=True)`` attaches
    before/after neighbor text, reference SURVEY D1).
    """

    def __init__(self, docid: str, chunks: List[DocumentChunk],
                 metadata: Dict = None):
        self.id = docid
        self.chunks = list(chunks)
        self.metadata = metadata or {}

    def iter_full(self, context: bool = False) -> Iterable[DocumentChunk]:
        if not context:
            yield from self.chunks
            return
        n = len(self.chunks)
        for i, ch in enumerate(self.chunks):
            ctx = dict(ch.context or {})
            if i > 0:
                ctx.setdefault("before", self.chunks[i - 1].data)
            if i < n - 1:
                ctx.setdefault("after", self.chunks[i + 1].data)
            yield DocumentChunk(ch.id, ch.data, ctx or None)


class PiiProcessor:
    """Task building + detection orchestration (reference api/processor.py)."""

    def __init__(self, config: Dict = None, languages: Iterable[str] = None,
                 debug: bool = False):
        self._debug = debug
        self._config = config or {}
        self._languages = list(languages) if languages else None
        self._tasks: Dict[Optional[str], List[BasePiiTask]] = {}
        self._stats = {"num": defaultdict(int), "entities": defaultdict(int)}
        self._ptc = PiiTaskCollection(task_config=self._config, debug=debug)

    def __repr__(self) -> str:
        return f"<PiiProcessor #{len(self._ptc)}>"

    # -- registry loading ----------------------------------------------------

    def add_json_tasks(self, src) -> int:
        return self._ptc.add_json_tasks(src, languages=self._languages)

    def add_raw_tasks(self, raw_list, defaults: Dict = None) -> int:
        return self._ptc.add_raw_tasks(raw_list, defaults=defaults,
                                       languages=self._languages)

    def language_list(self) -> List[str]:
        return sorted(self._ptc.language_list())

    # -- task building ---------------------------------------------------------

    def build_tasks(self, lang: str, country: List[str] = None,
                    pii=None, add_any: bool = True) -> int:
        lang = lang.lower() if lang else None
        if isinstance(country, str):
            country = [country]
        country = [c.lower() for c in country] if country else None
        tasks = self._ptc.build_tasks(lang, country, pii=pii, add_any=add_any)
        self._tasks[lang] = list(tasks)
        return len(self._tasks[lang])

    def task_info(self, lang: str = None,
                  asdict: bool = False) -> Dict[Tuple, List]:
        """Instantiated-task inventory: keys are (pii enum, subtype),
        values are (lang, country, name, doc, method) tuples (or dicts
        with asdict=True). Parity: reference api/processor.py:176-212."""
        if not self._tasks:
            raise ProcException("no detector tasks have been built")
        if lang and lang not in self._tasks:
            raise InvArgException(
                "no detector tasks have been built for {}", lang)
        tasklist = self._tasks[lang] if lang else \
            chain.from_iterable(self._tasks.values())

        out = defaultdict(list)
        seen = set()
        for t in tasklist:
            if id(t) in seen:      # "any"-lang tasks shared across langs
                continue
            seen.add(id(t))
            infos = t.pii_info
            if isinstance(infos, PiiEntityInfo):
                infos = [infos]
            for info in infos:
                try:
                    method = t.get_method(info)
                except Exception:   # noqa: BLE001 — multi w/o method
                    method = None
                value = (info.lang, info.country, t.task_info.name,
                         t.task_info.doc, method)
                if asdict:
                    value = dict(zip(("lang", "country", "name", "doc",
                                      "method"), value))
                out[(info.pii, info.subtype)].append(value)
        return dict(out)

    # -- detection ---------------------------------------------------------------

    def detect_chunk(self, chunk: DocumentChunk, piic: PiiCollectionBuilder,
                     default_lang: str = None) -> int:
        """Reference api/processor.py:215-258 — THE per-row contract."""
        if not self._tasks:
            raise ProcException("no built detector tasks")

        lang = (chunk.context or {}).get("lang") or default_lang
        if lang:
            tasks = self._tasks.get(lang, [])
        else:
            if len(self._tasks) > 1:
                raise InvArgException("must select a language for tasks")
            tasks = next(iter(self._tasks.values()))

        piilist = []
        processed = set()
        for task in tasks:
            if id(task) in processed:
                continue
            processed.add(id(task))
            info = None     # the task's header dict, built once per chunk
            for pii in task(chunk):
                set_pii_stage(pii)
                if info is None:
                    info = task.task_info.asdict()
                piilist.append((pii, info, task.get_method(pii.info)))
                self._stats["num"]["entities"] += 1
                self._stats["entities"][pii.info.pii.name] += 1

        # stable sort keeps task-application order for position ties
        for pii in sorted(piilist, key=lambda p: p[0].pos):
            piic.add_detector_fields(*pii)
        return len(piilist)

    def detect(self, doc: SrcDocument,
               chunk_context: bool = False) -> PiiCollectionBuilder:
        """Reference api/processor.py:261-287."""
        if not self._tasks:
            raise ProcException("no built detector tasks")
        self._stats["num"]["calls"] += 1

        meta = doc.metadata
        lang = meta.get("main_lang") or meta.get("lang")
        if not lang and len(self._tasks) == 1:
            lang = next(iter(self._tasks))
        elif not check_language(lang, list(self._tasks.keys())):
            raise InvArgException("incompatible document language for extraction")

        piicol = PiiCollectionBuilder(lang=lang, docid=doc.id)
        for chunk in doc.iter_full(context=chunk_context):
            self.detect_chunk(chunk, piicol, default_lang=lang)
        return piicol

    def __call__(self, doc: SrcDocument, **kwargs) -> PiiCollectionBuilder:
        return self.detect(doc, **kwargs)

    def get_stats(self) -> Dict:
        return self._stats
