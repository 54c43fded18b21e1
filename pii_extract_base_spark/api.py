"""File-level API: load a source document, detect, dump a collection.

Replays `process_file` (reference api/file.py:74-144): load the doc,
resolve language from doc metadata else the option, load + merge
configs, build tasks, pick the output format by extension, run
detection, dump, return stats. This is the reference's golden-file
surface (test/unit/D_api/test_B_file.py:43-59); the Spark engine keeps
it as the single-document path — the distributed path is
operators/detect.py over a DataFrame, sharing the same kernel.
"""

import json
import sys
from typing import Dict, Iterable, List, Optional

from .kernel.defs import FMT_CONFIG_TASKCFG, FMT_CONFIG_TASKS
from .kernel.exceptions import InvArgException
from .kernel.processor import PiiProcessor, SrcDocument
from .kernel.task import DocumentChunk
from .registry.config_loader import load_module_config
from .registry.detectors import builtin_tasklist
from .registry.plugin_source import PluginTaskSource
from .sinks.collection_json import base_extension, piic_format

SRC_DOC_FORMAT = "piisa:src-document:v1"


# ---------------------------------------------------------------------------
# source-document loading (pii-data LocalSrcDocumentFile shape, reverse-
# engineered from reference test/data/minidoc-example.yaml: format tag,
# header.document.{id,main_lang}, tree of {id, data, chunks} nodes)

def _flatten_chunks(nodes: Iterable[Dict]) -> Iterable[DocumentChunk]:
    """Depth-first pre-order flatten of the chunk tree (SURVEY §2.3 D1)."""
    for node in nodes:
        data = node.get("data")
        if data is not None:
            ctx = node.get("context")
            yield DocumentChunk(str(node.get("id")), data, ctx)
        yield from _flatten_chunks(node.get("chunks") or [])


def openfile(path, mode: str = "rt"):
    """Open a possibly-compressed text file (pii-data helper.io.openfile
    contract: transparent .gz handling by extension)."""
    path = str(path)
    if path.endswith(".gz"):
        import gzip
        return gzip.open(path, mode, encoding="utf-8")
    return open(path, mode, encoding="utf-8")


def load_source_document(infile) -> SrcDocument:
    """Load a YAML/JSON source document file into a SrcDocument."""
    with openfile(infile) as f:
        text = f.read()
    if base_extension(infile) in (".yaml", ".yml"):
        import yaml
        data = yaml.safe_load(text)
    else:
        data = json.loads(text)
    if not isinstance(data, dict) or "src-document" not in str(
            data.get("format", "")):
        raise InvArgException("not a source document file: {}", infile)
    docmeta = (data.get("header") or {}).get("document") or {}
    chunks = list(_flatten_chunks(data.get("chunks") or []))
    return SrcDocument(docmeta.get("id"), chunks, metadata=docmeta)


# ---------------------------------------------------------------------------

def build_file_processor(config: Dict = None, skip_plugins: bool = True,
                         languages: Iterable[str] = None,
                         debug: bool = False) -> PiiProcessor:
    """Processor over every configured source: builtin registry (our
    bundled analogue of a first-party plugin), entry-point plugins, and
    config-supplied tasklists (reference gather/collection/get.py:16-50)."""
    proc = PiiProcessor(config=(config or {}).get(FMT_CONFIG_TASKCFG),
                        languages=languages, debug=debug)
    if not skip_plugins:
        proc.add_json_tasks(builtin_tasklist())
        PluginTaskSource(config=config, debug=debug,
                         languages=languages).add_to(proc)
    tasks_cfg = (config or {}).get(FMT_CONFIG_TASKS)
    if tasks_cfg:
        proc.add_json_tasks(tasks_cfg)
    return proc


def process_file(infile, outfile, configfile=None, skip_plugins: bool = False,
                 lang: str = None, country: List[str] = None,
                 tasks: List[str] = None, chunk_context: bool = False,
                 outfmt: str = None, debug: bool = False,
                 show_tasks: bool = False, show_stats: bool = False) -> Dict:
    """Detect PII in a source-document file; write the collection;
    return detection stats (reference api/file.py:74-144)."""
    doc = load_source_document(infile)
    meta = doc.metadata
    lang = meta.get("main_lang") or meta.get("lang") or lang
    if not lang:
        raise InvArgException("no language defined in options or document")

    config = load_module_config(configfile) if configfile else \
        load_module_config()

    proc = build_file_processor(config, skip_plugins=skip_plugins,
                                debug=debug)
    proc.build_tasks(lang, country, pii=tasks)
    if show_tasks:
        print_tasks([lang], proc, sys.stderr)

    if outfmt is None:
        outfmt = piic_format(outfile)

    piic = proc(doc, chunk_context=chunk_context)

    with openfile(outfile, "wt") as fout:
        piic.dump(fout, format=outfmt)

    stats = {"num": dict(proc.get_stats()["num"]),
             "entities": dict(proc.get_stats()["entities"])}
    if show_stats:
        print_stats(stats, sys.stderr)
    return stats


# ---------------------------------------------------------------------------
# console helpers (reference api/file.py:20-50)

def print_tasks(langlist: List[str], proc: PiiProcessor, out) -> None:
    """Reference api/file.py:20-39 rendering over task_info()."""
    from textwrap import TextWrapper
    tw = TextWrapper(initial_indent="     ", subsequent_indent="     ",
                     width=78)
    print(f". Built tasks [language={','.join(langlist)}]", file=out)
    for (pii, subtype), tasklist in proc.task_info().items():
        name = getattr(pii, "name", str(pii))
        print(f"\n {name}{' > ' + subtype if subtype else ''}", file=out)
        for n, (lang, country, tname, doc, method) in enumerate(tasklist):
            if n:
                print(file=out)
            print(f"   Language: {lang}", file=out)
            print(f"   Country: {country}", file=out)
            print(f"   Name: {tname}", file=out)
            if method:
                print(f"   Method: {method}", file=out)
            if doc:
                print("   Description:", file=out)
                for ln in doc.splitlines():
                    print(tw.fill(ln), file=out)


def print_stats(stats: Dict[str, Dict], out) -> None:
    print("\n. Statistics:", file=out)
    for name, vd in stats.items():
        print("..", name, file=out)
        for k, v in vd.items():
            print(f"   {k:20} :  {v:5}", file=out)
