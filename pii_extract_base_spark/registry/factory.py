"""Driver-side processor factory.

Builds a PiiProcessor from the built-in registry plus optional user
configs, with the FULL tagged-config merge of the reference
(api/processor.py:45-58 via registry/config_loader): plugin options,
additional JSON tasklists and ``task_config`` overrides all merge per
format tag across config sources. Nothing ships the result to
executors: each Python worker rebuilds its own processor through
``operators/detect.get_processor``'s per-process cache.
"""

import hashlib
import json
from typing import Dict, Iterable, List, Optional, Union

from ..kernel.defs import FMT_CONFIG_TASKCFG, FMT_CONFIG_TASKS
from ..kernel.processor import PiiProcessor
from .config_loader import load_module_config
from .detectors import builtin_tasklist


def make_processor(languages: Iterable[str],
                   config: Optional[Union[Dict, List[Dict]]] = None,
                   include_builtin: bool = True,
                   load_plugins: bool = False) -> PiiProcessor:
    """Create a PiiProcessor with tasks built for every language in
    ``languages`` (the per-chunk language dispatch then picks the right
    task list per row, reference api/processor.py:229-236).

    ``config`` accepts tagged configs (``piisa:config:pii-extract:*``
    files/dicts), pre-merged multi-configs, or the legacy untagged
    ``{"task_config": [...]}`` shorthand — all merged per tag."""
    merged = load_module_config(config)

    proc = PiiProcessor(config=merged.get(FMT_CONFIG_TASKCFG))
    if include_builtin:
        proc.add_json_tasks(builtin_tasklist())
    if load_plugins:
        from .plugin_source import PluginTaskSource
        PluginTaskSource(config=merged,
                         languages=list(languages)).add_to(proc)
    tasks_cfg = merged.get(FMT_CONFIG_TASKS)
    if tasks_cfg:
        proc.add_json_tasks(tasks_cfg)
    for lang in languages:
        proc.build_tasks(lang)
    return proc


def _stable(v) -> str:
    """JSON fallback for registry values: a callable detector task is
    named by module and qualified name (its repr holds a memory address,
    which differs per process); anything else by its repr."""
    if callable(v) and hasattr(v, "__qualname__"):
        return f"{v.__module__}.{v.__qualname__}"
    return repr(v)


def registry_fingerprint(languages: Iterable[str],
                         config: Optional[Dict] = None) -> str:
    """Fingerprint of the active detector registry, equal in every
    process that runs the same code, recorded in per-partition lineage
    metadata (north-star stage N8)."""
    tl = builtin_tasklist()
    payload = {
        "languages": sorted(languages),
        "config": config or {},
        "tasks": tl["tasklist"],
        "source": tl["header"],
    }
    blob = json.dumps(payload, sort_keys=True, default=_stable).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
