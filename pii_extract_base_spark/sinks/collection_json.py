"""PiiCollection serialization sink.

Parity: reference api/file.py:53-68 (format from extension) and
:126-138 (json vs ndjson dump). In Spark terms the ndjson flavor is
just `df.write.json` over the exploded entity rows; the detector header
is the small dictionary table written alongside (SURVEY.md §2.1 S2).
"""

import json
from pathlib import Path

from pyspark.sql import DataFrame


def base_extension(path) -> str:
    """Lower-cased last extension, ignoring a trailing .gz (pii-data
    base_extension)."""
    sfx = [s.lower() for s in Path(path).suffixes]
    if sfx and sfx[-1] == ".gz":
        sfx = sfx[:-1]
    return sfx[-1] if sfx else ""


def piic_format(path: str) -> str:
    """Choose output format by file extension (reference
    api/file.py:53-68)."""
    last = base_extension(path)
    if last in (".ndjson", ".jsonl"):
        return "ndjson"
    if last == ".json":
        return "json"
    raise ValueError(f"cannot determine collection format from: {path}")


def write_entities(entities: DataFrame, out_dir: str,
                   header: dict = None) -> None:
    """ndjson entity rows (distributed write) + collection header."""
    entities.write.mode("overwrite").json(f"{out_dir}/pii_list")
    meta = {"format": "piisa:pii-collection:v1", "stage": "detection"}
    if header:
        meta.update(header)
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    with open(f"{out_dir}/metadata.json", "w", encoding="utf-8") as f:
        json.dump(meta, f, indent=2)
