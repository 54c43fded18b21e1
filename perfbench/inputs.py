"""Seeded inputs for the benchmark workloads, their input statistics,
and the pure-Python oracle digest every timed pass is checked against.

Every page comes from ``sources.pages.build_page``. A seed picks a block
of doc ids; the block start is a multiple of 200, so the defect-class and
language mix (doc_id // 10 % 20 and doc_id % 10) is the same for every
seed while the text, urls and the 0.1% long-page tail differ.
"""

import hashlib
import shutil
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, Iterable, List, Tuple

from pii_extract_base_spark.oracle import oracle_pages
from pii_extract_base_spark.pipeline import DEFAULT_LANGUAGES
from pii_extract_base_spark.sources.pages import (N_CLASSES, build_page,
                                                  page_record)

SEED_STRIDE = 100_000         # doc ids per seed (a multiple of 200)
SEED_PERIOD = 10_000          # seeds wrap here: warc_ts stays < year 9999

WEBPAGES_DOCS = 4000
LONGDOCS_DOCS = 200           # one cycle of 20 classes x 10 languages
PAGES_PER_LONGDOC = 20

# the digest columns; the Spark side builds the same string per row
DIGEST_SEP = "\x1f"


@dataclass
class Inputs:
    workload: str
    records: List[Dict]                     # page_record-shaped rows
    classes: List[int]                      # defect class per row

    @property
    def docs(self) -> int:
        return len(self.records)

    def stats(self) -> Dict:
        """Input statistics: size, length distribution, class mix and
        the share of docs whose text repeats an earlier doc's."""
        lens = sorted(len(r["text"]) for r in self.records)
        n = len(lens)
        return {
            "docs": n,
            "text_mb": round(sum(len(r["text"].encode("utf-8"))
                                 for r in self.records) / 1e6, 3),
            "len_p50": lens[n // 2],
            "len_p99": lens[min(n - 1, (99 * n) // 100)],
            "len_max": lens[-1],
            "class_mix": dict(sorted(Counter(self.classes).items())),
            "dup_share": round(
                1 - len({r["text"] for r in self.records}) / n, 4),
        }


def _base(seed: int) -> int:
    return (seed % SEED_PERIOD) * SEED_STRIDE + SEED_STRIDE


def _pages(ids: Iterable[int]) -> Tuple[List[Dict], List[int]]:
    """page_record rows and their defect classes. A doc whose url
    collides with an earlier one (astronomically rare) is left out, so
    every url is a key, as the digest assumes."""
    seen, recs, classes = set(), [], []
    for d in ids:
        rec = page_record(d)
        if rec["url"] not in seen:
            seen.add(rec["url"])
            recs.append(rec)
            classes.append((d // 10) % N_CLASSES)
    return recs, classes


def _with_text(rec: Dict, text: str, lang: str) -> Dict:
    rec = dict(rec)
    rec["text"] = text
    rec["lang"] = lang
    rec["html"] = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
    return rec


def webpages(seed: int) -> Inputs:
    base = _base(seed)
    return Inputs("webpages", *_pages(range(base, base + WEBPAGES_DOCS)))


def longdocs(seed: int) -> Inputs:
    """Each doc joins PAGES_PER_LONGDOC pages of one (class, language)
    pair, in the same class/language cycle as single pages."""
    base = _base(seed)
    recs, classes = [], []
    for i in range(LONGDOCS_DOCS):
        group, r = divmod(i, 200)
        cls, lang_slot = divmod(r, 10)
        ids = [base + 200 * (PAGES_PER_LONGDOC * group + m) + 10 * cls
               + lang_slot for m in range(PAGES_PER_LONGDOC)]
        pages = [build_page(d) for d in ids]
        recs.append(_with_text(page_record(ids[0]),
                               "\n".join(p[0] for p in pages), pages[0][1]))
        classes.append(cls)
    return Inputs("longdocs", recs, classes)


GENERATORS = {"webpages": webpages, "longdocs": longdocs}


def write_parquet(records: List[Dict], path: Path, files: int) -> None:
    """``records`` as ``files`` parquet files with the column types of
    ``sources.pages.PAGES_SCHEMA``. Written with pyarrow, not Spark, so
    the set-up spends no Spark job on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    table = pa.Table.from_pylist(records, schema=schema)
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    step = -(-len(records) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       path / f"part-{i:05d}.parquet")


# ---------------------------------------------------------------------------
# digest: order-independent, over (url, keep, n_entities, scrubbed_text)

Digest = Tuple[int, int, int, int, int]


def row_digest_string(url: str, keep: bool, n_entities: int,
                      scrubbed: str) -> str:
    return DIGEST_SEP.join((url, "true" if keep else "false",
                            str(n_entities), scrubbed or ""))


def oracle_digest(records: List[Dict]) -> Digest:
    """(rows, kept, entities, sum of md5 bits 0-31, sum of bits 32-63)
    of the pure-Python pipeline oracle over ``records``."""
    rows = oracle_pages(records, DEFAULT_LANGUAGES)
    s1 = s2 = kept = ents = 0
    for r in rows:
        h = hashlib.md5(row_digest_string(
            r["url"], r["keep"], r["n_entities"],
            r["scrubbed_text"]).encode("utf-8")).hexdigest()
        s1 += int(h[:8], 16)
        s2 += int(h[8:16], 16)
        kept += bool(r["keep"])
        ents += r["n_entities"]
    return len(rows), kept, ents, s1, s2

