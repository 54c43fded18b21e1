"""Pure-Python full-pipeline oracle.

Replays the ENTIRE quality pipeline row by row through the same row
function the fused Spark UDF maps over each batch
(operators.detect.page_result: scoring.score_text, quality.rules_python,
operators.detect.process_page, decision.decide_python) — the BASELINE.md
parity targets (byte-identical scrubbed text, keep/drop F1) are checked
against this.
"""

from typing import Dict, Iterable, List, Optional, Tuple

from .operators.detect import get_processor, page_result


def oracle_page(text: str, lang: str, url: str,
                languages: Tuple[str, ...],
                config_json: Optional[str] = None) -> Dict:
    proc = get_processor(tuple(languages), config_json)
    return {"url": url, "lang": lang,
            **page_result(proc, text, lang, url)}


def oracle_pages(rows: Iterable[Dict], languages: Tuple[str, ...],
                 config_json: Optional[str] = None) -> List[Dict]:
    """rows: dicts with url/text/lang (e.g. from pages pdf.to_dict)."""
    return [oracle_page(r["text"], r["lang"], r["url"],
                        languages, config_json) for r in rows]
