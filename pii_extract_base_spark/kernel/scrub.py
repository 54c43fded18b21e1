"""Span scrubbing (north-star stage N6, BASELINE.json north_rule).

Not present in the reference (which stops at detection); semantics are
fixed here so Spark engine and oracle agree by construction:

 - candidate spans sorted by (start asc, end desc)
 - overlap resolution: a span is DROPPED if it starts before the end of
   the previously kept span (inner/overlapping spans lose to the earlier,
   longer-at-same-start span)
 - kept spans replaced by ``<TYPE>`` placeholders in one left-to-right
   join of the text between them, O(text + spans) — deterministic ⇒
   byte-identical output. The join is exact only for spans inside the
   text, so a span with ``start < 0``, ``end < start`` or
   ``end > len(text)`` raises ``ValueError``.
"""

from typing import Iterable, List, Tuple

# span = (start, end, type_name)
Span = Tuple[int, int, str]


def resolve_spans(spans: Iterable[Span]) -> List[Span]:
    """Sort by (start asc, end desc) and drop overlapping spans."""
    out: List[Span] = []
    last_end = -1
    for s in sorted(spans, key=lambda x: (x[0], -x[1])):
        if s[0] >= last_end:
            out.append(s)
            last_end = s[1]
    return out


def scrub_text(text: str, spans: Iterable[Span]) -> str:
    """Replace each resolved span with ``<TYPE>``; ValueError on a span
    outside ``text``."""
    spans = list(spans)
    n = len(text)
    for s in spans:
        if not 0 <= s[0] <= s[1] <= n:
            raise ValueError(f"span {s[:2]} is outside a text of length {n}")
    out = []
    pos = 0
    for start, end, typ in resolve_spans(spans):
        out += (text[pos:start], "<", typ, ">")
        pos = end
    out.append(text[pos:])
    return "".join(out)
