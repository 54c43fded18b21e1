"""Context-validation of PII candidates.

Parity: reference helper/context.py:15-132 — same spec grammar
(string / word / regex), same default width (64), same
whitespace-normalize-then-slice window, proven against the reference
truth table (test/unit/A_helper/test_context.py:9-97) in
tests/test_kernel_context.py.

The window is built from a bounded slice of the text, not the whole of
it. Whitespace normalization is ``" ".join(s.split())``, so for any
split of a string into ``a + b``, ``normalize(b)`` is a suffix of
``normalize(a + b)`` and ``normalize(a)`` a prefix: a token cut by the
split keeps its tail in ``b`` (its head in ``a``), and whitespace at a
slice edge is dropped, as it is at the edge of the whole string. So the
last ``width`` characters of ``normalize(text[p-k:p])`` are those of
``normalize(text[:p])`` once the slice's normalized length reaches
``width`` or ``p-k`` reaches 0 (and the first ``width`` of
``normalize(text[p:p+k])`` likewise); `context_window` doubles ``k``
until that holds. A candidate costs O(width) plus the whitespace runs
its window spans, not O(page length) (tests/test_page_kernels.py
checks the window against the whole-text one).

Provenance: this module deliberately TRANSCRIBES the reference's
context semantics (piisa/pii-extract-base, Apache-2.0) — byte-identical
context acceptance is a parity mandate, so the matching logic tracks
the upstream structure closely rather than re-deriving it. Upstream:
https://github.com/piisa/pii-extract-base (helper/context.py),
Copyright its contributors, Apache License 2.0.
"""

import regex

from typing import Dict, List, Tuple, Union

from .defs import LANG_ANY
from .exceptions import InvArgException, BuildException
from .normalizer import normalize

# Default width around a PII value where context is searched for
# (reference helper/context.py:15)
DEFAULT_CONTEXT_WIDTH = 64

# Normalization applied to context prototypes (reference helper/context.py:18)
CONTEXT_NORM_OPTIONS = dict(whitespace=True, lowercase=True)


def _norm(ctx: str, lang: str, escape: bool = False) -> str:
    ctx = normalize(ctx, lang, **CONTEXT_NORM_OPTIONS)
    if escape:
        ctx = regex.escape(ctx)
    return ctx


def context_spec(spec: Union[str, List, Dict], lang: str = LANG_ANY) -> Dict:
    """Parse & standardize a context specification.

    Accepts a bare string, a list of strings, or a dict with
    ``value`` / ``type`` ("string"|"word"|"regex") / ``width``.
    """
    if spec is None:
        raise InvArgException("no context spec")

    if isinstance(spec, str):
        spec = [spec]
    if isinstance(spec, list):
        for s in spec:
            if not s:
                raise InvArgException("empty context spec")
        return {
            "value": [_norm(c, lang) for c in spec],
            "width": [DEFAULT_CONTEXT_WIDTH, DEFAULT_CONTEXT_WIDTH],
            "regex": False,
        }

    out = {}
    value = spec.get("value")
    if value is None:
        raise InvArgException("invalid context spec: {}", spec)
    if isinstance(value, str):
        value = [value]
    for s in value:
        if not s:
            raise InvArgException("empty context spec")

    ctype = spec.get("type", "string")
    if ctype == "string":
        out["regex"] = False
        value = [_norm(v, lang) for v in value]
    elif ctype == "word":
        out["regex"] = True
        value = [regex.compile(r"\b" + _norm(v, lang, True) + r"\b")
                 for v in value]
    elif ctype == "regex":
        out["regex"] = True
        try:
            value = [regex.compile(v, flags=regex.X) for v in value]
        except Exception as e:
            raise BuildException("cannot compile context regex: {}: {}",
                                 e, value) from e
    else:
        raise InvArgException("invalid context type: {}", ctype)

    out["value"] = value

    width = spec.get("width")
    if width is None:
        width = (DEFAULT_CONTEXT_WIDTH, DEFAULT_CONTEXT_WIDTH)
    elif isinstance(width, int):
        width = (width, width)
    elif len(width) == 1:
        width = (width[0], width[0])
    out["width"] = width
    return out


def _window(text: str, start: int, stop: int, width: int,
            left: bool) -> str:
    """The ``width``-character window of ``normalize(text[start:stop],
    whitespace=True)`` at the ``stop`` end (``left``) or the ``start``
    end, normalizing only a bounded slice (see the module docstring).
    A width below 1 normalizes the whole range."""
    k = 2 * width if width > 0 else len(text)
    while True:
        lo = max(stop - k, start) if left else start
        hi = stop if left else min(start + k, stop)
        src = normalize(text[lo:hi], whitespace=True)
        if len(src) >= width or (lo == start and hi == stop):
            break
        k *= 2
    return src[max(len(src) - width, 0):] if left else src[:width]


def context_window(text: str, width: Tuple[int, int],
                   pii_pos: Union[int, Tuple[int, int], List[int]]) -> str:
    """The context window around a PII position: the last ``width[0]``
    chars of the whitespace-normalized text left of the span + " " +
    the first ``width[1]`` chars right of it (reference
    helper/context.py:98-132)."""
    if isinstance(pii_pos, int):
        pii_pos = (pii_pos, pii_pos)
    elif len(pii_pos) == 1:
        pii_pos = [pii_pos[0], pii_pos[0]]

    n = len(text)
    src = ""
    if width[0]:
        # text[:p] and text[p:] as Python slices them, for any int p
        src = _window(text, 0, slice(pii_pos[0]).indices(n)[1], width[0],
                      True)
    if width[1]:
        if src:
            src += " "
        src += _window(text, slice(pii_pos[1], None).indices(n)[0], n,
                       width[1], False)
    return src


def context_check(text: str, spec: Dict,
                  pii_pos: Union[int, Tuple[int, int], List[int]]) -> bool:
    """Search the `context_window` around a PII position for any spec
    value."""
    src = context_window(text, spec["width"], pii_pos)
    if spec["regex"]:
        return any(c.search(src) for c in spec["value"])
    return any(c in src for c in spec["value"])
