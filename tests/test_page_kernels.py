"""The page kernels of `operators.detect.page_result` are exact rewrites
that cost time linear in page length, span count and word count: the
bounded context window equals the full-normalize window, the one-pass
scrub equals the right-to-left splice, the per-distinct-word rules equal
the per-token ones, and the entity records equal those built from
``PiiEntity.asdict``. The phone-with-context and scrub kernels cost at
most 3x at twice the input (a quadratic one costs 4x)."""

import gc
import random
import time

import pytest

from pii_extract_base_spark.functions.quality import (
    MIN_ALPHA_WORD_FRAC, MIN_STOPWORD_HITS, _stopwords_for, rules_python)
from pii_extract_base_spark.kernel.context import context_window
from pii_extract_base_spark.kernel.model import PiiCollectionBuilder
from pii_extract_base_spark.kernel.normalizer import normalize
from pii_extract_base_spark.kernel.scrub import resolve_spans, scrub_text
from pii_extract_base_spark.kernel.task import DocumentChunk, RegexPiiTask
from pii_extract_base_spark.operators.detect import (
    detect_entities, get_processor)
from pii_extract_base_spark.pipeline import DEFAULT_LANGUAGES
from pii_extract_base_spark.registry import detectors as D

# whitespace str.split() splits on, and the non-whitespace around it
WS = " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u2003\u3000"
ALPHABET = WS * 3 + "abcXY09.-@+\xe9\u200b"


def _cpu_s(fn, arg, repeat=3):
    """The best CPU time of ``fn(arg)`` with the garbage collector off:
    a collection walks the whole test process's heap, a cost that does
    not depend on the kernel."""
    best = float("inf")
    gc.disable()
    try:
        for _ in range(repeat):
            t = time.process_time()
            fn(arg)
            best = min(best, time.process_time() - t)
    finally:
        gc.enable()
    return best


# ---------------------------------------------------------------------------
# context: bounded windows equal full-normalize windows

def _full_window(text, width, pos):
    """The window as the reference builds it, normalizing the whole
    text on each side of the span."""
    src = ""
    if width[0]:
        src1 = normalize(text[:pos[0]], whitespace=True)
        src = src1[max(len(src1) - width[0], 0):]
    if width[1]:
        if src:
            src += " "
        src += normalize(text[pos[1]:], whitespace=True)[:width[1]]
    return src


def test_bounded_window_equals_full_normalize_window():
    rng = random.Random(20261019)
    checked = 0
    for _ in range(300):
        n = rng.randrange(0, 160)
        text = "".join(rng.choice(ALPHABET) for _ in range(n))
        for _ in range(6):
            a = rng.choice([0, n, rng.randrange(0, n + 1)])
            b = rng.choice([a, n, rng.randrange(a, n + 1)])
            for width in [(0, 0), (0, 5), (7, 0), (1, 1), (16, 0),
                          (rng.randrange(0, 40), rng.randrange(0, 40)),
                          (200, 200)]:
                assert context_window(text, width, [a, b]) == \
                    _full_window(text, width, [a, b]), (text, width, a, b)
                checked += 1
    assert checked == 300 * 6 * 7


def test_bounded_window_on_long_whitespace_runs():
    """A window that must reach across runs longer than its first
    slice still finds the same characters."""
    text = "ab" + "\t\xa0\x85 " * 500 + "cd" + "\x1c" * 300 + "ef"
    for p in (0, 1, 2, 1000, 2002, 2003, 2304, len(text)):
        for width in [(1, 1), (3, 3), (5, 5), (64, 64)]:
            assert context_window(text, width, p) == \
                _full_window(text, width, (p, p))


PHONE = RegexPiiTask(D.PATTERN_INT_PHONE,
                     pii={"type": "PHONE_NUMBER", "lang": "en",
                          "context": D.PHONE_CONTEXT_EN})


def _dense_phones(n_bytes):
    """A page with no newline and a phone with its context every ~100
    bytes."""
    unit = ("for orders and returns call the shop on phone +44 20 7946 "
            "{:04d} between nine and five each day. ")
    return "".join(unit.format(i % 10_000)
                   for i in range(n_bytes // len(unit.format(0))))


def test_phone_context_is_linear_in_page_length():
    def detect(text):
        return list(PHONE(DocumentChunk(0, text)))
    page = _dense_phones(500_000)
    assert len(detect(page)) == page.count(" phone ")
    t1 = _cpu_s(detect, page)
    t2 = _cpu_s(detect, _dense_phones(1_000_000))
    assert t2 <= 3 * t1, (t1, t2)


# ---------------------------------------------------------------------------
# scrub: one left-to-right join

def _splice(text, spans):
    """The scrub as a right-to-left splice of the resolved spans."""
    for start, end, typ in reversed(resolve_spans(spans)):
        text = text[:start] + "<" + typ + ">" + text[end:]
    return text


def test_scrub_join_equals_right_to_left_splice():
    rng = random.Random(7)
    for _ in range(2000):
        n = rng.randrange(0, 40)
        text = "".join(rng.choice("abc \n") for _ in range(n))
        spans = []
        for _ in range(rng.randrange(0, 8)):
            a = rng.randrange(0, n + 1)
            spans.append((a, rng.randrange(a, n + 1), rng.choice("XYZ")))
        if spans and rng.random() < 0.3:
            spans.append(spans[0][:2] + ("W",))    # equal span, new type
        assert scrub_text(text, spans) == _splice(text, spans), spans


@pytest.mark.parametrize("span", [(-1, 2, "X"), (3, 2, "X"), (0, 7, "X")],
                         ids=["negative_start", "end_before_start",
                              "end_past_text"])
def test_scrub_rejects_spans_outside_text(span):
    with pytest.raises(ValueError, match="outside a text of length 6"):
        scrub_text("abcdef", [(4, 5, "Y"), span])


def _spans(n):
    """n non-overlapping spans, one every 100 bytes of a text."""
    return "x" * (100 * n), [(100 * i + 10, 100 * i + 30, "PHONE_NUMBER")
                             for i in range(n)]


def test_scrub_is_linear_in_span_count():
    def scrub10(args):          # ten calls: one takes a few ms
        for _ in range(10):
            scrub_text(*args)
    t1 = _cpu_s(scrub10, _spans(8_000), repeat=5)
    t2 = _cpu_s(scrub10, _spans(16_000), repeat=5)
    assert t2 <= 3 * t1, (t1, t2)


# ---------------------------------------------------------------------------
# rules and entity records

def test_per_distinct_word_rules_equal_per_token_rules():
    rng = random.Random(11)
    vocab = ["the", "and", "The", "ÉTÉ", "42", "4x", "--", "...", "of",
             "to", "a1", "é", "__", "de", "la", "und", "der"]
    for _ in range(500):
        words = [rng.choice(vocab) for _ in range(rng.randrange(0, 60))]
        text = "".join(w + rng.choice(WS) for w in words)
        lang = rng.choice(["en", "fr", "de", "es", "xx"])
        got = rules_python(text, lang)
        toks = text.split()
        alpha = (sum(1 for w in toks if any(c.isalpha() for c in w))
                 / len(toks) if toks else 0.0)
        lower = {w.lower() for w in toks}
        hits = sum(1 for s in _stopwords_for(lang) if s in lower)
        assert got["r_alpha"] == (alpha >= MIN_ALPHA_WORD_FRAC)
        assert got["r_stopwords"] == (hits >= MIN_STOPWORD_HITS)


def test_entity_records_equal_asdict_records():
    proc = get_processor(tuple(DEFAULT_LANGUAGES))
    text = ("phone +44 20 7946 0000, mail a.b@example.com, card 4111 1111 "
            "1111 1111, ip 10.0.0.1, badword1 and 1BoatSLRHtKNngkdXEeobR76b"
            "53LETtpyT")
    piic = PiiCollectionBuilder(lang="en", docid="d")
    proc.detect_chunk(DocumentChunk(id="0", data=text), piic,
                      default_lang="en")
    want = []
    for p in piic:
        d = p.asdict()
        want.append({
            "type": d["type"], "subtype": d.get("subtype"),
            "value": d["value"], "start": d["start"], "end": d["end"],
            "lang": d.get("lang"), "country": d.get("country"),
            "detector": d["detector"],
            "method": piic.get_detector(d["detector"]).method,
            "stage": d.get("process", {}).get("stage")})
    got = detect_entities(proc, DocumentChunk(id="0", data=text), "en", "d")
    assert len(got) >= 5
    assert got == want
