"""The credit card, IBAN, AU TFN and AU ABN detectors run on the ``regex``
engine, as the other five do. The swap keeps every match: over a seeded
fuzz corpus each pattern finds the same (start, value) list as the same
text compiled with stdlib ``re``, apart from the Unicode classing the
detectors' docstring names. Each detector, the phone, BTC, IPv4 and
toxic wordlist patterns too, is linear in page length on its own
adversarial family."""

import random
import re
import time

import pytest

from pii_extract_base_spark.kernel.task import DocumentChunk, RegexPiiTask
from pii_extract_base_spark.registry import detectors as D

CC = D.CreditCardDetector(pii={"type": "CREDIT_CARD", "lang": "any"})

# (name, the module's compiled pattern, the stdlib flags of the old one)
PATTERNS = [
    ("cc", D._REGEX_CC_BASE, re.X),
    ("iban", D._IBAN_CAND, 0),
    ("tfn", D._TFN_REGEX, re.X),
    ("abn", D._ABN_REGEX, re.X),
]


def _spans(pattern, text):
    return [(m.start(), m.group()) for m in pattern.finditer(text)]


def _cc_values(text):
    return [(e.pos, e.value) for e in CC.find(DocumentChunk(0, text))]


_RE_CC_BASE = re.compile(D._CREDIT_PATTERN_BASE, re.X)
_RE_CC_FULL = re.compile(D._CREDIT_PATTERN, re.X)


def _cc_values_re(text):
    """The credit card detector as it ran on stdlib ``re``."""
    return [(m.start(), m.group()) for m in _RE_CC_BASE.finditer(text)
            if re.fullmatch(_RE_CC_FULL, re.sub(r"[ -]+", "", m.group()))]


# ---------------------------------------------------------------------------
# the differential fuzz

NOISE = ("0123456789" * 3 + "   --\t\xa0_" + "abcXYZ" * 2
         + "٠١٥٩" + "０１５９")


def _digits(rng, n):
    return "".join(rng.choice("0123456789") for _ in range(n))


def _grouped(value, sizes, rng):
    sep = rng.choice(["", " ", "-", "\t", "\xa0"])
    out, i = [], 0
    for n in sizes:
        out.append(value[i:i + n])
        i += n
    return sep.join(out)


def _iban(rng):
    cc, n = rng.choice([("DE", 22), ("GB", 22), ("FR", 27), ("NL", 18),
                        ("NO", 15), ("MT", 31)])
    bban = "".join(rng.choice("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                   for _ in range(n - 4))
    num = int("".join(str(int(c, 36)) for c in bban + cc + "00"))
    compact = f"{cc}{98 - num % 97:02d}{bban}"
    assert D._iban_mod97(compact)
    if rng.random() < 0.5:
        return compact
    return " ".join(compact[i:i + 4] for i in range(0, len(compact), 4))


def _value(rng):
    kind = rng.randrange(4)
    if kind == 0:
        brand = rng.choice(["4", "51", "6011", "35"])
        return _grouped(brand + _digits(rng, 16 - len(brand)),
                        [4, 4, 4, 4], rng)
    if kind == 1:
        return _iban(rng)
    if kind == 2:
        return _grouped(_digits(rng, 9), [3, 3, 3], rng)
    return _grouped(_digits(rng, 11), [2, 3, 3, 3], rng)


def _corpus(n=4000, seed=20261019):
    rng = random.Random(seed)
    texts = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randrange(1, 5)):
            parts.append("".join(rng.choice(NOISE)
                                 for _ in range(rng.randrange(0, 24))))
            if rng.random() < 0.6:
                parts.append(_value(rng))
        texts.append("".join(parts))
    return texts


def test_fuzz_corpus_holds_every_detector_s_values():
    """The corpus is not vacuous: every pattern matches in it, and the
    card and IBAN validators accept some of its values."""
    texts = _corpus()
    for name, pattern, _ in PATTERNS:
        assert sum(bool(_spans(pattern, t)) for t in texts) > 100, name
    assert sum(bool(_cc_values(t)) for t in texts) > 25
    assert sum(bool(list(D.iban_detector(t))) for t in texts) > 25


@pytest.mark.parametrize("name,pattern,flags", PATTERNS,
                         ids=[p[0] for p in PATTERNS])
def test_regex_engine_matches_as_stdlib_re_did(name, pattern, flags):
    old = re.compile(pattern.pattern, flags)
    for text in _corpus():
        assert _spans(pattern, text) == _spans(old, text), text


def test_credit_card_validation_is_unchanged():
    for text in _corpus():
        assert _cc_values(text) == _cc_values_re(text), text


def test_unicode_classing_differences_are_the_documented_ones():
    """Where ``regex``'s Unicode classes differ from ``re``'s: a combining
    mark is a word character (no \\b beside it), a superscript digit is
    not, and U+001C-U+001F are not whitespace."""
    tfn = re.compile(D._TFN_REGEX.pattern, re.X)
    for text, before, after in [
        ("\u0301123456789", ["123456789"], []),
        ("\u00b2123456789", [], ["123456789"]),
        ("123\x1c456\x1c789", ["123\x1c456\x1c789"], []),
    ]:
        assert tfn.findall(text) == before
        assert list(D.tax_file_number(text)) == after


# ---------------------------------------------------------------------------
# linear time, each on its own adversarial family

def _cpu_s(fn, text, repeat=3):
    best = float("inf")
    for _ in range(repeat):
        t = time.process_time()
        fn(text)
        best = min(best, time.process_time() - t)
    return best


def _regex_task(pattern, pii_type):
    """A pattern's matches as ``RegexPiiTask`` finds them."""
    task = RegexPiiTask(pattern, pii={"type": pii_type, "lang": "any"})
    return lambda t: list(task.find(DocumentChunk(0, t)))


FAMILIES = [
    ("cc", _cc_values, lambda n: "7" * n),
    ("tfn", lambda t: list(D.tax_file_number(t)),
     lambda n: "123 " * (n // 4)),
    ("abn", lambda t: list(D.australian_business_number(t)),
     lambda n: "123 " * (n // 4)),
    ("iban", lambda t: list(D.iban_detector(t)),
     lambda n: "XX00" + "AB12CD" * (n // 6)),
    # each unit is a near-match that fails at its last \b, after the
    # pattern's repeats have backtracked through every split
    ("phone", _regex_task(D.PATTERN_INT_PHONE, "PHONE_NUMBER"),
     lambda n: " +44 12 34 56x" * (n // 14)),
    ("btc", _regex_task(D.PATTERN_BTC, "BLOCKCHAIN_ADDRESS"),
     lambda n: ("1" + "a" * 39 + " ") * (n // 41)),
    ("ipv4", _regex_task(D.PATTERN_IPV4, "IP_ADDRESS"),
     lambda n: "255.255.255.2555 " * (n // 17)),
    ("toxic", _regex_task(D.PATTERN_TOXIC, "TOXIC"),
     lambda n: "badword1x " * (n // 10)),
]


@pytest.mark.parametrize("name,detect,family", FAMILIES,
                         ids=[f[0] for f in FAMILIES])
def test_detector_is_linear_in_page_length(name, detect, family):
    """At twice the length a detector costs at most 3x as much (a
    quadratic one costs 4x)."""
    n = 1_000_000
    t1 = _cpu_s(detect, family(n))
    t2 = _cpu_s(detect, family(2 * n))
    assert t2 <= 3 * t1, (t1, t2)
