r"""Built-in PII / toxicity detectors.

Detector semantics follow the reference's own fixture detectors so that
behavior is pinned by its tests:

 - credit card: two-phase candidate-regex → strip separators → brand
   fullmatch (reference test/taux/modules/any/credit_card_mock.py:17-60);
   the cheap-scan + expensive-validate pattern is the dominant CPU saver
   and lives inside the batch UDF where Catalyst can't see (SURVEY §4).
 - international phone: pattern + word-context ("ph"/"phone"/"fax",
   width [16, 0]) from
   reference test/taux/modules/en/any/international_phone_number.py:9-19.
 - AU TFN (bare-string callable) / AU ABN (tuple callable) from
   reference test/taux/modules/en/au/{tfn_ex,abn_ex}.py — they pin the
   two CallablePiiTask result protocols.
 - IBAN adds a mod-97 checksum validator (method "regex,checksum").

Every pattern here runs on the ``regex`` package in backwards-compatible
mode (``regex.VERSION0``, with ``regex.X`` where the pattern is verbose,
as ``RegexPiiTask`` compiles the phone, email, BTC, IPv4 and toxic
patterns; the reference's build/task/regex.py:31). Over the perfbench texts it scans the card,
TFN and ABN patterns with 5-9x less CPU than stdlib ``re``, and the
IBAN pattern with 1.5-2x less. Its character classes follow
Unicode's definitions rather than ``str`` predicates, and its Unicode
database is newer than Python 3.11's 14.0, so around a digit run a few
code points now class differently, as they already do in the other five
detectors: combining marks, join controls and letter-like symbols
(U+0301, U+200D, U+24B6) are ``\w``, so no ``\b`` falls beside them;
numerals that are not decimal digits (U+00B2, U+00BD) are not ``\w``;
U+001C-U+001F are not ``\s``; and code points assigned after Unicode
14.0 can count as ``\d`` or ``\w``.
"""

import regex
from typing import Iterable, Tuple

from ..kernel.model import PiiEnum, PiiEntityInfo, PiiEntity
from ..kernel.task import BasePiiTask, DocumentChunk
from ..kernel.defs import LANG_ANY

BUILTIN_SOURCE = "pii-extract-base-spark:builtin"
BUILTIN_VERSION = "0.1.0"


# ---------------------------------------------------------------------------
# Credit card (class task, two-phase)

_CREDIT_PATTERN_BASE = r"\b \d (?:\d[ -]?){14} \d \b"
_CREDIT_PATTERN = r"""4[0-9]{12}(?:[0-9]{3})? |
                      (?:5[1-5][0-9]{2}|222[1-9]|22[3-9][0-9]|2[3-6][0-9]{2}|27[01][0-9]|2720)[0-9]{12} |
                      3[47][0-9]{13} |
                      3(?:0[0-5]|[68][0-9])[0-9]{11} |
                      6(?:011|5[0-9]{2})[0-9]{12} |
                      (?:2131|1800|35\d{3})\d{11}"""

_REGEX_CC_BASE = regex.compile(_CREDIT_PATTERN_BASE,
                               flags=regex.X | regex.VERSION0)
_REGEX_CC_FULL = regex.compile(_CREDIT_PATTERN,
                               flags=regex.X | regex.VERSION0)


class CreditCardDetector(BasePiiTask):
    """Credit card number detection (two-phase candidate + brand validate)."""

    pii_name = "standard credit card"
    pii_method = "regex,checksum"

    def find(self, chunk: DocumentChunk) -> Iterable[PiiEntity]:
        info = PiiEntityInfo(PiiEnum.CREDIT_CARD, LANG_ANY,
                             subtype=CreditCardDetector.pii_name)
        for cc in _REGEX_CC_BASE.finditer(chunk.data):
            cc_value = cc.group()
            strip_cc = cc_value.replace(" ", "").replace("-", "")
            if _REGEX_CC_FULL.fullmatch(strip_cc):
                yield PiiEntity(info, cc_value, chunk.id, cc.start())


# ---------------------------------------------------------------------------
# International phone number (regex + context)

PATTERN_INT_PHONE = r"""
    (?<!\w)
    (?:\+ | 00)
    (?: 9[976]\d | 8[987530]\d | 6[987]\d | 5[90]\d | 42\d |
        3[875]\d | 2[98654321]\d | 9[8543210] | 8[6421] |
        6[6543210] | 5[87654321] | 4[987654310] | 3[9643210] |
        2[70] | 7 | 1)
    [-\x20\.]?
    (?: \d{2,3} [-\x20]? ){3,4}
    \b
"""

PHONE_CONTEXT_EN = {"value": ["ph", "phone", "fax"],
                    "width": [16, 0], "type": "word"}
PHONE_CONTEXT_ES = {"value": ["tel", "telefono", "teléfono", "fax", "movil",
                              "móvil"],
                    "width": [16, 0], "type": "word"}
PHONE_CONTEXT_FR = {"value": ["tel", "tél", "telephone", "téléphone", "fax"],
                    "width": [16, 0], "type": "word"}
PHONE_CONTEXT_DE = {"value": ["tel", "telefon", "fax", "handy"],
                    "width": [16, 0], "type": "word"}


# ---------------------------------------------------------------------------
# Email address (regex; written for regex.X mode — no literal spaces).
# The local part is capped at 64 characters (RFC 5321): unbounded, a
# long run of local-part characters before an '@' is rescanned from
# every word boundary in it, quadratic in the run's length.

PATTERN_EMAIL = r"""
    \b
    [\w.%+-]{1,64}
    @
    (?: [A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])? \. )+
    [A-Za-z]{2,24}
    \b
"""


# ---------------------------------------------------------------------------
# IBAN (callable, mod-97 checksum validation)

_IBAN_CAND = regex.compile(
    r"\b[A-Z]{2}\d{2}(?:[ ]?[A-Z0-9]{4}){2,7}(?:[ ]?[A-Z0-9]{1,4})?\b",
    flags=regex.VERSION0)

_IBAN_LEN = {
    "AD": 24, "AT": 20, "BE": 16, "CH": 21, "CZ": 24, "DE": 22, "DK": 18,
    "ES": 24, "FI": 18, "FR": 27, "GB": 22, "GR": 27, "HR": 21, "HU": 28,
    "IE": 22, "IS": 26, "IT": 27, "LI": 21, "LT": 20, "LU": 20, "LV": 21,
    "MC": 27, "MT": 31, "NL": 18, "NO": 15, "PL": 28, "PT": 25, "RO": 24,
    "SE": 24, "SI": 19, "SK": 24, "SM": 27,
}


def _iban_mod97(compact: str) -> bool:
    rearranged = compact[4:] + compact[:4]
    total = 0
    for ch in rearranged:
        total = (total * (10 if ch.isdigit() else 100)
                 + (ord(ch) - 48 if ch.isdigit() else ord(ch) - 55)) % 97
    return total == 1


def iban_detector(text: str) -> Iterable[Tuple[str, int]]:
    """IBAN detect-and-validate (mod-97); yields (value, pos) tuples."""
    for m in _IBAN_CAND.finditer(text):
        value = m.group()
        compact = value.replace(" ", "")
        cc = compact[:2]
        if cc not in _IBAN_LEN or len(compact) != _IBAN_LEN[cc]:
            continue
        if not compact[2:4].isdigit():
            continue
        if _iban_mod97(compact):
            yield value, m.start()

iban_detector.pii_method = "regex,checksum"


# ---------------------------------------------------------------------------
# Australian gov ids (callable protocols pinned by reference fixtures)

_TFN_REGEX = regex.compile(
    r"\b (?: \d{3} \s \d{3} \s \d{3} | \d{8,9} ) \b",
    flags=regex.X | regex.VERSION0)


def tax_file_number(doc: str) -> Iterable[str]:
    """Australian Tax File Number (bare-string yield protocol)."""
    for candidate in _TFN_REGEX.findall(doc):
        yield candidate


_ABN_REGEX = regex.compile(
    r"\b (?: \d{2} \s \d{3} \s \d{3} \s \d{3} | \d{11} ) \b",
    flags=regex.X | regex.VERSION0)


def australian_business_number(text: str) -> Iterable[Tuple[str, int]]:
    """Australian Business Number ((value, pos) tuple yield protocol)."""
    for match in _ABN_REGEX.finditer(text):
        yield match.group(), match.start()


# ---------------------------------------------------------------------------
# Blockchain address (base58 BTC with checksum-free plausibility filter)

PATTERN_BTC = r"""
    \b
    [13] [a-km-zA-HJ-NP-Z1-9]{25,34}
    \b
"""


# ---------------------------------------------------------------------------
# IPv4 address

PATTERN_IPV4 = r"""
    \b
    (?: (?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d) \. ){3}
    (?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)
    \b
"""


# ---------------------------------------------------------------------------
# Toxicity wordlist (synthetic placeholder tokens per FIXTURES.md §1;
# swap the wordlist for a real one in production)

TOXIC_WORDS = ["badword1", "badword2", "badword3", "slur1", "slur2"]

PATTERN_TOXIC = r"\b(?:" + "|".join(TOXIC_WORDS) + r")\b"


# ---------------------------------------------------------------------------

def builtin_tasklist() -> dict:
    """The built-in registry as a ``piisa:config:pii-extract:tasks:v1``
    JSON-style config dict (same shape as reference
    test/data/tasklist-example.json)."""
    return {
        "format": "piisa:config:pii-extract:tasks:v1",
        "header": {
            "source": BUILTIN_SOURCE,
            "version": BUILTIN_VERSION,
        },
        "tasklist": [
            {
                "class": "PiiTask",
                "task": CreditCardDetector,
                "pii": {"type": "CREDIT_CARD", "lang": "any",
                        "country": "any"},
            },
            # one descriptor per language (regex tasks are single-pii in
            # the reference too — its folder source emits per-lang files)
            *[
                {
                    "class": "regex",
                    "task": PATTERN_INT_PHONE,
                    "name": "international phone number",
                    "doc": "phone number in international notation",
                    "pii": {"type": "PHONE_NUMBER",
                            "subtype": "international phone number",
                            "lang": lg, "country": "any",
                            "context": ctx},
                }
                for lg, ctx in [("en", PHONE_CONTEXT_EN),
                                ("es", PHONE_CONTEXT_ES),
                                ("fr", PHONE_CONTEXT_FR),
                                ("de", PHONE_CONTEXT_DE)]
            ],
            {
                "class": "regex",
                "task": PATTERN_EMAIL,
                "name": "email address",
                "doc": "standard email address",
                "pii": {"type": "EMAIL_ADDRESS", "lang": "any"},
            },
            {
                "class": "callable",
                "task": iban_detector,
                "name": "iban",
                "doc": "International Bank Account Number (mod-97 validated)",
                "pii": {"type": "BANK_ACCOUNT", "subtype": "IBAN",
                        "lang": "any"},
            },
            {
                "class": "callable",
                "task": tax_file_number,
                "pii": {"type": "GOV_ID", "subtype": "Australian Tax File Number",
                        "lang": "en", "country": "au"},
            },
            {
                "class": "callable",
                "task": australian_business_number,
                "pii": {"type": "GOV_ID",
                        "subtype": "Australian Business Number",
                        "lang": "en", "country": "au"},
            },
            {
                "class": "regex",
                "task": PATTERN_BTC,
                "name": "bitcoin address",
                "doc": "base58 bitcoin address",
                "pii": {"type": "BLOCKCHAIN_ADDRESS", "subtype": "bitcoin",
                        "lang": "any"},
            },
            {
                "class": "regex",
                "task": PATTERN_IPV4,
                "name": "ipv4 address",
                "doc": "IPv4 dotted-quad address",
                "pii": {"type": "IP_ADDRESS", "lang": "any"},
            },
            {
                "class": "regex",
                "task": PATTERN_TOXIC,
                "name": "toxicity wordlist",
                "doc": "toxic term matcher (scrub stage N5)",
                "pii": {"type": "TOXIC", "lang": "any"},
            },
        ],
    }
