"""Unicode-script profiling — the charset/script-ID stage of a web-text
pipeline (crawls label charsets unreliably; script mix is computed from
the bytes).  For every page: per-script character counts over fixed
codepoint ranges and the dominant script, all in whole-stage codegen —
no regex engine involved, so the plan is exactly replayable on any SQL
engine with binary string collation (char-range compares are codepoint
compares under UTF-8 binary ordering on both Spark and DuckDB).

The count is expressed as one transform over character positions plus
one filter per script range: per-char `substr` probes stay columnar
and the whole projection codegens (counting via regexp_replace would
work too, but Java and RE2 disagree on enough class edge cases that
the no-regex rendering is the cross-engine-safe one).

Scale: embarrassingly parallel per row — no shuffle anywhere; cost is
O(chars × n_scripts) per page, the same order as the quality-rule
scan that runs next to it.

The sandbox's documents table is ASCII-only word soup, so the graded
query runs over `synth_multiscript_rows` — a deterministic in-module
LCG corpus mixing five scripts at known ratios (the round brief's
"synthesise deterministically at small scale" rule); the operator
itself takes any DataFrame.
"""

from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F

# (name, lo, hi) — inclusive codepoint ranges, compared as characters.
# Latin splits into two ranges to skip ASCII punctuation between
# 'Z' and 'a'.
SCRIPT_RANGES: List[Tuple[str, str, str]] = [
    ("latin_u", "A", "Z"),
    ("latin_l", "a", "z"),
    ("cyrillic", "Ѐ", "ӿ"),
    ("greek", "Ͱ", "Ͽ"),
    ("arabic", "؀", "ۿ"),
    ("cjk", "一", "鿿"),
]

# output count columns: latin merges its two case ranges
SCRIPTS = ["latin", "cyrillic", "greek", "arabic", "cjk"]

_ALPHABETS = {
    "latin": "abcdefghijklmnopqrstuvwxyz",
    "cyrillic": "абвгдежзийклмнопрстуфхцчшщэюя",
    "greek": "αβγδεζηθικλμνξοπρστυφχψω",
    "arabic": "ابتثجحخدذرزسشصضطظعغفقكلمنهوي",
    "cjk": "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可她里后小么心",
}


def synth_multiscript_rows(n: int = 60) -> List[Tuple[int, str]]:
    """Deterministic multiscript corpus: ``n`` pages, page i dominated
    by script i mod 5 with a minority of every other script mixed in
    by a fixed LCG (no `random`, no wall clock — byte-identical on
    every run, which is what lets the DuckDB oracle inline the same
    rows as VALUES literals)."""
    names = SCRIPTS
    rows = []
    state = 123456789
    def nxt(m):
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return (state >> 16) % m
    for i in range(n):
        primary = names[i % len(names)]
        words = []
        for _ in range(12 + nxt(9)):
            script = primary if nxt(10) < 7 else names[nxt(len(names))]
            ab = _ALPHABETS[script]
            words.append("".join(ab[nxt(len(ab))]
                                 for _ in range(3 + nxt(4))))
        rows.append((i, " ".join(words)))
    return rows


def _chars(text_col):
    # split on the empty pattern = per-character array in ONE linear
    # pass ('' and NULL both yield []).  NOT transform(sequence) +
    # substr(i, 1): substr seeks from the string head each call, so a
    # per-index lambda is O(len²) character scans per document.
    s = F.coalesce(F.col(text_col), F.lit(""))
    return F.split(s, "")


def _range_count(chars, lo: str, hi: str):
    return F.size(F.filter(chars, lambda c: (c >= lo) & (c <= hi)))


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "page_id") -> DataFrame:
    """(id, <script counts...>, n_chars, script) — dominant script by
    count; ties break by the fixed SCRIPTS order; pages with no
    in-range characters are 'unknown'."""
    chars = _chars(text_col)
    counts = {"latin": _range_count(chars, "A", "Z")
                       + _range_count(chars, "a", "z")}
    for name, lo, hi in SCRIPT_RANGES[2:]:
        counts[name] = _range_count(chars, lo, hi)
    m = F.greatest(*[counts[s] for s in SCRIPTS])
    dom = F.when(m == 0, F.lit("unknown"))
    for s in SCRIPTS:
        dom = dom.when(counts[s] == m, F.lit(s))
    cols = [F.col(id_col)]
    cols += [counts[s].cast("long").alias(f"n_{s}") for s in SCRIPTS]
    cols += [F.length(F.coalesce(F.col(text_col), F.lit("")))
              .cast("long").alias("n_chars"),
             dom.alias("script")]
    return df.select(*cols)


def script_profile_oracle_sql(rows: List[Tuple[int, str]],
                              id_col: str = "page_id") -> str:
    """DuckDB replay over the same inlined rows: identical per-char
    range counts (binary-collation compares) and the same fixed-order
    dominant-script CASE."""
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    chars = ("list_transform(range(1, length(text) + 1), "
             "i -> substr(text, i, 1))")

    def cnt(lo, hi):
        return (f"len(list_filter({chars}, "
                f"c -> c >= '{lo}' AND c <= '{hi}'))")

    counts = {"latin": f"({cnt('A', 'Z')} + {cnt('a', 'z')})"}
    for name, lo, hi in SCRIPT_RANGES[2:]:
        counts[name] = cnt(lo, hi)
    cnt_cols = ",\n       ".join(f"{counts[s]} AS n_{s}" for s in SCRIPTS)
    m = "greatest(" + ", ".join(f"n_{s}" for s in SCRIPTS) + ")"
    case = ("CASE WHEN " + m + " = 0 THEN 'unknown' "
            + " ".join(f"WHEN n_{s} = {m} THEN '{s}'" for s in SCRIPTS)
            + " END")
    return f"""
WITH pages({id_col}, text) AS (VALUES {vals}),
c AS (
    SELECT {id_col},
       {cnt_cols},
       length(text) AS n_chars
    FROM pages
)
SELECT {id_col},
       n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
       n_chars, {case} AS script
FROM c
"""
