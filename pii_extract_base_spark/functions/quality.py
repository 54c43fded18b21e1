"""Gopher/C4-style heuristic quality rules (north-star stage N3).

The rule DEFINITIONS live here once, with three renderings:

 - `rules_python(text, lang)`  — pure-Python kernel: the pipeline runs
   it inside its one Arrow UDF (operators/detect.make_fused_udf), and
   the oracle runs it directly
 - `rules_columns()`           — native Spark SQL Column expressions,
   off the pipeline path (q11, perfbench); agrees with `rules_python`
   on ASCII-whitespace text (tests/test_pipeline_parity.py)
 - `rules_duckdb_sql()`        — ANSI/DuckDB SQL for the driver oracle

Thresholds follow Gopher (Rae et al. 2021, arXiv:2112.11446) and C4
(Raffel et al. 2020) adapted to the synthetic corpus scale.
"""

from typing import Dict

from .langdata import STOPWORDS

# ---- thresholds (single source of truth) -----------------------------------
MIN_WORDS = 15
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_FRAC = 0.10       # symbol chars / total chars
MAX_BULLET_FRAC = 0.90       # lines starting with a bullet
MAX_ELLIPSIS_FRAC = 0.30     # lines ending with ... or …
MAX_DUP_LINE_FRAC = 0.30     # 1 - distinct/nonempty lines
MIN_ALPHA_WORD_FRAC = 0.70   # words containing a letter
MIN_STOPWORD_HITS = 2        # distinct per-lang stopwords present

SYMBOL_CHARS = "#{}<>[]|\\^~"

RULE_NAMES = [
    "r_word_count", "r_mean_word_len", "r_symbol", "r_bullet",
    "r_ellipsis", "r_dup_lines", "r_brace", "r_alpha", "r_stopwords",
]

_BULLETS = ("-", "*", "•")


def _stopwords_for(lang: str):
    return STOPWORDS.get(lang, STOPWORDS["en"])


def rules_python(text: str, lang: str) -> Dict[str, bool]:
    """Pure-Python rendering — the keep/drop oracle."""
    text = text or ""
    words = text.split()
    wc = len(words)
    mean_wl = (sum(len(w) for w in words) / wc) if wc else 0.0
    n_chars = len(text)
    symbol_frac = (sum(text.count(c) for c in SYMBOL_CHARS) / n_chars
                   if n_chars else 0.0)
    lines = text.split("\n")
    n_lines = len(lines)
    bullet_frac = sum(
        1 for l in lines if l.lstrip()[:1] in _BULLETS) / n_lines
    ellipsis_frac = sum(
        1 for l in lines
        if l.rstrip().endswith("...") or l.rstrip().endswith("…")) / n_lines
    nonempty = [l for l in lines if l.strip()]
    dup_frac = (1.0 - len(set(nonempty)) / len(nonempty)) if nonempty else 0.0
    alpha_frac = (sum(1 for w in words if any(c.isalpha() for c in w)) / wc
                  if wc else 0.0)
    wl = set(w.lower() for w in words)
    stop_hits = sum(1 for s in _stopwords_for(lang) if s in wl)

    return {
        "r_word_count": MIN_WORDS <= wc <= MAX_WORDS,
        "r_mean_word_len": MIN_MEAN_WORD_LEN <= mean_wl <= MAX_MEAN_WORD_LEN,
        "r_symbol": symbol_frac <= MAX_SYMBOL_FRAC,
        "r_bullet": bullet_frac <= MAX_BULLET_FRAC,
        "r_ellipsis": ellipsis_frac <= MAX_ELLIPSIS_FRAC,
        "r_dup_lines": dup_frac <= MAX_DUP_LINE_FRAC,
        "r_brace": "{" not in text,
        "r_alpha": alpha_frac >= MIN_ALPHA_WORD_FRAC,
        "r_stopwords": stop_hits >= MIN_STOPWORD_HITS,
    }


# ---------------------------------------------------------------------------
# Spark rendering — native Column expressions, no UDF

def rules_columns(text_col: str = "text", lang_col: str = "lang"):
    """Return {rule_name: Column} of native Spark expressions.

    No Python UDF: `.explain` shows no BatchEvalPython for this stage
    (the array higher-order functions do run interpreted, outside
    WholeStageCodegen). Not on the QualityPipeline path, which runs
    `rules_python`. Words split on ASCII whitespace only (Java
    ``\\s``) and line trims strip spaces only (Spark ``trim``), where
    `rules_python` uses Python's Unicode-aware ``str.split``/``strip``:
    text with tabs around bullets, ellipses or blank lines, or with
    NBSP/NEL between words, can get different rule values here.
    """
    from pyspark.sql import functions as F

    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    wc = F.size(words)
    mean_wl = F.when(wc > 0,
                     F.aggregate(words, F.lit(0).cast("double"),
                                 lambda acc, w: acc + F.length(w)) / wc
                     ).otherwise(F.lit(0.0))
    n_chars = F.length(t)
    # count symbol chars by table-driven deletion (translate) — a regex
    # scan here costs more than every other rule combined
    symbol_cnt = n_chars - F.length(F.translate(t, SYMBOL_CHARS, ""))
    symbol_frac = F.when(n_chars > 0, symbol_cnt / n_chars).otherwise(0.0)

    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_cnt = F.size(F.filter(
        lines, lambda l: F.ltrim(l).substr(1, 1).isin(*_BULLETS)))
    bullet_frac = bullet_cnt / n_lines
    ellipsis_cnt = F.size(F.filter(
        lines, lambda l: (F.rtrim(l).endswith("...")
                          | F.rtrim(l).endswith("…"))))
    ellipsis_frac = ellipsis_cnt / n_lines

    nonempty = F.filter(lines, lambda l: F.trim(l) != "")
    n_nonempty = F.size(nonempty)
    dup_frac = F.when(
        n_nonempty > 0,
        1.0 - F.size(F.array_distinct(nonempty)) / n_nonempty
    ).otherwise(0.0)

    # "word contains a letter" via translate-delete, not per-word regex
    _LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    alpha_cnt = F.size(F.filter(
        words, lambda w: F.length(w) != F.length(F.translate(w, _LETTERS,
                                                             ""))))
    alpha_frac = F.when(wc > 0, alpha_cnt / wc).otherwise(0.0)

    words_lower = F.array_distinct(F.transform(words, F.lower))
    # per-language stopword list resolved natively via chained whens
    stop_hits = None
    default_list = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    expr = None
    for lg, sw in STOPWORDS.items():
        arr = F.array(*[F.lit(s) for s in sw])
        cnt = F.size(F.array_intersect(words_lower, arr))
        cond = F.col(lang_col) == lg
        expr = F.when(cond, cnt) if expr is None else expr.when(cond, cnt)
    stop_hits = expr.otherwise(
        F.size(F.array_intersect(words_lower, default_list)))

    return {
        "r_word_count": (wc >= MIN_WORDS) & (wc <= MAX_WORDS),
        "r_mean_word_len": (mean_wl >= MIN_MEAN_WORD_LEN)
                           & (mean_wl <= MAX_MEAN_WORD_LEN),
        "r_symbol": symbol_frac <= MAX_SYMBOL_FRAC,
        "r_bullet": bullet_frac <= MAX_BULLET_FRAC,
        "r_ellipsis": ellipsis_frac <= MAX_ELLIPSIS_FRAC,
        "r_dup_lines": dup_frac <= MAX_DUP_LINE_FRAC,
        "r_brace": ~t.contains("{"),
        "r_alpha": alpha_frac >= MIN_ALPHA_WORD_FRAC,
        "r_stopwords": stop_hits >= MIN_STOPWORD_HITS,
    }


def rules_struct_column(text_col: str = "text", lang_col: str = "lang"):
    """All rules packed into one struct column named per RULE_NAMES."""
    from pyspark.sql import functions as F
    cols = rules_columns(text_col, lang_col)
    return F.struct(*[cols[n].alias(n) for n in RULE_NAMES])


# ---------------------------------------------------------------------------
# DuckDB rendering — for the driver's CORRECTNESS oracle

def rules_duckdb_exprs(text_expr: str = "text",
                       lang_expr: str = "lang") -> Dict[str, str]:
    """DuckDB SQL snippets per rule, on a table with text/lang columns."""
    t = f"coalesce({text_expr}, '')"
    words = f"list_filter(string_split_regex({t}, '\\s+'), w -> w <> '')"
    wc = f"len({words})"
    mean_wl = (f"(case when {wc} > 0 then "
               f"list_sum(list_transform({words}, w -> length(w)))::DOUBLE "
               f"/ {wc} else 0.0 end)")
    n_chars = f"length({t})"
    symbol_cnt = (f"length(regexp_replace({t}, "
                  f"'[^#{{}}<>\\[\\]|\\\\^~]+', '', 'g'))")
    symbol_frac = (f"(case when {n_chars} > 0 then {symbol_cnt}::DOUBLE / "
                   f"{n_chars} else 0.0 end)")
    lines = f"string_split({t}, chr(10))"
    n_lines = f"len({lines})"
    bullet_frac = (f"(len(list_filter({lines}, l -> "
                   f"regexp_matches(ltrim(l), '^[-*•]')))::DOUBLE / {n_lines})")
    ellipsis_frac = (f"(len(list_filter({lines}, l -> "
                     f"regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::DOUBLE "
                     f"/ {n_lines})")
    nonempty = f"list_filter({lines}, l -> trim(l) <> '')"
    dup_frac = (f"(case when len({nonempty}) > 0 then 1.0 - "
                f"len(list_distinct({nonempty}))::DOUBLE / len({nonempty}) "
                f"else 0.0 end)")
    alpha_frac = (f"(case when {wc} > 0 then len(list_filter({words}, "
                  f"w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE / {wc} "
                  f"else 0.0 end)")
    words_lower = f"list_distinct(list_transform({words}, w -> lower(w)))"
    cases = []
    for lg, sw in STOPWORDS.items():
        arr = "[" + ", ".join(f"'{s}'" for s in sw) + "]"
        cases.append(
            f"when {lang_expr} = '{lg}' then "
            f"len(list_filter({arr}, s -> list_contains({words_lower}, s)))")
    arr_en = "[" + ", ".join(f"'{s}'" for s in STOPWORDS["en"]) + "]"
    stop_hits = ("(case " + " ".join(cases) +
                 f" else len(list_filter({arr_en}, s -> "
                 f"list_contains({words_lower}, s))) end)")

    return {
        "r_word_count": f"({wc} >= {MIN_WORDS} AND {wc} <= {MAX_WORDS})",
        "r_mean_word_len": f"({mean_wl} >= {MIN_MEAN_WORD_LEN} AND "
                           f"{mean_wl} <= {MAX_MEAN_WORD_LEN})",
        "r_symbol": f"({symbol_frac} <= {MAX_SYMBOL_FRAC})",
        "r_bullet": f"({bullet_frac} <= {MAX_BULLET_FRAC})",
        "r_ellipsis": f"({ellipsis_frac} <= {MAX_ELLIPSIS_FRAC})",
        "r_dup_lines": f"({dup_frac} <= {MAX_DUP_LINE_FRAC})",
        "r_brace": f"(strpos({t}, '{{') = 0)",
        "r_alpha": f"({alpha_frac} >= {MIN_ALPHA_WORD_FRAC})",
        "r_stopwords": f"({stop_hits} >= {MIN_STOPWORD_HITS})",
    }


# ---------------------------------------------------------------------------
# Repetition signals (Gopher §A1.1 "repetitious text" measures)

def repetition_signals(df, text_col: str = "text",
                       id_col: str = "doc_id", ns=(2, 3)):
    """Per-document word-n-gram repetition signals (Gopher, Rae et al.
    2021 §A1.1): for each n in ``ns``,

     - ``top{n}_frac``  — occurrences of the MOST FREQUENT n-gram as a
       fraction of all n-gram occurrences
     - ``dup{n}_frac``  — occurrences of n-grams appearing MORE THAN
       ONCE as a fraction of all occurrences
     - ``n{n}``         — total n-gram occurrences

    These complement the line-level `r_dup_lines` rule: boilerplate
    with shuffled line order (keyword-stuffed pages, templated specs)
    repeats n-grams without repeating lines.

    Plan shape per n: ONE explode of the gram array, then two stacked
    map-side-combinable hash aggregations — (id, gram) counts, then
    per-id sums/max. Only exploded gram rows shuffle (never document
    text), and there is no window. Documents shorter than max(ns)
    words carry no signal and are dropped by the inner join
    (quality-rule MIN_WORDS already discards them upstream).
    """
    from pyspark.sql import functions as F
    from .textstats import ngrams

    out = None
    for n in ns:
        per_gram = (df.select(F.col(id_col),
                              F.explode(ngrams(text_col, n)).alias("g"))
                      .groupBy(id_col, "g")
                      .agg(F.count("*").alias("c")))
        sig = (per_gram.groupBy(id_col)
               .agg(F.sum("c").alias(f"n{n}"),
                    F.max("c").alias("_top"),
                    F.sum(F.when(F.col("c") > 1, F.col("c"))
                           .otherwise(F.lit(0))).alias("_dup"))
               .select(
                   id_col,
                   F.col(f"n{n}"),
                   F.round(F.col("_top").cast("double") / F.col(f"n{n}"),
                           6).alias(f"top{n}_frac"),
                   F.round(F.col("_dup").cast("double") / F.col(f"n{n}"),
                           6).alias(f"dup{n}_frac")))
        out = sig if out is None else out.join(sig, id_col)
    return out
