"""keep/drop decision (north-star N7): conjunction of language agreement,
language confidence, perplexity band, and all hard quality rules, with
reason codes. `decide_python` is the decision: the pipeline's fused UDF
and the oracle both call it through operators/detect.page_result.
`decision_columns`, the native rendering, is off the pipeline path and
kept for the perfbench `functions.quality` probe; it differs on a NULL
`lang`, where its `!=` yields NULL and emits no `lang_mismatch`."""

from typing import Dict, List

from .quality import RULE_NAMES

LANG_CONF_TAU = 0.35     # clean-corpus min conf measured ≈0.54; soup ≈0.26
MAX_LOGPPL = 9.0         # clean ≤ ~7.1; short ≈11.7; soup ≈21 (log2/token)

# reason codes, in emission order (rules first, then score-based)
SCORE_REASONS = ["lang_mismatch", "lang_conf", "ppl"]


def decide_python(rules: Dict[str, bool], lang: str, lang_pred: str,
                  lang_conf: float, logppl: float) -> (bool, List[str]):
    reasons = [n for n in RULE_NAMES if not rules[n]]
    if lang_pred != lang:
        reasons.append("lang_mismatch")
    if lang_conf < LANG_CONF_TAU:
        reasons.append("lang_conf")
    if logppl > MAX_LOGPPL:
        reasons.append("ppl")
    return len(reasons) == 0, reasons


def decision_columns(rules_col: str = "rules", lang_col: str = "lang",
                     score_col: str = "score"):
    """Native Spark rendering (off the pipeline path):
    (keep Column, reasons Column)."""
    from pyspark.sql import functions as F

    items = [F.when(~F.col(f"{rules_col}.{n}"), F.lit(n))
             for n in RULE_NAMES]
    items.append(F.when(F.col(f"{score_col}.lang_pred") != F.col(lang_col),
                        F.lit("lang_mismatch")))
    items.append(F.when(F.col(f"{score_col}.lang_conf") < LANG_CONF_TAU,
                        F.lit("lang_conf")))
    items.append(F.when(F.col(f"{score_col}.logppl") > MAX_LOGPPL,
                        F.lit("ppl")))
    reasons = F.array_compact(F.array(*items))
    keep = F.size(reasons) == 0
    return keep, reasons
