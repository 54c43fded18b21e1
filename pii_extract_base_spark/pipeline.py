"""QualityPipeline — the full web-text quality flow (BASELINE.json
north_rule): language ID → perplexity → heuristic rules → PII/toxicity
detect + scrub → keep/drop, as one declarative DataFrame plan.

Physical shape (SURVEY.md §3.4):

  scan (parquet/Iceberg; prune lang partitions when present)
    → [optional] repartition(N, salted url hash)    # skew mitigation (N9)
    → one struct [Arrow UDF: langid+ppl, rules, detect, scrub;
                  ships only text/lang/url]
    → keep + reasons [native SQL over the struct's fields]

Exactly one Python crossing per row, running the same kernels as the
pure-Python oracle (oracle.py), so the two agree by construction.
Batch, the checkpointed sink, the CLI and the streaming variant all
apply this one plan. Everything else is Catalyst's problem — and it
solves it (predicate pushdown, column pruning; see
tests/test_explain_plan.py).
"""

from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from .functions.decision import decision_columns
from .operators.detect import make_fused_udf
from .partitioning import salted_repartition

DEFAULT_LANGUAGES = ("en", "es", "fr", "de")

OUTPUT_COLUMNS = [
    "url", "warc_ts", "lang", "text", "lang_pred", "lang_conf", "logppl",
    "rules", "entities", "n_entities", "scrubbed_text", "keep", "reasons",
]


class QualityPipeline:
    """Configure once on the driver; apply to any pages DataFrame.

    All Python work of a row — langid+ppl, the quality rules, detect
    and scrub — runs in ONE Arrow crossing (operators/detect.
    make_fused_udf); only keep/reasons are native expressions.
    """

    def __init__(self, languages: Iterable[str] = DEFAULT_LANGUAGES,
                 config_json: Optional[str] = None,
                 salt_partitions: Optional[int] = None,
                 from_html: bool = False):
        self.languages = tuple(languages)
        self.config_json = config_json
        self.salt_partitions = salt_partitions
        self.from_html = from_html
        self._fused_udf = make_fused_udf(self.languages, config_json)

    def __call__(self, pages: DataFrame) -> DataFrame:
        df = pages
        if self.from_html:
            # shared ingestion backfill (functions/htmlextract —
            # codegen, no UDF; NULL-text rows only, see its docstring)
            from .functions.htmlextract import backfill_text_from_html
            df = backfill_text_from_html(df)
        if self.salt_partitions:
            df = salted_repartition(df, "url", self.salt_partitions)

        df = df.withColumn("sd", self._fused_udf(
            F.col("text"), F.col("lang"), F.col("url")))
        keep, reasons = decision_columns("sd.rules", "lang", "sd")
        sd = F.col("sd")
        return df.select(
            "url", "warc_ts", "lang", "text",
            *[sd.getField(c).alias(c) for c in (
                "lang_pred", "lang_conf", "logppl", "rules", "entities",
                "n_entities", "scrubbed_text")],
            keep.alias("keep"), reasons.alias("reasons"))

    def kept(self, pages: DataFrame) -> DataFrame:
        return self(pages).where(F.col("keep"))

    def entities(self, pages: DataFrame) -> DataFrame:
        """Exploded PiiCollection replay (FIXTURES.md §3.1)."""
        out = self(pages)
        e = F.explode("entities").alias("e")
        return (out.select("url", e)
                .select("url", "e.type", "e.subtype", "e.value", "e.start",
                        "e.end", "e.lang", "e.country", "e.detector",
                        "e.method", "e.stage"))
