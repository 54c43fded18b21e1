"""QualityPipeline — the full web-text quality flow (BASELINE.json
north_rule): language ID → perplexity → heuristic rules → PII/toxicity
detect + scrub → keep/drop, as one declarative DataFrame plan.

Physical shape (SURVEY.md §3.4):

  scan (parquet/Iceberg; prune lang partitions when present)
    → [optional] repartition(N, url)   # spread over N tasks (N9)
    → one struct [Arrow UDF: langid+ppl, rules, detect, scrub,
                  keep + reasons; ships only text/lang/url]
    → select the struct's fields as columns

Exactly one Python crossing per row, running the same row function
(operators/detect.page_result) as the pure-Python oracle (oracle.py),
so the two agree by construction; no native expression decides.
Batch, the checkpointed sink, the CLI and the streaming variant all
apply this one plan. Everything else is Catalyst's problem — and it
solves it (predicate pushdown, column pruning; see
tests/test_explain_plan.py).
"""

from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from .operators.detect import make_fused_udf
from .partitioning import salted_repartition

DEFAULT_LANGUAGES = ("en", "es", "fr", "de")


class QualityPipeline:
    """Configure once on the driver; apply to any pages DataFrame.

    All of a row's work — langid+ppl, the quality rules, detect, scrub
    and keep/reasons — runs in ONE Arrow crossing (operators/detect.
    make_fused_udf, mapping page_result over each batch).
    """

    def __init__(self, languages: Iterable[str] = DEFAULT_LANGUAGES,
                 config_json: Optional[str] = None,
                 salt_partitions: Optional[int] = None):
        self.languages = tuple(languages)
        self.config_json = config_json
        self.salt_partitions = salt_partitions
        self._fused_udf = make_fused_udf(self.languages, config_json)

    def __call__(self, pages: DataFrame) -> DataFrame:
        df = pages
        if self.salt_partitions:
            df = salted_repartition(df, "url", self.salt_partitions)
        df = df.withColumn("sd", self._fused_udf(
            F.col("text"), F.col("lang"), F.col("url")))
        return df.select("url", "warc_ts", "lang", "text", "sd.*")

    def entities(self, pages: DataFrame) -> DataFrame:
        """Exploded PiiCollection replay (FIXTURES.md §3.1)."""
        return explode_entities(self(pages))


def explode_entities(out: DataFrame) -> DataFrame:
    """A pipeline output's entities, one row each: url, e.*."""
    return (out.select("url", F.explode("entities").alias("e"))
               .select("url", "e.*"))
