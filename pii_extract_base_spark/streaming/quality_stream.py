"""Structured Streaming variant of the quality pipeline.

The north rule is a batch job (SURVEY.md §2.4: checkpoint/resume covers
recovery), but QualityPipeline's plan — one pandas UDF plus native
decision expressions — is execution-mode agnostic, so the stream
applies the very same plan. This module wires:

  file-source stream of pages parquet
    → QualityPipeline (the batch plan, unchanged)
    → watermarked 1-minute windowed keep/entity counts
    → sink (memory/parquet), with checkpointLocation for exactly-once

Use trigger(availableNow=True) for deterministic drain-the-source runs
(how tests/test_operators_extra.py exercises it).
"""

from pyspark.sql import DataFrame, functions as F

from ..pipeline import DEFAULT_LANGUAGES, QualityPipeline
from ..sources.pages import PAGES_SCHEMA


def stream_pages(spark, input_dir: str) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .parquet(input_dir))


def apply_pipeline_stream(pages: DataFrame,
                          languages=DEFAULT_LANGUAGES) -> DataFrame:
    """QualityPipeline over a streaming (or batch) DF, narrowed to the
    columns the windowed aggregation and sinks use."""
    return (QualityPipeline(languages)(pages)
            .select("url", "warc_ts", "lang", "n_entities",
                    "scrubbed_text", "keep"))


def windowed_keep_counts(scored: DataFrame,
                         watermark: str = "10 minutes",
                         window: str = "1 minute") -> DataFrame:
    """Watermarked tumbling-window aggregation (late rows beyond the
    watermark are dropped; state is bounded)."""
    return (scored
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "lang", "keep")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_entities").alias("n_entities"))
            .select(F.col("w.start").alias("window_start"), "lang",
                    "keep", "n_docs", "n_entities"))


def run_stream(spark, input_dir: str, checkpoint_dir: str,
               query_name: str = "quality_stream"):
    """Drain all available input once (availableNow) into a memory sink.

    complete output mode: append would hold back windows newer than the
    watermark at drain time (they'd only flush on a later trigger);
    complete emits full state, which is what a drain-once run wants.
    """
    scored = apply_pipeline_stream(stream_pages(spark, input_dir))
    agg = windowed_keep_counts(scored)
    return (agg.writeStream
            .format("memory")
            .queryName(query_name)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
