#!/usr/bin/env python
"""At-scale Structured Streaming drive of the quality pipeline.

Evidence script for the streaming checklist row: drains the full
synthetic pages corpus through the batch QualityPipeline itself
(streaming/quality_stream.py applies it unchanged), as a checkpointed
availableNow file-source stream split into multiple microbatches,
then

  1. checks exact per-(window, lang, keep) parity of the streaming
     windowed aggregation against the identical batch plan over the
     identical parquet input (streaming-vs-batch parity at scale,
     not just the 200-doc pytest),
  2. re-starts the query from the same checkpoint with no new input
     and asserts the replay ingests 0 rows (exactly-once resume),
  3. reports drain wall time and docs/s.

Prints one JSON line. Usage:

  python scripts/streaming_drive.py [sf_dir] [multiplier]

Defaults: /root/testdata/sf0.1, multiplier 64 (bench's 320k-page
corpus; reuses bench.py's materialized parquet when present).
"""

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MULTIPLIER = int(sys.argv[2]) if len(sys.argv) > 2 else 64
# 1-day tumbling windows: warc_ts advances 137 s/doc, so the 320k-page
# corpus spans ~507 days -> bounded complete-mode state in the memory
# sink while still exercising event-time bucketing across every batch.
WINDOW = "1 day"
WATERMARK = "10 minutes"


def batch_reference(spark, pages_pq):
    """The streaming plan's batch twin over the same parquet input —
    literally the SAME aggregation function (withWatermark is a no-op
    on batch DataFrames in Spark 4), so the twin cannot drift from
    what the stream actually computes."""
    from pii_extract_base_spark.streaming.quality_stream import (
        apply_pipeline_stream, windowed_keep_counts)
    return windowed_keep_counts(
        apply_pipeline_stream(spark.read.parquet(pages_pq)),
        watermark=WATERMARK, window=WINDOW)


def main() -> int:
    from pyspark.sql import functions as F
    from pii_extract_base_spark.config import get_spark
    from pii_extract_base_spark.sources.pages import (
        PAGES_SCHEMA, synth_pages)
    from pii_extract_base_spark.streaming.quality_stream import (
        apply_pipeline_stream, windowed_keep_counts)

    spark = get_spark(app_name="streaming_drive", cores=32)
    spark.sparkContext.setLogLevel("ERROR")

    tag = Path(SF_DIR).name
    pages_pq = f"/tmp/bench_pages_{tag}_x{MULTIPLIER}"
    if not Path(pages_pq, "_SUCCESS").exists():
        (synth_pages(spark, SF_DIR, repartition=64, multiplier=MULTIPLIER)
         .write.mode("overwrite").parquet(pages_pq))

    work = tempfile.mkdtemp(prefix="stream_drive_")
    ckpt = f"{work}/ckpt"

    def start_query():
        src = (spark.readStream
               .schema(PAGES_SCHEMA)
               .option("maxFilesPerTrigger", 16)  # force >1 microbatch
               .parquet(pages_pq))
        agg = windowed_keep_counts(apply_pipeline_stream(src),
                                   watermark=WATERMARK, window=WINDOW)
        return (agg.writeStream
                .format("memory").queryName("drive")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start())

    t0 = time.time()
    q = start_query()
    q.awaitTermination()
    drain_sec = time.time() - t0
    progresses = [p for p in q.recentProgress if p is not None]
    batches = sum(1 for p in progresses if p["numInputRows"] > 0)

    streamed = spark.sql(
        "select window_start, lang, keep, n_docs, n_entities from drive")
    ref = batch_reference(spark, pages_pq)
    n_docs = ref.agg(F.sum("n_docs")).collect()[0][0]

    # exact parity: anti-joins empty in both directions
    cols = streamed.columns
    extra = streamed.exceptAll(ref.select(*cols)).count()
    missing = ref.select(*cols).exceptAll(streamed).count()
    parity = (extra == 0 and missing == 0)

    # exactly-once resume: same checkpoint, no new files -> 0 input rows
    q2 = start_query()
    q2.awaitTermination()
    replay_rows = sum(p["numInputRows"] for p in q2.recentProgress
                      if p is not None)

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "metric": "streaming_drain_sec",
        "value": round(drain_sec, 3),
        "unit": "sec",
        "docs": int(n_docs),
        "docs_per_sec": round(n_docs / drain_sec, 1),
        "microbatches": batches,
        "windows": streamed.count(),
        "parity_vs_batch": parity,
        "extra_rows": extra,
        "missing_rows": missing,
        "resume_input_rows": int(replay_rows),
        "sf": SF_DIR,
        "multiplier": MULTIPLIER,
    }))
    return 0 if (parity and replay_rows == 0) else 1


if __name__ == "__main__":
    sys.exit(main())
