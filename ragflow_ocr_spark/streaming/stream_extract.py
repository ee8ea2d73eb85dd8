"""Streaming extraction: parquet file-source → mapInPandas extract →
parquet sink, exactly-once via the streaming checkpoint.

Scale notes (1000-executor continuous ingest):
- The file source tracks seen files in the checkpoint log —
  re-delivered or re-listed files are not reprocessed
  (`maxFilesPerTrigger` bounds per-micro-batch work; at 100 TB/day the
  trigger size is the backpressure knob).
- `mapInPandas` is stateless → no state store, no shuffle; each
  micro-batch is embarrassingly parallel exactly like the batch job.
- The metrics stream groups by event-time window over `warc_ts` with a
  watermark so late-arriving crawl records (out-of-order WARC
  timestamps) still aggregate, while state for closed windows is
  dropped — bounded memory forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ragflow_ocr_spark.config import DEFAULT, PipelineConfig
from ragflow_ocr_spark.spark import pipeline
from ragflow_ocr_spark.spark.stages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_extract_availablenow(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT,
    max_files_per_trigger: int | None = None,
):
    """Process everything currently in ``input_dir`` and stop
    (Trigger.AvailableNow) — the catch-up/backfill mode of the
    continuous deployment. Returns the finished StreamingQuery.

    Restart with the same ``checkpoint_dir`` after new files land and
    ONLY the new files are processed — the streaming analogue of the
    batch job's bucket checkpoint resume.
    """
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    # the batch pipeline's extract plan, unspread: stateless, so it is
    # legal in a streaming plan
    out = pipeline.extract(pages, cfg)
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_pages_stream(pages: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """First-seen-wins streaming URL dedup ahead of the (expensive)
    extract stage: re-crawled / re-delivered pages arriving within the
    watermark horizon are dropped before any payload bytes are decoded.

    ``dropDuplicatesWithinWatermark`` is the bounded-state idiom: the
    per-url state row is evicted once event time passes url's first
    sighting + watermark, so state is sized by the churn window, not
    by corpus history (plain ``dropDuplicates`` on a stream would grow
    state forever at crawl scale). Cross-horizon dedup belongs to the
    batch layer (``dedup_url_canonical`` / ``dedup_exact``).
    """
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def stream_metrics_query(
    extracted: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time monitoring aggregation over the
    extraction stream: per (warc_ts window, status) doc counts and
    mean block counts. Append-mode-safe (watermark closes windows)."""
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("n_blocks").alias("avg_blocks"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "n_docs",
            "avg_blocks",
        )
    )
