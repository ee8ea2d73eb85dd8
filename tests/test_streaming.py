"""Structured Streaming extraction: exactly-once incremental ingest,
byte-identity with the batch pipeline, watermarked windowed metrics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ragflow_ocr_spark.spark import synth
from ragflow_ocr_spark.spark.pipeline import extract
from ragflow_ocr_spark.streaming import stream_extract_availablenow
from ragflow_ocr_spark.streaming.stream_extract import (
    read_pages_stream,
    stream_metrics_query,
)


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    inp, outp, ckpt = str(root / "in"), str(root / "out"), str(root / "ckpt")
    # batch 1: rows [0, 60)
    synth.pages_df(spark, 60, partitions=3).write.mode("append").parquet(inp)
    return inp, outp, ckpt


def test_streaming_availablenow_processes_all(spark, stream_dirs):
    inp, outp, ckpt = stream_dirs
    stream_extract_availablenow(spark, inp, outp, ckpt)
    got = spark.read.parquet(outp)
    assert got.count() == 60
    assert set(got.columns) >= {"url", "extracted_text", "n_blocks", "status"}


def test_streaming_incremental_exactly_once(spark, stream_dirs):
    """New files land → restart with same checkpoint → only new rows
    appear, old rows are not reprocessed (no duplicates)."""
    inp, outp, ckpt = stream_dirs
    # batch 2: rows [60, 100) appended as new files
    df = spark.range(60, 100, 1, 2).select(F.col("id"))

    import pandas as pd

    def gen(batches):
        for b in batches:
            yield synth.truth_batch(b["id"].tolist())[
                ["url", "warc_ts", "html", "text", "lang"]
            ]

    df.mapInPandas(gen, schema=synth.PAGES_SCHEMA).write.mode("append").parquet(inp)

    stream_extract_availablenow(spark, inp, outp, ckpt)
    got = spark.read.parquet(outp)
    assert got.count() == 100
    assert got.select("url").distinct().count() == 100


def test_streaming_matches_batch_bytes(spark, stream_dirs):
    """Streaming and batch runs of the same kernel produce identical
    bytes per url — one engine, two execution modes."""
    inp, outp, _ = stream_dirs
    batch = extract(spark.read.parquet(inp)).select(
        "url", "extracted_text", "status"
    )
    streamed = spark.read.parquet(outp).select("url", "extracted_text", "status")
    b = {r["url"]: (r["extracted_text"], r["status"]) for r in batch.collect()}
    s = {r["url"]: (r["extracted_text"], r["status"]) for r in streamed.collect()}
    assert b == s


def test_stream_metrics_windowed_watermark(spark, stream_dirs, tmp_path):
    """The watermarked window agg runs as a real streaming query
    (append mode requires the watermark — this asserts the plan is
    streaming-legal) and its counts match the batch equivalent."""
    inp, _, _ = stream_dirs
    pages = read_pages_stream(spark, inp)
    metrics = stream_metrics_query(extract(pages), window="6 hours")
    q = (
        metrics.writeStream.format("memory")
        .queryName("m_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only watermark-closed windows; batch-compute
    # the same agg and check emitted rows are a consistent subset
    batch = (
        extract(spark.read.parquet(inp))
        .groupBy(F.window("warc_ts", "6 hours").alias("w"), "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), "status", "n_docs")
    )
    got = {
        (r["window_start"], r["status"]): r["n_docs"]
        for r in spark.sql("SELECT * FROM m_stream").collect()
    }
    want = {
        (r["window_start"], r["status"]): r["n_docs"] for r in batch.collect()
    }
    for k, v in got.items():
        assert want.get(k) == v


def test_stateful_running_totals_survive_restart(spark, tmp_path):
    """applyInPandasWithState: per-user totals accumulate across
    micro-batches AND across a full stream restart (state restored from
    the checkpoint), landing at the exact batch-computed truth."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ragflow_ocr_spark.streaming.stateful import stream_user_totals

    schema = StructType(
        [StructField("user_id", LongType()), StructField("value", DoubleType())]
    )
    inp = str(tmp_path / "ev_in")
    ckpt = str(tmp_path / "ev_ckpt")

    def write_batch(start, end):
        df = spark.range(start, end).select(
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") * 0.5).alias("value"),
        )
        df.write.mode("append").parquet(inp)

    collected: dict[int, tuple[int, float]] = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            collected[r["user_id"]] = (r["n_events"], r["total_value"])

    def run_stream():
        ev = spark.readStream.schema(schema).parquet(inp)
        q = (
            stream_user_totals(ev)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch(0, 70)
    run_stream()
    assert {k: v[0] for k, v in collected.items()} == {u: 10 for u in range(7)}

    # restart with more data: totals must CONTINUE from state
    write_batch(70, 140)
    run_stream()
    truth = (
        spark.read.parquet(inp)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("t"))
        .collect()
    )
    want = {r["user_id"]: (r["n"], r["t"]) for r in truth}
    assert collected == want


def test_streaming_url_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivered urls inside the
    horizon are dropped (first-seen-wins) BEFORE the extract stage;
    each url extracts exactly once."""
    import pandas as pd

    from ragflow_ocr_spark.streaming.stream_extract import dedup_pages_stream

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = synth.pages_df(spark, 30, partitions=2)
    base.write.mode("append").parquet(inp)
    # re-deliver the same 30 urls (same warc_ts → inside any horizon)
    base.write.mode("append").parquet(inp)

    pages = dedup_pages_stream(read_pages_stream(spark, inp), watermark="24 hours")
    out = extract(pages)
    q = (
        out.writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(outp)
    assert got.count() == 30
    assert got.select("url").distinct().count() == 30
