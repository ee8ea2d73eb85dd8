"""End-to-end extraction pipeline (the flagship job — P1 in SURVEY.md
§2.9, Spark lifecycle in §3.1).

    pages ──(bucket IN pending group)──> size-aware spread ──>
    mapInPandas(extract) ──> extracted/bucket=<b> ──> per-bucket
    counts of what landed ──> checkpoint rows (driver, pyarrow)

Scale design (SURVEY.md §4):
- **Size-aware skew spread**: per-document cost is unknown pre-detect
  but correlates with payload bytes. Heavy rows
  (``length(html) > salt_heavy_bytes``) are range-spread to ~one per
  partition and their partitions scheduled FIRST, while light rows use
  plain hash(url) — AQE cannot rebalance inside a mapInPandas stage,
  so this is manual (a 100× skew row otherwise pins one executor at
  the end of the stage).
- **Projection discipline**: the extract output never carries `html`,
  so every downstream projection prunes payload bytes at the stage
  boundary.
- **Resume**: work is bucketed by pmod(xxhash64(url), n_buckets);
  pending buckets are range(n_buckets) minus the checkpoint's done
  set, computed on the driver, and each bucket's output is
  idempotently overwritten.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ragflow_ocr_spark.config import DEFAULT, PipelineConfig
from ragflow_ocr_spark.spark.checkpoint import CheckpointStore
from ragflow_ocr_spark.spark.stages import EXTRACT_SCHEMA, extract_stage


def spread_for_extract(
    df: DataFrame, n_partitions: int, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """Distribute rows so heavy payloads can't gang up on one task.

    A heavy page is ONE row — it cannot be split, so "skew handling"
    here means the heavy subset must land ~evenly across partitions by
    COUNT. Hash repartitioning doesn't guarantee that: when the number
    of heavy rows is comparable to the number of partitions (the
    painful regime — each one is ~100× a median row), balls-in-bins
    puts 2-3 in one partition and zero in others. ``repartitionByRange``
    over ``xxhash64(url)`` samples the key distribution and emits
    near-equal-count ranges → at most ~1 heavy row per partition at
    the tail, at any scale. Light rows: plain hash(url) repartition.
    Placement never affects output bytes — rows are independent
    (verified by the repartition-invariance test).

    Cost note: the where-split evaluates the source twice. That is
    deliberate — see run_extract_job's docstring for why the heavy
    scan is metadata-cheap on a real crawl table (content_length
    row-group pruning); caching payload bytes to avoid it would cost
    far more at 100 TB.
    """
    cost = F.coalesce(F.length(F.col("html")), F.lit(0))
    heavy = df.where(cost > cfg.salt_heavy_bytes)
    light = df.where(cost <= cfg.salt_heavy_bytes)
    heavy = heavy.repartitionByRange(n_partitions, F.xxhash64(F.col("url")))
    light = light.repartition(n_partitions, F.col("url"))
    # heavy FIRST: union concatenates partition lists in order and the
    # scheduler issues them in order — longest-processing-time-first
    # keeps the ~100× rows off the stage's tail
    return heavy.unionByName(light)


def extract(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT,
    n_partitions: int | None = None,
) -> DataFrame:
    """pages DataFrame → extracted DataFrame (EXTRACT_SCHEMA)."""
    if n_partitions:
        df = spread_for_extract(df, n_partitions, cfg)
    return df.select("url", "warc_ts", "lang", "html").mapInPandas(
        extract_stage(cfg), schema=EXTRACT_SCHEMA
    )


def detect_blocks(df: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Staged API (SURVEY.md §3.2): pages → pages + nested blocks."""
    from ragflow_ocr_spark.spark.stages import DETECT_SCHEMA, detect_stage

    return df.select("url", "warc_ts", "lang", "html").mapInPandas(
        detect_stage(cfg), schema=DETECT_SCHEMA
    )


def recognize_blocks(df: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Staged API: detected pages → exploded recognized lines."""
    from ragflow_ocr_spark.spark.stages import RECOGNIZE_SCHEMA, recognize_stage

    return df.mapInPandas(recognize_stage(cfg), schema=RECOGNIZE_SCHEMA)


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    n_buckets: int = 32,
    cfg: PipelineConfig = DEFAULT,
    fail_buckets: set[int] | None = None,
    bucket_group_size: int = 1,
    spread: bool = True,
) -> dict:
    """Resumable extraction job with bucket-granular checkpointing.

    Buckets are processed in GROUPS of ``bucket_group_size`` — one
    extract write per group. Each write filters on ``bucket IN (group)``,
    so the number of group writes is n_buckets/group_size, not n_buckets
    (at 100 TB the input is an Iceberg table partitioned by
    ``bucket(url, n_buckets)``, so each scan additionally prunes to
    the group's files — see spark/checkpoint.py). With ``spread=True``
    each group is scanned twice (spread_for_extract's where-split);
    at Iceberg scale the heavy predicate runs against a stored
    ``content_length`` column whose row-group stats prune the heavy
    scan to the handful of files containing heavy rows, so the second
    scan is metadata-cheap — worth it to keep 100× rows off the stage
    tail. The group size is
    the classic durability/throughput knob: lost work on failure ≤ one
    group, scan overhead ∝ 1/group_size. Within a group, output lands
    via dynamic partition overwrite under ``extracted/bucket=<b>`` —
    rewriting a group is idempotent (MERGE-on-key semantics).

    Spark jobs per group: the write and one aggregate counting what
    landed. Pending-bucket discovery and the checkpoint run on the
    driver.

    ``fail_buckets`` injects a simulated failure after any group
    containing one of the listed buckets commits — the resume tests'
    kill-after-k. Returns run summary counters.
    """
    ckpt = CheckpointStore(out_root)
    run_id = uuid.uuid4().hex[:12]
    bucket_of_url = F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")

    done = ckpt.done_buckets(n_buckets)  # raises on a numbering mismatch
    pending = sorted(set(range(n_buckets)) - done)
    gs = max(1, bucket_group_size)
    groups = [pending[i : i + gs] for i in range(0, len(pending), gs)]
    n_partitions = spark.sparkContext.defaultParallelism if spread else None
    extracted = f"{out_root}/extracted"

    # only the touched bucket= partitions are replaced on (re)write;
    # session conf restored on exit — leaving dynamic mode on would
    # change unrelated writers' overwrite semantics
    prev_overwrite_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for group in groups:
            t0 = time.monotonic()
            gdf = pages.where(bucket_of_url.isin(group))
            (
                extract(gdf, cfg, n_partitions=n_partitions)
                .withColumn("bucket", bucket_of_url)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(extracted)
            )
            counts = _count_landed(spark, extracted, group)
            # group-granular wall: the driver's write-and-count time,
            # recorded on every bucket row of the group
            wall_ms = int((time.monotonic() - t0) * 1000)
            ckpt.mark_done(
                [
                    {"run_id": run_id, "bucket": b, "wall_ms": wall_ms, **counts.get(b, {})}
                    for b in group
                ],
                n_buckets,
            )
            if fail_buckets and set(group) & set(fail_buckets):
                raise RuntimeError(
                    f"injected failure after group containing {sorted(set(group) & set(fail_buckets))}"
                )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_overwrite_mode
        )

    return {
        "run_id": run_id,
        "buckets_processed": len(pending),
        # buckets with a prior 'done' checkpoint row, populated or not
        "buckets_skipped": len(done),
    }


def _count_landed(spark: SparkSession, extracted: str, group: list[int]) -> dict:
    """Per-bucket status counters of the group's written partitions —
    counted from what landed, so a rewritten group or a retried task
    is never counted twice. Buckets without rows are absent."""
    paths = [f"{extracted}/bucket={b}" for b in group]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return {}
    status = F.col("status")
    rows = (
        spark.read.schema("status string, bucket int")
        .option("basePath", extracted)
        .parquet(*paths)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(status == "ok", 1)).alias("n_ok"),
            F.count(F.when(status.startswith("empty"), 1)).alias("n_empty"),
        )
        .collect()
    )
    return {
        r["bucket"]: {
            "n_docs": r["n_docs"],
            "n_ok": r["n_ok"],
            "n_empty": r["n_empty"],
            "n_error": r["n_docs"] - r["n_ok"] - r["n_empty"],
        }
        for r in rows
    }


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(f"{out_root}/extracted")
