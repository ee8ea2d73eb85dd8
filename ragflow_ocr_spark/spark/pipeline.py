"""End-to-end extraction pipeline (the flagship job — P1 in SURVEY.md
§2.9, Spark lifecycle in §3.1).

    pages ──> size-aware spread (only if the scan cannot fill the
    cores) ──(bucket IN pending group)──> mapInPandas(extract) ──>
    observed per-bucket status counts ──> extracted/bucket=<b> ──>
    checkpoint rows (driver, pyarrow)

Scale design (SURVEY.md §4):
- **Size-aware skew spread**: per-document cost is unknown pre-detect
  but correlates with payload bytes. A scan with at least as many
  partitions as cores is extracted where it is read: Spark already
  sizes its file splits by bytes (``maxPartitionBytes``), and an
  exchange would move every payload byte to balance a handful of
  rows. An input too narrow to fill the cores (one file, a coalesced
  frame) is spread: heavy rows (``length(html) > SALT_HEAVY_BYTES``)
  are range-spread to ~one per partition and their partitions
  scheduled FIRST, while light rows use plain hash(url) — AQE cannot
  rebalance inside a mapInPandas stage, so this is manual (a 100×
  skew row otherwise pins one executor at the end of the stage).
- **Projection discipline**: the extract output never carries `html`,
  so every downstream projection prunes payload bytes at the stage
  boundary.
- **Resume**: work is bucketed by pmod(xxhash64(url), n_buckets);
  pending buckets are range(n_buckets) minus the checkpoint's done
  set, computed on the driver, and each bucket's output is
  idempotently overwritten.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ragflow_ocr_spark.config import DEFAULT, PipelineConfig
from ragflow_ocr_spark.spark.checkpoint import CheckpointStore
from ragflow_ocr_spark.spark.stages import EXTRACT_SCHEMA, extract_stage

# When an input has too few partitions to fill the cores, payloads
# above this are range-spread one-per-partition and scheduled first
# (spread_for_extract). 16 KB ≈ 4× the corpus median page: catches
# the ~100× skew rows while leaving ordinary pages on the cheap hash
# path.
SALT_HEAVY_BYTES = 1 << 14


def spread_for_extract(df: DataFrame, n_partitions: int) -> DataFrame:
    """Distribute rows so heavy payloads can't gang up on one task —
    only when ``df`` has fewer than ``n_partitions`` partitions.

    An input that already has ``n_partitions`` or more comes back
    unchanged: each of its partitions is one extract task, and a file
    scan's partitions are already cut by bytes (``maxPartitionBytes``),
    the same proxy the heavy rule uses. An exchange there would move
    every payload byte of the input to balance a handful of rows.

    The partition count is read from ``df.rdd``, which starts no Spark
    job on a file scan, a cached frame or a filter over either. On an
    input whose plan already shuffles it runs that shuffle's map stage;
    such an input is already distributed, so callers pass
    ``spread=False`` to :func:`run_extract_job` instead.

    A narrower input is spread. A heavy page is ONE row — it cannot be
    split, so "skew handling" here means the heavy subset must land
    ~evenly across partitions by COUNT. Hash repartitioning doesn't
    guarantee that: when the number of heavy rows is comparable to the
    number of partitions (the painful regime — each one is ~100× a
    median row), balls-in-bins puts 2-3 in one partition and zero in
    others. ``repartitionByRange`` over ``xxhash64(url)`` samples the
    key distribution and emits near-equal-count ranges → at most ~1
    heavy row per partition at the tail, at any scale. Light rows:
    plain hash(url) repartition. The where-split evaluates the source
    twice. Placement never affects output bytes — rows are independent
    (verified by the repartition-invariance test).
    """
    if df.rdd.getNumPartitions() >= n_partitions:
        return df
    cost = F.coalesce(F.length(F.col("html")), F.lit(0))
    heavy = df.where(cost > SALT_HEAVY_BYTES)
    light = df.where(cost <= SALT_HEAVY_BYTES)
    heavy = heavy.repartitionByRange(n_partitions, F.xxhash64(F.col("url")))
    light = light.repartition(n_partitions, F.col("url"))
    # heavy FIRST: union concatenates partition lists in order and the
    # scheduler issues them in order — longest-processing-time-first
    # keeps the ~100× rows off the stage's tail
    return heavy.unionByName(light)


def extract(df: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """pages DataFrame → extracted DataFrame (EXTRACT_SCHEMA), one
    extract task per input partition. Spread a narrow input first with
    :func:`spread_for_extract`."""
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
    :func:`spread_for_extract` is applied once, to ``pages``, before
    the groups: a scan that fills ``defaultParallelism`` cores is
    extracted in the partitions it is read from, and a narrower one is
    spread (each group's filter is pushed below that spread, so each
    group then scans its input twice). Pass ``spread=False`` for an
    input whose plan already shuffles. The group size is the classic
    durability/throughput knob: lost work on failure ≤ one group, scan
    overhead ∝ 1/group_size. Within a group, output lands
    via dynamic partition overwrite under ``extracted/bucket=<b>`` —
    rewriting a group is idempotent (MERGE-on-key semantics).

    Spark jobs per group: one, the write. Its per-bucket status
    counters are observed on the write itself. Pending-bucket discovery
    and the checkpoint run on the driver.

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
    if spread:
        pages = spread_for_extract(pages, spark.sparkContext.defaultParallelism)
    extracted = f"{out_root}/extracted"
    status = F.col("status")
    counters = {
        "n_docs": F.lit(True),
        "n_ok": status == "ok",
        "n_empty": status.startswith("empty"),
    }

    for i, group in enumerate(groups):
        t0 = time.monotonic()
        gdf = pages.where(bucket_of_url.isin(group))
        # Exact counts: observed metrics come only from the write's
        # result tasks, and Spark merges one successful attempt per
        # result partition and drops failed attempts, so these are the
        # rows that committed. A group rewritten after a crash is
        # counted from its rewrite.
        obs = Observation(f"extract-{run_id}-{i}")
        aggs = [
            F.count_if((F.col("bucket") == b) & cond).alias(f"{name}_{b}")
            for b in group
            for name, cond in counters.items()
        ]
        (
            extract(gdf, cfg)
            .withColumn("bucket", bucket_of_url)
            .observe(obs, *aggs)
            # only the touched bucket= partitions are replaced on
            # (re)write; the per-write option leaves the session conf,
            # and so unrelated writers, alone
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(extracted)
        )
        counts = obs.get
        # group-granular wall: the driver's write time, recorded on
        # every bucket row of the group
        wall_ms = int((time.monotonic() - t0) * 1000)
        rows = [
            {"run_id": run_id, "bucket": b, "wall_ms": wall_ms}
            | {name: counts[f"{name}_{b}"] for name in counters}
            for b in group
        ]
        for r in rows:
            r["n_error"] = r["n_docs"] - r["n_ok"] - r["n_empty"]
        ckpt.mark_done(rows, n_buckets)
        if fail_buckets and set(group) & set(fail_buckets):
            raise RuntimeError(
                f"injected failure after group containing {sorted(set(group) & set(fail_buckets))}"
            )

    return {
        "run_id": run_id,
        "buckets_processed": len(pending),
        # buckets with a prior 'done' checkpoint row, populated or not
        "buckets_skipped": len(done),
    }


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(f"{out_root}/extracted")
