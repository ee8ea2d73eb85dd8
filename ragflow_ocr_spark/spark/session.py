"""SparkSession factory with scale-appropriate defaults.

Local sandbox runs on local[N]; the same builder settings are what we
would ship in spark-defaults for a 1000-executor cluster (AQE on,
Arrow on, sane shuffle partitioning). Nothing here is sandbox-only
except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ragflow_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~1× cores; cluster: 2-3× total executor cores — AQE
        # coalesces down, so err high there. Overridable via env.
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: post-shuffle coalescing + skew-join
        # splitting are the first line of defense at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the transport for every mapInPandas stage; batch
        # size bounds Python-worker memory (payloads can be ~MB each,
        # so cap records per batch well below the 10k default).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # Parquet scans: pushdown + pruning stay on (defaults, pinned
        # so a misconfigured cluster can't silently disable them).
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python worker reuse: Spark's default, pinned the same way.
        # keep_runtime_zip_caches (spark/worker.py) saves only in a
        # reused worker; one forked per task re-reads fresh zip finders.
        .config("spark.python.worker.reuse", "true")
        # Pin the session clock: TIMESTAMP_NTZ→LTZ casts (unix_micros
        # paths) otherwise inherit the host JVM zone, where DST gaps
        # would shift gap/window arithmetic vs the naive-clock oracles.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
