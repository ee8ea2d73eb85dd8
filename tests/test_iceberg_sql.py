"""Golden-pins for the production Iceberg SQL emitter — the statements
the parquet checkpoint stand-in (spark/checkpoint.py) simulates. The
pins are semantic anchors: bucket transform arity/order, MERGE keys,
and the anti-join shape must match the in-sandbox implementation."""

from __future__ import annotations

from ragflow_ocr_spark.spark import iceberg_sql as isql
from ragflow_ocr_spark.spark.checkpoint import CHECKPOINT_SCHEMA
from ragflow_ocr_spark.spark.stages import EXTRACT_SCHEMA, PAGES_SCHEMA


def _assert_ddl_mirrors(ddl: str, schema: str) -> None:
    for field in schema.split(", "):
        name, typ = field.split(" ")
        typ = {"long": "bigint"}.get(typ, typ)
        assert f"{name} {typ}" in ddl, field


def test_pages_ddl_buckets_by_url():
    ddl = isql.pages_table_ddl(n_buckets=512)
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (bucket(512, url))" in ddl
    # every pages column present
    for col in ("url string", "warc_ts timestamp", "html binary"):
        assert col in ddl


def test_pages_ddl_mirrors_pages_schema():
    _assert_ddl_mirrors(isql.pages_table_ddl(), PAGES_SCHEMA)


def test_checkpoint_ddl_mirrors_parquet_schema():
    _assert_ddl_mirrors(isql.checkpoint_table_ddl(), CHECKPOINT_SCHEMA)


def test_output_ddl_mirrors_extract_schema_plus_bucket():
    ddl = isql.output_table_ddl()
    _assert_ddl_mirrors(ddl, EXTRACT_SCHEMA + ", bucket int")
    assert "PARTITIONED BY (bucket)" in ddl


def test_merge_keys_are_bucket_and_numbering():
    sql = isql.checkpoint_merge_sql()
    assert "MERGE INTO" in sql
    # idempotency key = (bucket, n_buckets) — same as done_buckets()
    assert "t.bucket = s.bucket AND t.n_buckets = s.n_buckets" in sql
    assert "WHEN MATCHED THEN UPDATE" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql


def test_resume_sql_uses_same_bucket_expression():
    sql = isql.resume_pending_sql(n_buckets=64)
    # must be EXACTLY the parquet path's pmod(xxhash64(url), N)
    assert "pmod(xxhash64(p.url), 64)" in sql
    assert "LEFT ANTI JOIN" in sql
    assert "status = 'done' AND n_buckets = 64" in sql


def test_resume_sql_parses_and_anti_joins_in_spark(spark, tmp_path):
    """The emitted resume SQL is real Spark SQL: run it against temp
    views and check it prunes exactly the done buckets."""
    from pyspark.sql import functions as F

    n = 8
    pages = spark.range(0, 200).select(
        F.concat(F.lit("https://example.com/p/"), F.col("id")).alias("url")
    )
    pages.createOrReplaceTempView("pages_v")
    done = spark.createDataFrame([(3, n, "done"), (5, n, "done")],
                                 "bucket int, n_buckets int, status string")
    done.createOrReplaceTempView("ckpt_v")
    sql = isql.resume_pending_sql(pages="pages_v", checkpoint="ckpt_v", n_buckets=n)
    out = spark.sql(sql)
    got_buckets = {
        r["b"]
        for r in out.select(
            F.pmod(F.xxhash64("url"), F.lit(n)).alias("b")
        ).distinct().collect()
    }
    assert 3 not in got_buckets and 5 not in got_buckets
    assert got_buckets == set(range(n)) - {3, 5}
    # and the plan is the broadcast anti-join J3 pins
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_all_statements_cover_the_lifecycle():
    stmts = isql.all_statements()
    assert set(stmts) == {
        "pages_ddl", "checkpoint_ddl", "output_ddl",
        "checkpoint_merge", "output_overwrite", "resume_pending",
    }
    for sql in stmts.values():
        assert sql.strip()
