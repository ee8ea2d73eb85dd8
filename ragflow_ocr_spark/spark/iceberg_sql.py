"""Production Iceberg DDL / MERGE emitter.

BASELINE.json and SURVEY §1.2 name Iceberg as the production source +
checkpoint store; this sandbox can't ship the Iceberg runtime jar, so
``spark/checkpoint.py`` implements the same idempotent semantics over
parquet dynamic-partition overwrite. This module keeps the 100 TB path
concrete: it emits the exact SQL the production deployment runs. Every
column list is derived from the schemas the parquet path runs on
(``PAGES_SCHEMA`` and ``EXTRACT_SCHEMA`` in spark/stages.py,
``CHECKPOINT_SCHEMA`` in spark/checkpoint.py), so the two cannot drift;
tests/test_iceberg_sql.py pins the bucket transform, the MERGE keys
and the anti-join shape.

Mapping (checkpoint.py:1-14 ⇔ here):
- ``bucket = pmod(xxhash64(url), N)``        ⇔ Iceberg partition
  transform ``bucket(N, url)`` on the pages table (co-locates a
  resume bucket's pages in one partition — the anti-join prunes
  whole files);
- parquet append of one status row per bucket  ⇔ ``MERGE INTO
  checkpoint ON (run keys)`` — idempotent under task retry;
- ``out/bucket=<b>/`` dynamic partition overwrite ⇔ ``INSERT
  OVERWRITE ... PARTITION`` by the same bucket id (rewriting a bucket
  is a no-op on other buckets).

Run ``python -m ragflow_ocr_spark.spark.iceberg_sql`` to print the
statements for a given catalog/namespace.
"""

from __future__ import annotations

from ragflow_ocr_spark.spark.checkpoint import CHECKPOINT_SCHEMA
from ragflow_ocr_spark.spark.stages import EXTRACT_SCHEMA, PAGES_SCHEMA, schema_columns

# The extracted table carries the partition column next to the stage's
# output columns.
_OUTPUT_SCHEMA = EXTRACT_SCHEMA + ", bucket int"
# Spark DDL type → Iceberg SQL type, where the two differ.
_ICEBERG_TYPES = {"long": "bigint"}
# The checkpoint's MERGE key: one row per bucket per numbering.
_MERGE_KEYS = ("bucket", "n_buckets")


def _create_table(table: str, schema: str) -> str:
    cols = ",\n  ".join(
        f"{name} {_ICEBERG_TYPES.get(t, t)}" for name, t in schema_columns(schema)
    )
    return f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n) USING iceberg"


def pages_table_ddl(
    table: str = "crawl.pages", n_buckets: int = 4096
) -> str:
    """Source table: Common-Crawl-style pages, bucketed by url so each
    resume bucket maps to a bounded partition set."""
    return (
        f"{_create_table(table, PAGES_SCHEMA)}\n"
        f"PARTITIONED BY (bucket({n_buckets}, url))\n"
        f"TBLPROPERTIES (\n"
        f"  'write.target-file-size-bytes' = '536870912',\n"
        f"  'write.distribution-mode' = 'hash'\n"
        f")"
    )


def checkpoint_table_ddl(table: str = "crawl.extract_checkpoint") -> str:
    """Checkpoint table — one row per completed bucket per numbering."""
    return _create_table(table, CHECKPOINT_SCHEMA)


def checkpoint_merge_sql(
    table: str = "crawl.extract_checkpoint",
    updates_view: str = "bucket_updates",
) -> str:
    """Idempotent completion upsert: re-running a bucket (task retry,
    job restart) updates its row instead of appending a duplicate —
    the MERGE the parquet append stands in for."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in _MERGE_KEYS)
    sets = [
        f"t.{name} = s.{name}"
        for name, _ in schema_columns(CHECKPOINT_SCHEMA)
        if name not in _MERGE_KEYS
    ]
    # three assignments per line
    updates = ",\n  ".join(", ".join(sets[i : i + 3]) for i in range(0, len(sets), 3))
    return (
        f"MERGE INTO {table} t\n"
        f"USING {updates_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET\n"
        f"  {updates}\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def output_table_ddl(table: str = "crawl.extracted") -> str:
    """Extraction output, partitioned by the SAME bucket expression so
    per-bucket overwrite is a partition-level operation."""
    return f"{_create_table(table, _OUTPUT_SCHEMA)}\nPARTITIONED BY (bucket)"


def output_overwrite_sql(
    table: str = "crawl.extracted", results_view: str = "bucket_results"
) -> str:
    """Per-bucket idempotent rewrite (Iceberg dynamic overwrite — only
    the partitions present in the source are replaced)."""
    cols = ", ".join(name for name, _ in schema_columns(_OUTPUT_SCHEMA))
    return f"INSERT OVERWRITE {table}\nSELECT {cols}\nFROM {results_view}"


def resume_pending_sql(
    pages: str = "crawl.pages",
    checkpoint: str = "crawl.extract_checkpoint",
    n_buckets: int = 4096,
) -> str:
    """The resume anti-join (J3) in SQL form: pending pages are those
    whose bucket has no done row under the same numbering. The bucket
    expression matches the table's partition transform, so Iceberg
    prunes completed buckets' files at scan time."""
    return (
        f"SELECT p.* FROM {pages} p\n"
        f"LEFT ANTI JOIN (\n"
        f"  SELECT DISTINCT bucket FROM {checkpoint}\n"
        f"  WHERE status = 'done' AND n_buckets = {n_buckets}\n"
        f") d\n"
        f"ON pmod(xxhash64(p.url), {n_buckets}) = d.bucket"
    )


def all_statements(n_buckets: int = 4096) -> dict[str, str]:
    return {
        "pages_ddl": pages_table_ddl(n_buckets=n_buckets),
        "checkpoint_ddl": checkpoint_table_ddl(),
        "output_ddl": output_table_ddl(),
        "checkpoint_merge": checkpoint_merge_sql(),
        "output_overwrite": output_overwrite_sql(),
        "resume_pending": resume_pending_sql(n_buckets=n_buckets),
    }


if __name__ == "__main__":
    for name, sql in all_statements().items():
        print(f"-- {name}\n{sql};\n")
