"""Checkpoint/resume plumbing — parquet-backed stand-in for the Iceberg
checkpoint table of the north rule.

Production target is an Iceberg table written via ``MERGE INTO`` (the
Iceberg runtime jar isn't shippable into this offline sandbox, so the
same idempotent semantics are implemented over parquet):

- work is keyed by a deterministic ``bucket = pmod(xxhash64(url), n)``;
- a completed bucket writes one status row per bucket + its output
  files under ``out/bucket=<b>/`` (dynamic partition overwrite —
  rewriting a bucket is idempotent, exactly like MERGE on the key);
- resume = all bucket ids minus the ``done`` ones, a set difference
  on the driver; the table is a handful of rows, read and appended
  with pyarrow, so neither side starts a Spark job.

The exact production DDL / MERGE INTO / resume SQL this stands in for
is emitted by ``spark/iceberg_sql.py``, which derives the table's
columns and the MERGE's update list from ``CHECKPOINT_SCHEMA`` below,
so the two cannot drift.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from ragflow_ocr_spark.spark.stages import schema_columns

CHECKPOINT_SCHEMA = (
    "run_id string, bucket int, n_buckets int, status string, n_docs long, "
    "n_ok long, n_empty long, n_error long, wall_ms long"
)
_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64()}
_ARROW_SCHEMA = pa.schema(
    [(name, _ARROW_TYPES[t]) for name, t in schema_columns(CHECKPOINT_SCHEMA)]
)


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        self.table_dir = os.path.join(root, "checkpoint")

    def done_buckets(self, n_buckets: int) -> set[int]:
        """Buckets already completed (any run) under the SAME bucket
        numbering. Bucket ids are only meaningful relative to
        ``n_buckets``: resuming a root written with a different count
        would skip the WRONG url sets (silently losing rows) and mix
        incompatibly-numbered ``extracted/bucket=`` partitions — so a
        mismatch is refused outright."""
        if not os.path.isdir(self.table_dir):
            return set()
        # pyarrow skips '.'- and '_'-prefixed files, like Spark: an
        # in-flight mark_done is invisible until its rename
        t = pq.read_table(self.table_dir)
        if t.num_rows == 0:
            return set()
        if "n_buckets" not in t.column_names:
            raise ValueError(
                f"checkpoint at {self.table_dir} predates the n_buckets "
                "schema (written by an older build); resume must use a "
                "fresh output root"
            )
        wrong = set(t.column("n_buckets").to_pylist()) - {n_buckets}
        if wrong:
            raise ValueError(
                f"checkpoint at {self.table_dir} was written with "
                f"n_buckets={sorted(wrong)}; resume must use the same "
                f"value (got {n_buckets}) or a fresh output root"
            )
        return {
            b
            for b, s in zip(t.column("bucket").to_pylist(), t.column("status").to_pylist())
            if s == "done"
        }

    def mark_done(self, rows: list[dict], n_buckets: int) -> None:
        """Append completion rows (one per bucket) as one parquet file ⇔
        the MERGE INTO of the production path. The store fills
        ``status`` and ``n_buckets``; each row supplies every other
        checkpoint column. Written under a hidden name and renamed into
        place, so a crash mid-write leaves nothing a reader sees."""
        if not rows:
            return
        rows = [r | {"status": "done", "n_buckets": n_buckets} for r in rows]
        table = pa.Table.from_pylist(
            [{name: r[name] for name in _ARROW_SCHEMA.names} for r in rows],
            schema=_ARROW_SCHEMA,
        )
        os.makedirs(self.table_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.table_dir, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.table_dir, name))
