"""Seeded, cached, content-keyed benchmark inputs.

Each (workload, seed, size) maps to a disjoint row-id range of
``ragflow_ocr_spark.spark.synth.make_row``; rows are kept by
``synth.row_class``. The pages are written as ``N_FILES`` parquet files
(one per core, so a local[4] scan reads exactly four tasks) next to a
truth file with the constructive ``expected_text`` per url. Generation
runs in-process, before any timing, and is skipped when the cache key
already has a ``_SUCCESS`` marker.

The cache key carries an md5 of the first generated payloads and
expectations, so a change to the synthetic writer can never be served
a stale corpus (the failure ``ensure_bench_pages`` in bench.py guards
against the same way).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 4
# row ids of seed s start at s * SEED_STRIDE; a run never needs more
# than a few thousand ids, so ranges of different seeds are disjoint
SEED_STRIDE = 100_000
_MAX_SEED_SLOTS = 9_000  # keeps ids below synth's 9-digit url field

HTML_CLASSES = ("html_simple", "html_boilerplate_heavy", "html_edge")
OCR_CLASSES = ("image_png", "pdf_stub")
ALL_CLASSES = HTML_CLASSES + OCR_CLASSES + ("null_invalid",)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
TRUTH_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("row_class", pa.string()),
        ("expected_text", pa.string()),
    ]
)


@dataclass(frozen=True)
class Inputs:
    pages_dir: str      # N_FILES parquet files, the program's only input
    truth_path: str     # url, row_class, expected_text (None = regression-only)
    n_docs: int


def _row_ids(classes: tuple[str, ...], seed: int, n_rows: int) -> list[int]:
    from ragflow_ocr_spark.spark import synth

    base = (seed % _MAX_SEED_SLOTS) * SEED_STRIDE
    ids: list[int] = []
    rid = base
    while len(ids) < n_rows:
        if rid - base >= SEED_STRIDE:
            raise ValueError(f"seed range exhausted before {n_rows} rows of {classes}")
        if synth.row_class(rid) in classes:
            ids.append(rid)
        rid += 1
    return ids


def ensure_inputs(
    work_dir: str, workload: str, classes: tuple[str, ...], seed: int, n_rows: int
) -> Inputs:
    from ragflow_ocr_spark.spark import synth

    ids = _row_ids(classes, seed, n_rows)
    probe = hashlib.md5()
    for rid in ids[:40]:
        row = synth.make_row(rid)
        probe.update(bytes(row["html"] or b""))
        probe.update((row["expected_text"] or "\0").encode())
    root = os.path.join(
        work_dir, "inputs", f"{workload}_s{seed}_n{n_rows}_p{probe.hexdigest()[:10]}"
    )
    pages_dir = os.path.join(root, "pages")
    truth_path = os.path.join(root, "truth.parquet")
    marker = os.path.join(root, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(pages_dir)
        rows = [synth.make_row(rid) for rid in ids]
        for f in range(N_FILES):
            part = rows[f * len(rows) // N_FILES : (f + 1) * len(rows) // N_FILES]
            table = pa.Table.from_pylist(
                [{k: r[k] for k in PAGES_SCHEMA.names} for r in part],
                schema=PAGES_SCHEMA,
            )
            pq.write_table(table, os.path.join(pages_dir, f"part-{f:05d}.parquet"))
        pq.write_table(
            pa.Table.from_pylist(
                [{k: r[k] for k in TRUTH_SCHEMA.names} for r in rows],
                schema=TRUTH_SCHEMA,
            ),
            truth_path,
        )
        open(marker, "w").close()
    return Inputs(pages_dir, truth_path, len(ids))
