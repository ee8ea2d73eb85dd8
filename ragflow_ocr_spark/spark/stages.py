"""mapInPandas stages — the engine's entire Python surface.

Iterator-style kernels (init-once per Python worker, Arrow batch in/out;
SURVEY.md §2.10): the unified extract stage, which sniffs each payload
and routes it to HTML extraction or the OCR pipeline (the batch job,
the resumable job and the streaming job all run it), and the staged
detect → recognize pair for callers that want the blocks between the
two; that pair calls the same payload route and phase functions as
the fused pipeline (kernels/ocr_pipeline.py). No row-at-a-time Spark
UDFs anywhere — per-document Python happens inside batch loops on the
worker, which is the reference's own execution shape (row = document,
ndarray inside; SURVEY.md §1.2).

Each stage is a row function run by ``map_rows`` (spark/worker.py),
the one batch loop and per-row error boundary: a row whose detect,
crop or recognize raises reads ``error:internal:<ExceptionClass>``
(no rows in ``recognize_stage``) instead of failing its task.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.config import DEFAULT, PipelineConfig
from ragflow_ocr_spark.kernels import ocr_pipeline
from ragflow_ocr_spark.kernels.html_extract import extract_html
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload
from ragflow_ocr_spark.kernels.pngcodec import sniff_payload
from ragflow_ocr_spark.spark.worker import map_rows

# The two tables of the job, declared once: the Iceberg DDL
# (spark/iceberg_sql.py), the streaming reader, synth and the driver
# contract all derive their column lists from these strings.
# Input: the Common-Crawl-style pages table (BASELINE.json input_hint).
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
# Output of the extraction stage. `html` is intentionally NOT carried
# through — post-extract projections must not deserialize payload
# bytes (SURVEY.md §4: keep `html` out so pruning works).
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, extracted_text string, "
    "n_blocks int, status string, engine string"
)


def schema_columns(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a DDL schema string such as
    ``PAGES_SCHEMA``. A nested type keeps its own commas
    (``blocks array<struct<block_id:int, bbox:...>>``)."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            cols.append(tuple(schema[start:i].strip().split(" ", 1)))
            start = i + 1
    return cols


def _extract_one(
    data: bytes | None, cfg: PipelineConfig
) -> tuple[str | None, int, str, str]:
    """payload → (text, n_blocks, status, engine). Routes F10."""
    kind = sniff_payload(data)
    if kind == "html":
        text, n, status = extract_html(data)
        return text, n, status, "html"
    if kind == "null":
        return None, 0, "error:null", "none"
    r = extract_payload(data, cfg.ocr)
    return r.text, r.n_blocks, r.status, "ocr"


def extract_stage(cfg: PipelineConfig | None = None):
    """Returns the mapInPandas function for the unified extract stage."""
    cfg = cfg or DEFAULT

    def row(data):
        yield _extract_one(bytes(data) if data is not None else None, cfg)

    return map_rows(
        EXTRACT_SCHEMA, ("html",), row, keep=("url", "warc_ts", "lang"),
        on_error=lambda status, _: (None, 0, status, "none"),
    )


# ---------------------------------------------------------------- staged API
# The reference exposes detect / recognize separately so callers can
# interleave layout analysis (``/root/reference/ocr/ocr.py:490-533``;
# SURVEY.md §3.2). Same split here as two composable DataFrame
# transforms. The nested-per-row design (blocks stay inside the row as
# array<struct>) avoids any shuffle between the stages — J1's
# positional zip is preserved by construction.

DETECT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, html binary, "
    "blocks array<struct<block_id:int, bbox:array<array<double>>>>, "
    "det_status string"
)

RECOGNIZE_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "block_id int, bbox array<array<double>>, text string, score double"
)


def detect_stage(cfg: PipelineConfig | None = None):
    """pages → + blocks (reading-ordered quads per document)."""
    cfg = cfg or DEFAULT

    def row(data):
        # same route as the unified extract stage — the two public
        # surfaces must agree on supported formats; a PDF contributes
        # its first page
        payload = bytes(data) if data is not None else None
        kind, pages = ocr_pipeline.decode_payload_pages(payload, max_pages=1)
        if pages is None:
            yield [], "error:decode" if kind in ocr_pipeline.IMAGE_KINDS else f"skip:{kind}"
            return
        boxes = ocr_pipeline.detect(pages[0], cfg.ocr)
        yield [{"block_id": i, "bbox": b.tolist()} for i, b in enumerate(boxes)], "ok"

    return map_rows(
        DETECT_SCHEMA, ("html",), row, keep=("url", "warc_ts", "lang", "html"),
        on_error=lambda status, _: ([], status),
    )


def recognize_stage(cfg: PipelineConfig | None = None):
    """detected rows → exploded (url, block_id, text, score) lines.

    Batch-rec semantics (``OCR.recognize_batch``, ocr/ocr.py:523-533):
    a line below drop_score emits "" rather than being dropped — the
    reference's second F2 semantics, distinct from the full pipeline's
    ``ocr_pipeline.assemble``. A row that cannot be decoded, or whose
    crop or recognize raises, emits no lines.
    """
    cfg = cfg or DEFAULT

    def row(url, warc_ts, lang, html, blocks):
        # blocks is an ndarray via Arrow — no truthiness
        if html is None or blocks is None or len(blocks) == 0:
            return
        _kind, pages = ocr_pipeline.decode_payload_pages(bytes(html), max_pages=1)
        if pages is None:
            return
        # Arrow hands nested lists back as object arrays of per-point
        # arrays — normalize before stacking
        quads = [
            np.array([np.asarray(p, dtype=np.float64) for p in b["bbox"]])
            for b in blocks
        ]
        crops = ocr_pipeline.crop_boxes(pages[0], quads, cfg.ocr)
        for b, (text, score) in zip(blocks, ocr_pipeline.recognize_crops(crops, cfg.ocr)):
            # batch-rec drop semantics: emit "" below threshold
            text = text if score >= cfg.ocr.drop_score else ""
            yield url, warc_ts, lang, b["block_id"], b["bbox"], text, float(score)

    return map_rows(
        RECOGNIZE_SCHEMA, ("url", "warc_ts", "lang", "html", "blocks"), row,
        on_error=lambda *_: None,
    )
