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

Each stage function first calls ``keep_runtime_zip_caches``
(spark/worker.py), so a reused worker does not re-read Spark's own zip
archives on every task.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ragflow_ocr_spark.config import DEFAULT, PipelineConfig
from ragflow_ocr_spark.kernels.html_extract import extract_html
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload
from ragflow_ocr_spark.kernels.pngcodec import sniff_payload
from ragflow_ocr_spark.spark.worker import keep_runtime_zip_caches

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
    """(name, type) pairs of a flat DDL schema string such as
    ``PAGES_SCHEMA``."""
    return [tuple(c.split(" ")) for c in schema.split(", ")]


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

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_runtime_zip_caches()
        for pdf in batches:
            texts: list[str | None] = []
            blocks: list[int] = []
            statuses: list[str] = []
            engines: list[str] = []
            for data in pdf["html"]:
                payload = bytes(data) if data is not None else None
                t, n, s, e = _extract_one(payload, cfg)
                texts.append(t)
                blocks.append(n)
                statuses.append(s)
                engines.append(e)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "extracted_text": texts,
                    "n_blocks": blocks,
                    "status": statuses,
                    "engine": engines,
                }
            )

    return fn


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

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_runtime_zip_caches()
        from ragflow_ocr_spark.kernels import ocr_pipeline

        for pdf in batches:
            all_blocks = []
            statuses = []
            for data in pdf["html"]:
                payload = bytes(data) if data is not None else None
                # same route as the unified extract stage — the two
                # public surfaces must agree on supported formats; a
                # PDF contributes its first page
                kind, pages = ocr_pipeline.decode_payload_pages(payload, max_pages=1)
                if pages is None:
                    all_blocks.append([])
                    statuses.append(
                        "error:decode"
                        if kind in ocr_pipeline.IMAGE_KINDS
                        else f"skip:{kind}"
                    )
                    continue
                boxes = ocr_pipeline.detect(pages[0], cfg.ocr)
                all_blocks.append(
                    [
                        {"block_id": i, "bbox": b.tolist()}
                        for i, b in enumerate(boxes)
                    ]
                )
                statuses.append("ok")
            out = pdf[["url", "warc_ts", "lang", "html"]].copy()
            out["blocks"] = all_blocks
            out["det_status"] = statuses
            yield out

    return fn


def recognize_stage(cfg: PipelineConfig | None = None):
    """detected rows → exploded (url, block_id, text, score) lines.

    Batch-rec semantics (``OCR.recognize_batch``, ocr/ocr.py:523-533):
    a line below drop_score emits "" rather than being dropped — the
    reference's second F2 semantics, distinct from the full pipeline's
    ``ocr_pipeline.assemble``.
    """
    cfg = cfg or DEFAULT

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_runtime_zip_caches()
        import numpy as np

        from ragflow_ocr_spark.kernels import ocr_pipeline

        for pdf in batches:
            rows = {
                "url": [], "warc_ts": [], "lang": [],
                "block_id": [], "bbox": [], "text": [], "score": [],
            }
            # column zip, not iterrows: iterrows materializes a Series
            # per row — an avoidable per-row constant at scale
            for url, warc_ts, lang, html, blocks in zip(
                pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["html"], pdf["blocks"]
            ):
                payload = bytes(html) if html is not None else None
                # blocks is an ndarray via Arrow — no truthiness
                if payload is None or blocks is None or len(blocks) == 0:
                    continue
                _kind, pages = ocr_pipeline.decode_payload_pages(payload, max_pages=1)
                if pages is None:
                    continue  # per-row error contract: skip, never raise
                # Arrow hands nested lists back as object arrays of
                # per-point arrays — normalize before stacking
                quads = [
                    np.array([np.asarray(p, dtype=np.float64) for p in b["bbox"]])
                    for b in blocks
                ]
                crops = ocr_pipeline.crop_boxes(pages[0], quads, cfg.ocr)
                rec = ocr_pipeline.recognize_crops(crops, cfg.ocr)
                for b, (text, score) in zip(blocks, rec):
                    rows["url"].append(url)
                    rows["warc_ts"].append(warc_ts)
                    rows["lang"].append(lang)
                    rows["block_id"].append(b["block_id"])
                    rows["bbox"].append(b["bbox"])
                    # batch-rec drop semantics: emit "" below threshold
                    rows["text"].append(text if score >= cfg.ocr.drop_score else "")
                    rows["score"].append(float(score))
            yield pd.DataFrame(rows)

    return fn
