"""Per-document detect→recognize orchestration.

This is the kernel-level equivalent of ``OCR.__call__``
(``/root/reference/ocr/ocr.py:535-578``) — one document in, its
extracted lines out. It is pure Python/numpy; the Spark layer feeds it
Arrow batches.

``decode_payload_pages`` maps a payload to its page images (raster
kinds through ``pngcodec.decode_image``, PDFs through one
``pdf.pdf_to_images`` parse). Each page then runs the phase functions
``detect`` → ``crop_boxes`` → ``recognize_crops`` → ``assemble``;
``ocr_image`` chains them, and the staged detect/recognize API
(spark/stages.py) calls the same phases.

Stage order (reference lifecycle, SURVEY.md §3.1):
  decode → det preprocess → det net → DB postprocess → filter boxes →
  reading-order sort → per-box perspective crop (+ rotation probe) →
  rec (ratio-sort, micro-batch 16, dynamic pad width) → CTC decode →
  scatter back → drop_score filter → join lines.

The callees (``detect``, ``det_preprocess``, ``db_postprocess``,
``get_rotate_crop_image``, ``rotation_probe``, ``recognize_crops``,
``ctc_greedy_decode``, ``run_with_retry``) are called through this
module's globals, so a wrapper set on the module attribute sees every
call.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ragflow_ocr_spark.config import OCRConfig
from ragflow_ocr_spark.kernels import pngcodec
from ragflow_ocr_spark.kernels.crop import get_rotate_crop_image, rotation_probe
from ragflow_ocr_spark.kernels.ctc import ctc_greedy_decode
from ragflow_ocr_spark.kernels.db_postprocess import (
    db_postprocess,
    filter_tag_det_res,
)
from ragflow_ocr_spark.kernels.det_preprocess import det_preprocess
from ragflow_ocr_spark.kernels.imgeom import min_area_rect, resize_bilinear
from ragflow_ocr_spark.kernels.infer import get_det_net, get_rec_net, run_with_retry
from ragflow_ocr_spark.kernels.reading_order import sorted_boxes
from ragflow_ocr_spark.kernels.stubnet import REC_CHARSET


@dataclass
class OcrResult:
    text: str | None
    n_blocks: int
    status: str
    boxes: list[list[list[float]]]  # (n, 4, 2) quads in source coords
    scores: list[float]


def _to_rgb(img: np.ndarray) -> np.ndarray:
    if img.ndim == 2:
        # broadcast view, no copy — downstream only reads
        return np.broadcast_to(img[:, :, None], (*img.shape, 3))
    return img


def detect(img: np.ndarray, cfg: OCRConfig) -> np.ndarray:
    """Gray or RGB uint8 → reading-ordered quads (N,4,2) in source
    coords. Kernel equivalent of ``OCR.detect``
    (``/root/reference/ocr/ocr.py:490-509``).

    ``det_box_type='poly'`` routes through the poly postprocess and
    reduces each polygon to its min-area rect for the downstream quad
    contract (the reference's crop path is quad-only too — its poly
    mode would crash in ``get_rotate_crop_image``; reducing instead of
    crashing is our documented deviation). Invalid values raise."""
    src_h, src_w = img.shape[:2]
    nchw, _ = det_preprocess(img, cfg.det_limit_side_len)
    prob = run_with_retry(get_det_net(cfg.det_model), nchw)[0, 0]
    boxes, _scores = db_postprocess(prob, src_h, src_w, cfg)
    if cfg.det_box_type == "poly":
        quads = [min_area_rect(p)[0] for p in boxes]
        boxes = (
            np.stack(quads) if quads else np.zeros((0, 4, 2), dtype=np.float64)
        )
    boxes = filter_tag_det_res(boxes, src_h, src_w)
    if boxes.shape[0] == 0:
        return boxes
    return np.stack(sorted_boxes(boxes))


def resize_norm_img(img: np.ndarray, out: np.ndarray) -> None:
    """Rec crop → its (3, rec_h, W) float32 input in [-1,1], written
    into ``out``, which arrives zeroed.

    Semantics of ``TextRecognizer.resize_norm_img``
    (``/root/reference/ocr/ocr.py:161-185``): W = int(rec_h ·
    max_wh_ratio) — TRUNCATED, not ceil (``ocr.py:166``); resize to
    h=rec_h, w=min(ceil(rec_h·ar), W); normalize /255 → −0.5 → /0.5;
    the right pad stays zero. W and rec_h come from ``out``'s shape:
    the caller sizes the batch from its micro-batch's max ratio.
    """
    rec_h, img_w = out.shape[1:]
    h, w = img.shape[:2]
    ratio = w / float(h)
    resized_w = img_w if math.ceil(rec_h * ratio) > img_w else int(
        math.ceil(rec_h * ratio)
    )
    resized_w = max(resized_w, 1)
    norm = resize_bilinear(img, rec_h, resized_w)  # a fresh float32 array
    norm /= 255.0
    norm -= 0.5
    norm /= 0.5
    # a gray crop broadcasts its one plane to all three channels — the
    # same values as repeat→transpose at a third of the arithmetic
    out[:, :, :resized_w] = norm if norm.ndim == 2 else norm.transpose(2, 0, 1)


def recognize_crops(
    crops: list[np.ndarray], cfg: OCRConfig
) -> list[tuple[str, float]]:
    """Batch recognition with the reference's exact micro-batching:
    argsort by aspect ratio (``ocr/ocr.py:196-201``), micro-batches of
    ``rec_batch_num``=16, per-micro-batch dynamic pad width from the
    max ratio (``ocr/ocr.py:209-215``), scatter results back to input
    order via the sort permutation (``ocr/ocr.py:236-237``)."""
    n = len(crops)
    results: list[tuple[str, float] | None] = [None] * n
    if n == 0:
        return []
    ratios = [c.shape[1] / float(c.shape[0]) for c in crops]
    indices = np.argsort(np.array(ratios), kind="stable")
    rec_h = cfg.rec_image_height
    net = get_rec_net(cfg.rec_model)
    for beg in range(0, n, cfg.rec_batch_num):
        end = min(n, beg + cfg.rec_batch_num)
        # per-micro-batch pad width seeded at imgW/imgH = 320/48 — the
        # reference floor (``ocr.py:211``): narrow batches still pad to
        # the model's native width. Bytes-affecting; kept verbatim.
        max_wh_ratio = cfg.rec_image_width * 1.0 / rec_h
        for k in range(beg, end):
            max_wh_ratio = max(max_wh_ratio, ratios[indices[k]])
        batch = np.zeros(
            (end - beg, 3, rec_h, int(rec_h * max_wh_ratio)), dtype=np.float32
        )
        for k in range(beg, end):
            resize_norm_img(crops[indices[k]], batch[k - beg])
        logits = run_with_retry(net, batch)
        decoded = ctc_greedy_decode(logits, REC_CHARSET)
        for k in range(beg, end):
            results[indices[k]] = decoded[k - beg]
    return [r if r is not None else ("", 0.0) for r in results]


def crop_boxes(img: np.ndarray, boxes, cfg: OCRConfig) -> list[np.ndarray]:
    """Quads (N,4,2) → rec crops in box order: perspective crop plus the
    tall-crop rotation probe (reference ``ocr/ocr.py:411-464``).

    A gray page is cropped from its gray plane — a third of the warp's
    gather traffic; ``resize_norm_img`` restores the 3-channel rec
    contract at crop (small) resolution."""
    crops = []
    for box in boxes:
        crop = get_rotate_crop_image(img, box)
        crops.append(rotation_probe(crop, lambda c: recognize_crops([c], cfg)[0]))
    return crops


def assemble(
    boxes: np.ndarray, rec_res: list[tuple[str, float]], cfg: OCRConfig
) -> OcrResult:
    """Drop-score filter and line join, full-pipeline semantics: a line
    below ``drop_score`` is DROPPED, not emptied (``ocr/ocr.py:566-571``;
    contrast the batch-rec API, which emits "" — ``ocr/ocr.py:529-532``
    and ``spark/stages.recognize_stage``)."""
    kept_lines: list[str] = []
    kept_boxes: list[list[list[float]]] = []
    kept_scores: list[float] = []
    for box, (text, score) in zip(boxes, rec_res):
        if score >= cfg.drop_score:
            kept_lines.append(text)
            kept_boxes.append(box.tolist())
            kept_scores.append(score)
    if not kept_lines:
        # distinct from detect-empty: boxes existed but every line fell
        # below drop_score — downstream quality filters need to tell
        # "blank page" from "all-low-confidence page"
        return OcrResult("", 0, "empty:dropped", [], [])
    return OcrResult("\n".join(kept_lines), len(kept_lines), "ok", kept_boxes, kept_scores)


def ocr_image(img: np.ndarray, cfg: OCRConfig | None = None) -> OcrResult:
    """Full per-image pipeline — ``OCR.__call__`` semantics
    (reference ``ocr/ocr.py:535-578``): detect → crop_boxes →
    recognize_crops → assemble."""
    cfg = cfg or OCRConfig()
    if img is None or img.size == 0:
        return OcrResult(None, 0, "error:null", [], [])
    boxes = detect(img, cfg)
    if boxes.shape[0] == 0:
        return OcrResult("", 0, "empty", [], [])
    return assemble(boxes, recognize_crops(crop_boxes(img, boxes, cfg), cfg), cfg)


IMAGE_KINDS = pngcodec.RASTER_KINDS + ("pdf",)


def decode_payload_pages(
    data: bytes | None, max_pages: int = 16
) -> tuple[str, list[np.ndarray] | None]:
    """(kind, page images or None): the one payload → pages route of
    both OCR surfaces. A raster kind decodes to one page through
    ``pngcodec.decode_image``. A PDF is parsed once by
    ``pdf.pdf_to_images`` (up to ``max_pages``); if that parse fails,
    the first bare PNG embedded in the bytes is the page (early fixture
    PDFs stored one in a stream object). None = decode failure or a
    non-image kind; never raises (per-row error contract)."""
    kind = pngcodec.sniff_payload(data)
    if kind == "pdf":
        from ragflow_ocr_spark.kernels import pdf

        try:
            return kind, pdf.pdf_to_images(data, max_pages)
        except Exception:
            # a malformed PDF is a per-row error, never a task failure:
            # the parser can surface Index/Key/ValueError on crafted input
            pass
        i = data.find(pngcodec.PNG_MAGIC)
        if i < 0:
            return kind, None
        try:
            return kind, [pngcodec.decode_png(data[i:])]
        except ValueError:
            return kind, None
    try:
        return kind, [pngcodec.decode_image(data)[1]]
    except (ValueError, NotImplementedError):
        # NotImplementedError: a non-image kind, or a decodable container
        # around an unbundled codec (AVIF, unsupported HEVC) — the same
        # per-row error surface as any decode failure
        return kind, None


def extract_payload(data: bytes | None, cfg: OCRConfig | None = None) -> OcrResult:
    """Route one payload by magic bytes (F10) and extract; a PDF's pages
    are OCRed in turn and their texts joined.

    HTML routing is handled a level up (the Spark stage splits HTML
    rows to the html_extract kernel); this function owns the binary
    routes: the raster kinds, pdf and null.
    """
    cfg = cfg or OCRConfig()
    kind, pages = decode_payload_pages(data)
    if kind == "null":
        return OcrResult(None, 0, "error:null", [], [])
    if pages is None:
        status = "error:decode" if kind in IMAGE_KINDS else "error:route"
        return OcrResult(None, 0, status, [], [])
    if kind != "pdf":
        return ocr_image(pages[0], cfg)
    texts: list[str] = []
    boxes: list[list[list[float]]] = []
    scores: list[float] = []
    n_blocks = 0
    any_ok = False
    any_dropped = False
    for page_img in pages:
        r = ocr_image(page_img, cfg)
        if r.status == "ok":
            any_ok = True
            texts.append(r.text)
            boxes.extend(r.boxes)
            scores.extend(r.scores)
            n_blocks += r.n_blocks
        elif r.status == "empty:dropped":
            any_dropped = True
    if not any_ok:
        # keep the blank-vs-low-confidence distinction of the
        # single-image path: if any page had detections that all
        # fell below drop_score, the doc is dropped, not blank
        return OcrResult("", 0, "empty:dropped" if any_dropped else "empty", [], [])
    return OcrResult("\n".join(texts), n_blocks, "ok", boxes, scores)
