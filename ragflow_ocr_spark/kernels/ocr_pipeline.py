"""Per-document detect→recognize orchestration.

This is the kernel-level equivalent of ``OCR.__call__``
(``/root/reference/ocr/ocr.py:535-578``) — one document in, its
extracted lines out — plus the payload router and the PDF stub route.
It is pure Python/numpy; the Spark layer feeds it Arrow batches.

Stage order (reference lifecycle, SURVEY.md §3.1):
  decode → det preprocess → det net → DB postprocess → filter boxes →
  reading-order sort → per-box perspective crop (+ rotation probe) →
  rec (ratio-sort, micro-batch 16, dynamic pad width) → CTC decode →
  scatter back → drop_score filter → join lines.
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


def _rec_one(crop: np.ndarray, cfg: OCRConfig) -> tuple[str, float]:
    return recognize_crops([crop], cfg)[0]


def ocr_image(img: np.ndarray, cfg: OCRConfig | None = None) -> OcrResult:
    """Full per-image pipeline — ``OCR.__call__`` semantics
    (``/root/reference/ocr/ocr.py:535-578``)."""
    cfg = cfg or OCRConfig()
    if img is None or img.size == 0:
        return OcrResult(None, 0, "error:null", [], [])
    boxes = detect(img, cfg)
    if boxes.shape[0] == 0:
        return OcrResult("", 0, "empty", [], [])
    # crop from the original gray plane when the page is gray — a third
    # of the warp's gather traffic; resize_norm_img restores the
    # 3-channel rec contract at crop (small) resolution
    crop_src = img
    crops = []
    for box in boxes:
        crop = get_rotate_crop_image(crop_src, box)
        crop = rotation_probe(crop, lambda c: _rec_one(c, cfg))
        crops.append(crop)
    rec_res = recognize_crops(crops, cfg)
    # drop-score filter, full-pipeline semantics: the line is DROPPED
    # (not emptied) below threshold (``ocr/ocr.py:566-571``; contrast
    # the batch-rec API which emits "" — ``ocr/ocr.py:529-532``).
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


def extract_pdf_payload(data: bytes) -> np.ndarray | None:
    """PDF route: real (minimal) PDF parse — object scan, FlateDecode/
    DCTDecode, /Type /Page discovery, image-XObject pages returned
    directly, Tj text rasterized (``kernels/pdf.py``). Legacy fallback:
    early fixture PDFs embedded a bare PNG in a stream object; if the
    structured parse fails we still locate and decode that."""
    try:
        from ragflow_ocr_spark.kernels import pdf

        return pdf.pdf_to_image(data)
    except Exception:
        # router contract: a malformed PDF is a per-row error (None →
        # status error:decode), never a task failure — the parser's
        # tokenizer can surface Index/Key/ValueError on crafted input
        pass
    i = data.find(pngcodec.PNG_MAGIC)
    if i < 0:
        return None
    try:
        return pngcodec.decode_png(data[i:])
    except ValueError:
        return None


IMAGE_KINDS = ("png", "jpeg", "gif", "webp", "bmp", "tiff", "jp2",
               "avif", "heic", "pdf")


def decode_payload_image(data: bytes | None) -> tuple[str, np.ndarray | None]:
    """(kind, image-or-None): the ONE decoder router for binary image
    payloads — png/jpeg/bmp/tiff (cv2.imdecode's format set,
    ``/root/reference/ocr/operators.py:37-46``) plus the pdf stub
    route. None image = decode failure or a non-image kind; never
    raises (per-row error contract)."""
    kind = pngcodec.sniff_payload(data)
    if kind == "pdf":
        return kind, extract_pdf_payload(data)
    if kind == "png":
        dec = pngcodec.decode_png
    elif kind == "webp":
        from ragflow_ocr_spark.kernels import webp

        dec = webp.decode_webp
    elif kind == "jp2":
        from ragflow_ocr_spark.kernels import jpeg2000

        dec = jpeg2000.decode_jpeg2000
    elif kind in ("jpeg", "gif", "bmp", "tiff"):
        from ragflow_ocr_spark.kernels import imgcodecs

        dec = {
            "jpeg": imgcodecs.decode_jpeg,
            "gif": imgcodecs.decode_gif,
            "bmp": imgcodecs.decode_bmp,
            "tiff": imgcodecs.decode_tiff,
        }[kind]
    elif kind in ("heic", "avif"):
        # HEIF item layer is real (kernels/heif); PCM hvc1 items
        # decode, entropy-coded camera HEICs and AVIF hit the named
        # codec seams below
        from ragflow_ocr_spark.kernels import heif

        dec = heif.decode_heif
    else:
        return kind, None
    try:
        return kind, dec(data)
    except ValueError:
        return kind, None
    except NotImplementedError:
        # lossy-WebP / HEVC-entropy / AV1 seams: decodable container,
        # unbundled codec — same per-row error surface as any decode
        # failure here
        return kind, None


def extract_payload(data: bytes | None, cfg: OCRConfig | None = None) -> OcrResult:
    """Route one payload by magic bytes (F10) and extract.

    HTML routing is handled a level up (the Spark stage splits HTML
    rows to the html_extract kernel); this function owns the binary
    routes: png/jpeg/bmp/tiff/pdf/null.
    """
    cfg = cfg or OCRConfig()
    kind = pngcodec.sniff_payload(data)
    if kind == "pdf":
        # multi-page route: OCR every page (bounded), join page texts
        try:
            from ragflow_ocr_spark.kernels import pdf

            pages = pdf.pdf_to_images(data)
        except Exception:
            img = extract_pdf_payload(data)  # legacy embedded-PNG fallback
            if img is None:
                return OcrResult(None, 0, "error:decode", [], [])
            pages = [img]
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
    kind, img = decode_payload_image(data)
    if kind == "null":
        return OcrResult(None, 0, "error:null", [], [])
    if img is None:
        status = "error:decode" if kind in IMAGE_KINDS else "error:route"
        return OcrResult(None, 0, status, [], [])
    return ocr_image(img, cfg)
