"""Differentiable-Binarization (DB) postprocess: probability map → text
quads + scores.

Semantics of the reference's ``DBPostProcess`` quad path
(``/root/reference/ocr/postprocess.py:55-259``), with cv2/pyclipper
replaced by the numpy primitives in ``imgeom``:

1. binarize:   seg = prob > ``DET_DB_THRESH``=0.3   (postprocess.py:237)
2. regions:    connected components ⇔ findContours  (postprocess.py:125-130)
3. per region (first ``MAX_CANDIDATES``=1000, postprocess.py:132):
   a. min-area rect; drop if min side < ``MIN_SIZE``=3
                                                    (postprocess.py:134-139)
   b. score = mean prob inside quad (box_score_fast, postprocess.py:142-147);
      drop if < ``DET_DB_BOX_THRESH``=0.5
   c. unclip by ``DET_DB_UNCLIP_RATIO``=1.5         (postprocess.py:148-149)
   d. min-area rect again; drop if min side < ``MIN_SIZE``+2
                                                    (postprocess.py:150-152)
   e. rescale to source pixels: round(x / net_w · src_w) clipped to
      [0, src_w] — clip hi is dest_width, NOT dest_width−1 (quirk
      preserved, postprocess.py:154-158)
4. ``filter_tag_det_res`` (``/root/reference/ocr/ocr.py:307-321``):
   clockwise order, clip into the image, drop quads with side ≤ 3 px.

The reference's OCR wires ``box_type='quad'`` and ``score_mode='fast'``
(``ocr/ocr.py:268-273``); its poly and slow modes are not mirrored.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.imgeom import (
    clip_quad,
    connected_components,
    min_area_rect,
    order_points_clockwise,
    quad_mask_mean,
    unclip_poly,
)

# the reference's DB thresholds (ocr/config.py:34-36, postprocess.py:55-67)
DET_DB_THRESH = 0.3
DET_DB_BOX_THRESH = 0.5
DET_DB_UNCLIP_RATIO = 1.5
MAX_CANDIDATES = 1000
MIN_SIZE = 3


def db_postprocess(
    prob: np.ndarray,
    src_h: int,
    src_w: int,
) -> tuple[np.ndarray, list[float]]:
    """prob (H, W) float in [0,1] → (boxes (N,4,2) float64 in source
    coords, scores). Box corner order: TL,TR,BR,BL."""
    net_h, net_w = prob.shape
    seg = prob > DET_DB_THRESH
    regions = connected_components(seg, max_regions=MAX_CANDIDATES)

    boxes: list[np.ndarray] = []
    scores: list[float] = []
    for pts in regions:
        quad, sside = min_area_rect(pts.astype(np.float64))
        if sside < MIN_SIZE:
            continue
        score = quad_mask_mean(prob, quad)
        if score < DET_DB_BOX_THRESH:
            continue
        expanded = unclip_poly(quad, DET_DB_UNCLIP_RATIO)
        quad2, sside2 = min_area_rect(expanded)
        if sside2 < MIN_SIZE + 2:
            continue
        boxes.append(quad2)
        scores.append(score)

    if not boxes:
        return np.zeros((0, 4, 2), dtype=np.float64), []
    # rescale every box at once (the same per-element divide, multiply,
    # round and clip as one box at a time): round(x / net_w · src_w)
    # clipped to [0, src_w], hi is dest_width, not dest_width−1
    # (postprocess.py:154-158)
    src = np.array([src_w, src_h], dtype=np.float64)
    net = np.array([net_w, net_h], dtype=np.float64)
    return np.clip(np.round(np.stack(boxes) / net * src), 0, src), scores


def filter_tag_det_res(boxes: np.ndarray, src_h: int, src_w: int) -> np.ndarray:
    """Clockwise order + clip + degenerate-size filter
    (``/root/reference/ocr/ocr.py:307-321``)."""
    kept = []
    for box in boxes:
        b = order_points_clockwise(box)
        b = clip_quad(b, src_h, src_w)
        rect_w = int(np.linalg.norm(b[0] - b[1]))
        rect_h = int(np.linalg.norm(b[0] - b[3]))
        if rect_w <= 3 or rect_h <= 3:
            continue
        kept.append(b)
    if not kept:
        return np.zeros((0, 4, 2), dtype=np.float64)
    return np.stack(kept)
