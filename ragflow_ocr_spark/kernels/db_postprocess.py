"""Differentiable-Binarization (DB) postprocess: probability map → text
quads + scores.

Semantics of the reference's ``DBPostProcess`` quad path
(``/root/reference/ocr/postprocess.py:55-259``), with cv2/pyclipper
replaced by the numpy primitives in ``imgeom``:

1. binarize:   seg = prob > thresh (0.3)            (postprocess.py:237)
2. regions:    connected components ⇔ findContours  (postprocess.py:125-130)
3. per region (first ``max_candidates``=1000, postprocess.py:132):
   a. min-area rect; drop if min side < ``min_size``=3
                                                    (postprocess.py:134-139)
   b. score = mean prob inside quad (box_score_fast, postprocess.py:142-147);
      drop if < ``box_thresh``=0.5
   c. unclip by ``unclip_ratio``=1.5                (postprocess.py:148-149)
   d. min-area rect again; drop if min side < ``min_size``+2
                                                    (postprocess.py:150-152)
   e. rescale to source pixels: round(x / net_w · src_w) clipped to
      [0, src_w] — clip hi is dest_width, NOT dest_width−1 (quirk
      preserved, postprocess.py:154-158)
4. ``filter_tag_det_res`` (``/root/reference/ocr/ocr.py:307-321``):
   clockwise order, clip into the image, drop quads with side ≤ 3 px.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.config import OCRConfig
from ragflow_ocr_spark.kernels.imgeom import (
    approx_poly_dp,
    clip_quad,
    connected_components,
    min_area_rect,
    order_points_clockwise,
    poly_mask_mean,
    poly_perimeter,
    quad_mask_mean,
    region_boundaries,
    unclip_poly,
    unclip_quad,
)


def boxes_from_prob_map(
    prob: np.ndarray,
    src_h: int,
    src_w: int,
    cfg: OCRConfig | None = None,
) -> tuple[np.ndarray, list[float]]:
    """prob (H, W) float in [0,1] → (boxes (N,4,2) float64 in source
    coords, scores). Box corner order: TL,TR,BR,BL."""
    cfg = cfg or OCRConfig()
    net_h, net_w = prob.shape
    seg = prob > cfg.det_db_thresh
    regions = connected_components(seg, max_regions=cfg.max_candidates)
    # slow score mode: mean over the exact region contour polygon, not
    # the min-rect quad (box_score_slow, postprocess.py:211-230;
    # selected at postprocess.py:142-145). Passing the precomputed
    # regions skips a second labeling pass and makes boundary[i] ↔
    # regions[i] alignment hold by construction.
    slow = cfg.det_score_mode == "slow"
    boundaries = region_boundaries(seg, regions=regions) if slow else None

    boxes: list[np.ndarray] = []
    scores: list[float] = []
    for ridx, pts in enumerate(regions):
        quad, sside = min_area_rect(pts.astype(np.float64))
        if sside < cfg.min_size:
            continue
        if slow:
            score = poly_mask_mean(prob, boundaries[ridx].astype(np.float64))
        else:
            score = quad_mask_mean(prob, quad)
        if score < cfg.det_db_box_thresh:
            continue
        expanded = unclip_quad(quad, cfg.det_db_unclip_ratio)
        quad2, sside2 = min_area_rect(expanded)
        if sside2 < cfg.min_size + 2:
            continue
        boxes.append(quad2)
        scores.append(score)

    if not boxes:
        return np.zeros((0, 4, 2), dtype=np.float64), []
    # rescale every box at once: the same per-element divide, multiply,
    # round and clip as one box at a time
    return _to_source(np.stack(boxes), net_h, net_w, src_h, src_w), scores


def _to_source(pts: np.ndarray, net_h: int, net_w: int, src_h: int, src_w: int) -> np.ndarray:
    """Net-resolution (..., 2) points → source pixels: round(x / net_w ·
    src_w) clipped to [0, src_w] (hi is dest_width, not dest_width−1 —
    ``postprocess.py:154-158``)."""
    src = np.array([src_w, src_h], dtype=np.float64)
    return np.clip(np.round(pts / np.array([net_w, net_h], dtype=np.float64) * src), 0, src)


def polygons_from_prob_map(
    prob: np.ndarray,
    src_h: int,
    src_w: int,
    cfg: OCRConfig | None = None,
) -> tuple[list[np.ndarray], list[float]]:
    """Poly-mode DB postprocess (``box_type='poly'``): probability map →
    variable-vertex text polygons + scores — semantics of the
    reference's ``polygons_from_bitmap``
    (``/root/reference/ocr/postprocess.py:69-114``):

    1. binarize; trace region outer boundaries (findContours analogue),
       first ``max_candidates`` in document order;
    2. approxPolyDP with ε = 0.002 · arcLength; < 4 vertices → drop;
    3. score = mean prob inside the polygon (box_score_fast on the
       polygon, not its min-rect); < ``box_thresh`` → drop;
    4. unclip by ``unclip_ratio`` (miter substitute — always one
       polygon, so the reference's multi-polygon skip can't trigger);
    5. min-area-rect side < ``min_size``+2 → drop;
    6. rescale to source pixels, clip hi to dest (not dest−1 — same
       quirk as the quad path, ``postprocess.py:107-111``).

    Returns a list (not a stacked array): polygons have ragged vertex
    counts. The quad path (:func:`boxes_from_prob_map`) stays the
    default, matching the reference's ``box_type='quad'`` default
    (``/root/reference/ocr/ocr.py:268``)."""
    cfg = cfg or OCRConfig()
    net_h, net_w = prob.shape
    seg = prob > cfg.det_db_thresh
    contours = region_boundaries(seg, max_regions=cfg.max_candidates)

    polys: list[np.ndarray] = []
    scores: list[float] = []
    for contour in contours:
        eps = 0.002 * poly_perimeter(contour, closed=True)
        approx = approx_poly_dp(contour.astype(np.float64), eps)
        if approx.shape[0] < 4:
            continue
        score = poly_mask_mean(prob, approx)
        if score < cfg.det_db_box_thresh:
            continue
        expanded = unclip_poly(approx, cfg.det_db_unclip_ratio)
        _, sside = min_area_rect(expanded)
        if sside < cfg.min_size + 2:
            continue
        polys.append(_to_source(expanded, net_h, net_w, src_h, src_w))
        scores.append(score)
    return polys, scores


def db_postprocess(
    prob: np.ndarray,
    src_h: int,
    src_w: int,
    cfg: OCRConfig | None = None,
):
    """``box_type`` dispatch — semantics of ``DBPostProcess.__call__``
    (``/root/reference/ocr/postprocess.py:246-256``): 'quad' →
    :func:`boxes_from_prob_map`, 'poly' →
    :func:`polygons_from_prob_map`, anything else raises."""
    cfg = cfg or OCRConfig()
    if cfg.det_box_type == "quad":
        return boxes_from_prob_map(prob, src_h, src_w, cfg)
    if cfg.det_box_type == "poly":
        return polygons_from_prob_map(prob, src_h, src_w, cfg)
    raise ValueError(
        f"box_type can only be one of ['quad', 'poly'], got {cfg.det_box_type!r}"
    )


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
