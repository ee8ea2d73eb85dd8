"""Deterministic stub networks with the reference's ONNX I/O contract.

The real models (``det.onnx``/``rec.onnx``/``ocr.res``) come from a HF
download (``/root/reference/download_models.py:23-57``) that is
unavailable in this offline sandbox, so SURVEY.md §7 hard-part 3 calls
for a first-class stub with identical shapes:

- det:  NCHW float32 (ImageNet-normalized) → prob map (N, 1, H, W)
        — DBNet's output contract (``/root/reference/ocr/ocr.py:339-353``)
- rec:  (B, 3, 48, W) float32 in [-1, 1] → logits (B, T, C)
        with class 0 = CTC blank — CRNN's contract
        (``/root/reference/ocr/ocr.py:216-235``,
        ``postprocess.py:355-366``)

The stubs are *real* in the sense that the end-to-end pipeline round
trips: text drawn with ``font5x7`` is detected (ink dilation → DB
postprocess finds line regions) and recognized (glyph segmentation +
template matching → one-hot logits → real CTC greedy decode), so golden
outputs assert genuine detect→crop→recognize behavior, not canned
strings. A production deployment swaps these for onnxruntime sessions
behind the same ``run()`` surface (see ``infer.py``).
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels import font5x7
from ragflow_ocr_spark.kernels.det_preprocess import denormalize_to_gray

# CTC charset: blank + glyph classes + space — same construction as the
# reference charset load (``/root/reference/ocr/postprocess.py:280-281``
# appends ' ' for use_space_char; ``:368-370`` prepends 'blank').
REC_CHARSET: list[str] = list(font5x7.CHARSET) + [" "]
N_CLASSES = 1 + len(REC_CHARSET)  # blank + chars
_EMIT_LOGIT = np.float32(12.0)
_BLANK_LOGIT = np.float32(6.0)
_MATCH_MAX_DIST = 0.45  # worse matches emit uniform logits → low conf


def _max_filter_1d(mask: np.ndarray, k: int, axis: int) -> np.ndarray:
    """Boolean sliding-window maximum (dilation) along one axis.

    van Herk / Gil-Werman: two cumulative passes over k-sized blocks +
    one combine — 3 memory passes regardless of window size (the naive
    k-shift OR streams k passes; k is ~41 for the det stub's word-gap
    window, so this is >10× less memory traffic)."""
    if k <= 1:
        return mask
    mask = np.moveaxis(mask, axis, -1)
    n = mask.shape[-1]
    r = k // 2
    nblocks = -(-(n + 2 * r) // k)
    padded = np.zeros(mask.shape[:-1] + (nblocks * k,), dtype=bool)
    padded[..., r : r + n] = mask
    blocks = padded.reshape(*mask.shape[:-1], nblocks, k)
    fwd = np.logical_or.accumulate(blocks, axis=-1).reshape(
        *mask.shape[:-1], nblocks * k
    )
    bwd = np.logical_or.accumulate(blocks[..., ::-1], axis=-1)[..., ::-1].reshape(
        *mask.shape[:-1], nblocks * k
    )
    # window [i, i+k) max = bwd[i] | fwd[i+k-1]
    out = bwd[..., : n] | fwd[..., k - 1 : k - 1 + n]
    return np.moveaxis(out, -1, axis)


class DetStubNet:
    """Ink-density 'detector': probability 0.95 on a dilated ink mask.

    The horizontal dilation window (w/64) merges inter-glyph and
    inter-word gaps into line regions — emulating DBNet emitting one
    region per text line.
    """

    def run(self, nchw: np.ndarray) -> np.ndarray:
        gray = denormalize_to_gray(nchw)  # HW in [0,1], paper≈1 ink≈0
        ink = gray < 0.5
        # fixed window bridging word gaps (≤ ~11 advance units ≤ 40 px
        # at glyph scale ≤3) so one region == one text line; a
        # width-relative window under-merges narrow pages
        dil = _max_filter_1d(ink, 41, axis=1)
        dil = _max_filter_1d(dil, 3, axis=0)
        prob = np.where(dil, np.float32(0.95), np.float32(0.0))
        return prob[None, None, :, :]


_GRID_CACHE: dict[tuple[int, int, int, int], tuple] = {}


def _grid_coeffs(h: int, w: int, out_h: int, out_w: int) -> tuple:
    """Interpolation indices/weights for _resample_grid, cached by
    (h, w, out_h, out_w) — glyph sizes repeat constantly (same font,
    same scale), and the linspace/clip/floor per call was ~30% of the
    rec stub's time (profiled)."""
    key = (h, w, out_h, out_w)
    got = _GRID_CACHE.get(key)
    if got is not None:
        return got

    def interp(coords: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        i0 = np.clip(np.floor(coords).astype(np.int64), 0, n)
        i1 = np.minimum(i0 + 1, n)
        f = coords - i0
        return i0, i1, f

    ye = np.linspace(0, h, out_h + 1)
    xe = np.linspace(0, w, out_w + 1)
    y0, y1, fy = interp(ye, h)
    x0, x1, fx = interp(xe, w)
    areas = np.outer(np.diff(ye), np.diff(xe))
    got = (y0, y1, fy[:, None], x0, x1, fx[None, :], np.maximum(areas, 1e-9))
    if len(_GRID_CACHE) < 4096:
        _GRID_CACHE[key] = got
    return got


def _resample_grid(mask: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-average resample of a float mask onto an out_h×out_w grid —
    stable canonicalization for template matching.

    Vectorized via the integral image: for a piecewise-constant source,
    the exact integral over a fractional window is the bilinear
    interpolation of the cumulative sum at the window's fractional
    corners (hot path — runs once per glyph)."""
    h, w = mask.shape
    m = mask.astype(np.float64)
    s = np.zeros((h + 1, w + 1))
    s[1:, 1:] = m.cumsum(0).cumsum(1)
    y0, y1, fy, x0, x1, fx, areas = _grid_coeffs(h, w, out_h, out_w)
    # S at fractional rows, then fractional cols: (out_h+1, w+1) → (out_h+1, out_w+1)
    rows = s[y0] * (1 - fy) + s[y1] * fy
    grid = rows[:, x0] * (1 - fx) + rows[:, x1] * fx
    out = (
        grid[1:, 1:] - grid[:-1, 1:] - grid[1:, :-1] + grid[:-1, :-1]
    ) / areas
    return out


def _trim(mask: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Trim a bool mask to its ink bbox; returns (sub, r0, c0)."""
    rows = np.flatnonzero(mask.any(axis=1))
    cols = np.flatnonzero(mask.any(axis=0))
    if rows.size == 0:
        return mask[:0, :0], 0, 0
    return (
        mask[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1],
        int(rows[0]),
        int(cols[0]),
    )


class _Template:
    __slots__ = ("char", "grid", "rel_cy", "rel_h")

    def __init__(self, char: str):
        g = font5x7.glyph_grid(char)
        sub, r0, _ = _trim(g)
        self.char = char
        self.grid = _resample_grid(sub, 7, 5)
        r1 = r0 + sub.shape[0] - 1
        self.rel_cy = ((r0 + r1) / 2.0) / (font5x7.GLYPH_H - 1)
        self.rel_h = sub.shape[0] / font5x7.GLYPH_H


_TEMPLATES: list[_Template] | None = None
_TMPL_GRIDS: np.ndarray | None = None  # (C, 35)
_TMPL_CY: np.ndarray | None = None
_TMPL_H: np.ndarray | None = None


def _templates() -> list[_Template]:
    global _TEMPLATES, _TMPL_GRIDS, _TMPL_CY, _TMPL_H
    if _TEMPLATES is None:
        _TEMPLATES = [_Template(c) for c in font5x7.CHARSET]
        _TMPL_GRIDS = np.stack([t.grid.ravel() for t in _TEMPLATES])
        _TMPL_CY = np.array([t.rel_cy for t in _TEMPLATES])
        _TMPL_H = np.array([t.rel_h for t in _TEMPLATES])
    return _TEMPLATES


def _classify(seg: np.ndarray, line_r0: int, line_r1: int) -> tuple[int, float]:
    """Match one glyph segment against the font templates (vectorized
    over the template axis).

    Returns (class index into REC_CHARSET, distance). Position features
    (rel_cy, rel_h within the line's row band) disambiguate glyphs whose
    trimmed shapes collapse to the same grid ('.', '-', full blobs).
    """
    sub, r0, _ = _trim(seg)
    if sub.size == 0:
        return -1, 1.0
    _templates()
    grid = _resample_grid(sub, 7, 5).ravel()
    line_h = max(line_r1 - line_r0, 1)
    rel_cy = ((r0 + r0 + sub.shape[0] - 1) / 2.0) / line_h
    rel_h = sub.shape[0] / (line_h + 1)
    d = (
        np.abs(_TMPL_GRIDS - grid).mean(axis=1)
        + 1.5 * np.abs(rel_cy - _TMPL_CY)
        + 1.0 * np.abs(rel_h - _TMPL_H)
    )
    best_i = int(np.argmin(d))
    return best_i, float(d[best_i])


def _classify_batch(
    jobs: list[tuple[np.ndarray, float, float]],
) -> list[tuple[int, float]]:
    """Batched ``_classify``: ``jobs`` are (trimmed_sub, rel_cy, rel_h).

    Glyph shapes repeat constantly (one font, few scales), so grouping
    by (h, w) yields large batches: one 3-D integral-image resample and
    one (k, C) distance matrix per shape group replaces k Python-level
    calls. Bit-identical to the scalar path (same float64 ops in the
    same order per element); pinned by
    tests/test_stubnet.py::test_classify_batch_matches_scalar.
    """
    out: list[tuple[int, float]] = [(-1, 1.0)] * len(jobs)
    _templates()
    groups: dict[tuple[int, int], list[int]] = {}
    for j, (sub, _cy, _rh) in enumerate(jobs):
        if sub.size:
            groups.setdefault(sub.shape, []).append(j)
    for (h, w), idxs in groups.items():
        k = len(idxs)
        m = np.empty((k, h, w), dtype=np.float64)
        for t, j in enumerate(idxs):
            m[t] = jobs[j][0]
        s = np.zeros((k, h + 1, w + 1))
        s[:, 1:, 1:] = m.cumsum(axis=1).cumsum(axis=2)
        y0, y1, fy, x0, x1, fx, areas = _grid_coeffs(h, w, 7, 5)
        rows = s[:, y0] * (1 - fy) + s[:, y1] * fy
        grid = rows[:, :, x0] * (1 - fx) + rows[:, :, x1] * fx
        g = (
            grid[:, 1:, 1:]
            - grid[:, :-1, 1:]
            - grid[:, 1:, :-1]
            + grid[:, :-1, :-1]
        ) / areas
        # arithmetic over strided views can come out non-C-contiguous,
        # and a strided operand changes the pairwise-sum ORDER inside
        # mean(axis=2) by an ulp vs the scalar path — force C order so
        # the batched distances are bit-identical to _classify
        grids = np.ascontiguousarray(g).reshape(k, -1)
        cy = np.array([jobs[j][1] for j in idxs])
        rh = np.array([jobs[j][2] for j in idxs])
        d = (
            np.abs(grids[:, None, :] - _TMPL_GRIDS[None, :, :]).mean(axis=2)
            + 1.5 * np.abs(cy[:, None] - _TMPL_CY[None, :])
            + 1.0 * np.abs(rh[:, None] - _TMPL_H[None, :])
        )
        best = np.argmin(d, axis=1)
        dmin = d[np.arange(k), best]
        for t, j in enumerate(idxs):
            out[j] = (int(best[t]), float(dmin[t]))
    return out


def _dominant_row_band(ink: np.ndarray) -> np.ndarray:
    """Keep only the row band (run of consecutive inked rows) with the
    most ink mass. Detection boxes are unclip-expanded
    (postprocess.py:148-149 semantics), so a crop can catch a sliver of
    the neighboring text line at its top/bottom edge; a real CRNN
    attends to the dominant line — the stub does it explicitly."""
    rowink = ink.any(axis=1)
    if not rowink.any():
        return ink
    d = np.diff(np.concatenate(([0], rowink.view(np.uint8), [0])))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    if starts.size <= 1:
        return ink
    masses = [int(ink[r0:r1].sum()) for r0, r1 in zip(starts, ends)]
    k = int(np.argmax(masses))
    out = np.zeros_like(ink)
    out[starts[k] : ends[k]] = ink[starts[k] : ends[k]]
    return out


def _segment_line(ink: np.ndarray) -> list[tuple[int, int, bool]]:
    """Column-projection glyph segmentation.

    Returns [(c0, c1, space_before)] — contiguous ink column runs. A
    run is flagged space_before via the glyph ADVANCE (start-to-start
    distance): consecutive letters advance exactly 6 font units, a
    word gap 12, so gaps > 1.5 × the median advance are spaces. The
    advance is scale-invariant and — unlike trimmed-ink gap widths —
    insensitive to narrow glyphs ('.', '1', ':').
    """
    colink = ink.any(axis=0)
    d = np.diff(np.concatenate(([0], colink.view(np.uint8), [0])))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    if starts.size == 0:
        return []
    segs: list[tuple[int, int, bool]] = []
    if starts.size == 1:
        return [(int(starts[0]), int(ends[0]), False)]
    deltas = np.diff(starts)
    med_adv = float(np.median(deltas))
    for i, (c0, c1) in enumerate(zip(starts, ends)):
        space = bool(i > 0 and (c0 - starts[i - 1]) > 1.5 * med_adv)
        segs.append((int(c0), int(c1), space))
    return segs


class RecStubNet:
    """Glyph-template 'recognizer' emitting CTC-shaped logits.

    Output (B, T, N_CLASSES): per recognized glyph the sequence
    [blank, class] so real CTC greedy decode (adjacent-dup + blank
    removal, ``/root/reference/ocr/postprocess.py:311-341``) recovers
    the text, including doubled letters. Unmatchable segments
    (distance > 0.45) emit uniform logits → low per-step confidence →
    the line lands under drop_score and is filtered (F2).
    """

    def run(self, batch: np.ndarray) -> np.ndarray:
        b = batch.shape[0]
        # two-phase: segment every line first, then classify EVERY
        # glyph of the whole micro-batch in one _classify_batch call
        # (shape-grouped vectorization) — the per-glyph scalar path was
        # the rec stub's hot loop (~80 Python calls per crop, profiled
        # at >40% of extraction CPU).
        per_img_plan: list[list[tuple[bool, int]]] = []  # (space, job or -1)
        jobs: list[tuple[np.ndarray, float, float]] = []
        for i in range(b):
            # channel 0 only — crops are replicated-gray RGB (see
            # denormalize_to_gray); [-1, 1]; ink ≈ −1, paper ≈ +1
            gray = batch[i][0]
            # right zero-padding (reference pads zeros,
            # ocr/ocr.py:180-184) sits at exactly 0 — strip it before
            # thresholding so a permissive ink cutoff can't eat the pad
            content = np.flatnonzero(np.abs(gray).max(axis=0) > 0.5)
            if content.size == 0:
                per_img_plan.append([])
                continue
            gray = gray[:, : content[-1] + 1]
            # permissive cutoff keeps thin antialiased strokes (X/V
            # diagonals) connected after bilinear rescale
            ink = gray < 0.25
            ink = _dominant_row_band(ink)
            sub, r0, c0 = _trim(ink)
            plan: list[tuple[bool, int]] = []
            if sub.size:
                segs = _segment_line(sub)
                line_h = max(sub.shape[0] - 1, 1)
                for cs, ce, space in segs:
                    sub_g, g_r0, _ = _trim(sub[:, cs:ce])
                    if sub_g.size == 0:
                        if space:
                            plan.append((True, -1))
                        continue
                    rel_cy = (
                        (g_r0 + g_r0 + sub_g.shape[0] - 1) / 2.0
                    ) / line_h
                    rel_h = sub_g.shape[0] / (line_h + 1)
                    plan.append((space, len(jobs)))
                    jobs.append((sub_g, rel_cy, rel_h))
            per_img_plan.append(plan)

        results = _classify_batch(jobs)
        space_cls = REC_CHARSET.index(" ") + 1  # +1 for blank
        per_img: list[list[tuple[int, float]]] = []
        for plan in per_img_plan:
            emits: list[tuple[int, float]] = []
            for space, job in plan:
                if space:
                    emits.append((space_cls, 0.0))
                if job >= 0:
                    cls, dist = results[job]
                    emits.append((cls + 1, dist))
            per_img.append(emits)

        t = max((2 * len(e) + 1 for e in per_img), default=1)
        logits = np.zeros((b, t, N_CLASSES), dtype=np.float32)
        logits[:, :, 0] = _BLANK_LOGIT
        for i, emits in enumerate(per_img):
            for j, (cls, dist) in enumerate(emits):
                step = 2 * j + 1
                if dist <= _MATCH_MAX_DIST:
                    logits[i, step, :] = 0.0
                    logits[i, step, cls] = _EMIT_LOGIT
                else:
                    # garbage: uniform logits → argmax picks class 0 is
                    # ambiguous; bias the matched class epsilon above
                    # blank so the step emits with ~1/C confidence.
                    logits[i, step, :] = 0.0
                    logits[i, step, cls] = np.float32(0.01)
        return logits
