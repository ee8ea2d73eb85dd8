"""numpy implementations of the cv2 geometry primitives the reference
relies on (cv2 is unavailable here):

- ``resize_bilinear``     ⇔ cv2.resize (INTER_LINEAR)
- ``warp_perspective``    ⇔ cv2.getPerspectiveTransform + warpPerspective
                            with BORDER_REPLICATE (``/root/reference/ocr/ocr.py:425-432``)
- ``min_area_rect``       ⇔ cv2.minAreaRect + boxPoints
                            (``/root/reference/ocr/postprocess.py:171-192``)
- ``connected_components``⇔ cv2.findContours(RETR_LIST) at the use site
                            (``/root/reference/ocr/postprocess.py:125-130``) —
                            we label regions instead of tracing contours;
                            downstream only needs each region's point set.
- ``quad_mask_mean``      ⇔ box_score_fast's fillPoly + cv2.mean
                            (``/root/reference/ocr/postprocess.py:194-209``)

All functions are deterministic pure numpy.
"""

from __future__ import annotations

import math

import numpy as np


# ---------------------------------------------------------------- resize
def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resample, align-corners=False convention (like cv2).

    Separable: each source row that is sampled is blended horizontally
    once, then the blended rows are blended vertically. Every output
    element sees the same float32 products and sums, in the same
    order, as the four-corner form ``top·(1−wy) + bot·wy`` with
    ``top = g00·(1−wx) + g01·wx`` — the output is bit-identical, while
    the horizontal blend runs on at most ``h`` rows instead of
    ``2·out_h``."""
    h, w = img.shape[:2]
    if h == out_h and w == out_w:
        return img.astype(np.float32) if img.dtype != np.float32 else img.copy()
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    ys = np.clip(ys, 0, h - 1)
    xs = np.clip(xs, 0, w - 1)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (ys - y0).astype(np.float32)[:, None]
    wx = (xs - x0).astype(np.float32)[None, :]
    if img.ndim == 3:
        wy = wy[..., None]
        wx = wx[..., None]
    # y0 and y1 are sorted, so the sampled rows and each output row's
    # index into them come from one merge and two searchsorted calls.
    # Corner grids are gathered at output width and cast AFTER the
    # gather (no full-resolution float intermediates); the blends run
    # in place on those fresh arrays.
    rows = np.union1d(y0, y1)
    src = img if len(rows) == h else img[rows]
    hz = src.take(x0, axis=1).astype(np.float32, copy=False)
    hz *= 1 - wx
    t = src.take(x1, axis=1).astype(np.float32, copy=False)
    t *= wx
    hz += t
    out = hz[np.searchsorted(rows, y0)]
    out *= 1 - wy
    t = hz[np.searchsorted(rows, y1)]
    t *= wy
    out += t
    return out


# ------------------------------------------------------------ perspective
def perspective_matrix(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """3×3 homography mapping 4 src points to 4 dst points."""
    a = np.zeros((8, 8), dtype=np.float64)
    b = np.zeros(8, dtype=np.float64)
    for i in range(4):
        x, y = float(src[i, 0]), float(src[i, 1])
        u, v = float(dst[i, 0]), float(dst[i, 1])
        a[2 * i] = [x, y, 1, 0, 0, 0, -u * x, -u * y]
        a[2 * i + 1] = [0, 0, 0, x, y, 1, -v * x, -v * y]
        b[2 * i] = u
        b[2 * i + 1] = v
    coef = np.linalg.solve(a, b)
    return np.append(coef, 1.0).reshape(3, 3)


def warp_perspective(
    img: np.ndarray, m: np.ndarray, out_w: int, out_h: int
) -> np.ndarray:
    """Inverse-map the destination grid through m⁻¹; bilinear sample with
    border replicate (matches the reference's warp flags,
    ``/root/reference/ocr/ocr.py:425-431`` modulo INTER_CUBIC→LINEAR —
    goldens are pinned to this implementation)."""
    minv = np.linalg.inv(m)
    if img.dtype != np.uint8:
        # non-uint8 sources keep the historical cast-to-f32-first
        # semantics (uint8 skips it: promotion inside the blend is
        # exact and saves four full-size casts)
        img = img.astype(np.float32)
    # Every numpy op has a fixed cost and a pass over the output grid,
    # so the body is written for MINIMUM op count: 1-D row/column
    # factors broadcast instead of meshgrid, in-place adds/divides,
    # floor-by-truncation (valid: coords are clipped non-negative), and
    # uint8 corner grids fed straight into the float32 blend
    # (uint8→float32 promotion is exact). Every element sees the same
    # IEEE ops in the same order as the naive form — output is
    # bit-identical.
    xs = np.arange(out_w, dtype=np.float64)  # (W,)  row factor
    ys = np.arange(out_h, dtype=np.float64)[:, None]  # (H,1) col factor
    denom = minv[2, 0] * xs + minv[2, 1] * ys  # (H,W)
    denom += minv[2, 2]
    sx = minv[0, 0] * xs + minv[0, 1] * ys
    sx += minv[0, 2]
    sx /= denom
    sy = minv[1, 0] * xs + minv[1, 1] * ys
    sy += minv[1, 2]
    sy /= denom
    h, w = img.shape[:2]
    np.clip(sx, 0, w - 1, out=sx)
    np.clip(sy, 0, h - 1, out=sy)
    x0 = sx.astype(np.int64)  # truncation == floor for clipped ≥ 0
    y0 = sy.astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    sx -= x0
    sy -= y0
    fx = sx.astype(np.float32)
    fy = sy.astype(np.float32)
    if img.ndim == 3:
        fx = fx[..., None]
        fy = fy[..., None]
    omfx = 1 - fx
    omfy = 1 - fy
    out = img[y0, x0] * omfx
    out *= omfy
    t = img[y0, x1] * fx
    t *= omfy
    out += t
    t = img[y1, x0] * omfx
    t *= fy
    out += t
    t = img[y1, x1] * fx
    t *= fy
    out += t
    return out


# ------------------------------------------------------- hull + min rect
def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain. points (N,2) float → hull CCW (M,2)."""
    return np.array(_hull(points), dtype=np.float64).reshape(-1, 2)


def _hull(points: np.ndarray) -> list[tuple[float, float]]:
    """:func:`convex_hull` as a list of (x, y) float tuples.

    Dense region-pixel inputs are first reduced to per-row x-extremes —
    an EXACT reduction (a point strictly inside its row's x-range can
    never be a hull vertex), so the hull is identical while the chain
    loop sees ~2·rows points instead of every pixel. The extremes are
    deduplicated and sorted (x, then y) as tuples, and the chain runs
    on native floats — the same float64 arithmetic as numpy, at a
    fraction of the per-point overhead of numpy scalar indexing."""
    pts = np.asarray(points, dtype=np.float64).tolist()
    if len(pts) > 8:
        ext: dict[float, list[float]] = {}
        for x, y in pts:
            e = ext.get(y)
            if e is None:
                ext[y] = [x, x]
            elif x < e[0]:
                e[0] = x
            elif x > e[1]:
                e[1] = x
        pts = [(x, y) for y, e in ext.items() for x in e]
    P = sorted(set(map(tuple, pts)))
    if len(P) <= 2:
        return P
    # pop while cross(o=chain[-2], a=chain[-1], p) <= 0
    lower: list[tuple[float, float]] = []
    for p in P:
        px, py = p
        while len(lower) >= 2:
            (ox, oy), (ax, ay) = lower[-2], lower[-1]
            if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) > 0:
                break
            lower.pop()
        lower.append(p)
    upper: list[tuple[float, float]] = []
    for p in reversed(P):
        px, py = p
        while len(upper) >= 2:
            (ox, oy), (ax, ay) = upper[-2], upper[-1]
            if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) > 0:
                break
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def min_area_rect(points: np.ndarray) -> tuple[np.ndarray, float]:
    """Minimum-area enclosing rectangle via rotating calipers.

    Returns (4 corner points (4,2) float64 in rotation order, min side
    length) — the contract of the reference's ``get_mini_boxes``
    (``/root/reference/ocr/postprocess.py:171-192``), which also
    re-orders corners; we apply the same x-sort + y-disambiguation.
    """
    pts = np.asarray(points, dtype=np.float64)
    if len(pts):
        # Axis-aligned fast path (bit-exact): if all four bbox corners
        # are present in the point set, the convex hull IS the bbox, so
        # the caliper result — after the canonicalizing corner order
        # below, which depends only on the corner SET — is exactly the
        # bbox corners with min side = min(w, h) (norms of axis-aligned
        # edges are exact: integer-valued coords < 2^26 square and sqrt
        # without rounding). Region/contour rectangles from binarized
        # text masks hit this constantly; anything else falls through
        # to the identical slow path.
        (x0, y0), (x1, y1) = pts.min(axis=0).tolist(), pts.max(axis=0).tolist()
        if x1 > x0 and y1 > y0:
            corners = {(x0, y0), (x1, y0), (x1, y1), (x0, y1)}
            if corners <= set(map(tuple, pts.tolist())):
                box = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
                return _order_rect_points(box), float(min(x1 - x0, y1 - y0))
    H = _hull(points)
    if len(H) == 1:
        box = np.array(H * 4)
        return _order_rect_points(box), 0.0
    if len(H) == 2:
        a, b = H
        box = np.array([a, b, b, a])
        return _order_rect_points(box), 0.0
    # scalar-Python calipers: hulls here are tiny (≤ ~16 vertices), so
    # numpy's fixed cost per op dwarfs the n·M float work — native
    # floats run the same IEEE-double products in the same order, and
    # one np.hypot call gives every edge norm (the same libm hypot per
    # element as the vectorized form), so results are exact.
    n = len(H)
    ex = [H[(i + 1) % n][0] - H[i][0] for i in range(n)]
    ey = [H[(i + 1) % n][1] - H[i][1] for i in range(n)]
    norms = np.hypot(ex, ey).tolist()
    best_area = np.inf
    best = None
    for ex_, ey_, norm in zip(ex, ey, norms):
        if norm == 0:
            continue
        ux, uy = ex_ / norm, ey_ / norm
        x0 = x1 = H[0][0] * ux + H[0][1] * uy
        y0 = y1 = H[0][0] * -uy + H[0][1] * ux
        for px, py in H[1:]:
            rx = px * ux + py * uy
            ry = px * -uy + py * ux
            if rx < x0:
                x0 = rx
            elif rx > x1:
                x1 = rx
            if ry < y0:
                y0 = ry
            elif ry > y1:
                y1 = ry
        area = (x1 - x0) * (y1 - y0)
        if area < best_area:
            best_area = area
            best = (ux, uy, x0, x1, y0, y1)
    assert best is not None
    ux, uy, x0, x1, y0, y1 = best
    corners = np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
    )
    best_box = corners @ np.array([[ux, uy], [-uy, ux]])
    w = np.linalg.norm(best_box[0] - best_box[1])
    h = np.linalg.norm(best_box[1] - best_box[2])
    return _order_rect_points(best_box), float(min(w, h))


def _order_rect_points(box: np.ndarray) -> np.ndarray:
    """x-sort then y-disambiguate corner order — same rule as the
    reference (``/root/reference/ocr/postprocess.py:173-188``):
    output order is [top-left, top-right, bottom-right, bottom-left]."""
    pts = box[np.argsort(box[:, 0], kind="stable")]
    if pts[1][1] > pts[0][1]:
        i1, i4 = 0, 1
    else:
        i1, i4 = 1, 0
    if pts[3][1] > pts[2][1]:
        i2, i3 = 2, 3
    else:
        i2, i3 = 3, 2
    return np.array([pts[i1], pts[i2], pts[i3], pts[i4]])


# --------------------------------------------------- connected components
def connected_components(mask: np.ndarray, max_regions: int = 1000) -> list[np.ndarray]:
    """Label 8-connected regions of a boolean mask from its horizontal
    runs. Each region lists, run by run in scan order, the run's left
    end and (if different) its right end — every convex-hull vertex of
    a raster region is a row extreme, so hulls over these endpoints
    equal hulls over all pixels; ``pts[0]`` is the region's
    topmost-leftmost pixel. Returns per-region point arrays (N,2) as
    (x, y) — document order (top-to-bottom scan) capped at ``max_regions``,
    mirroring the reference's ``max_candidates`` slice
    (``/root/reference/ocr/postprocess.py:132``)."""
    h, w = mask.shape
    if mask.size == 0:
        return []
    # run extraction over the WHOLE mask in one shot: a transition map
    # with one column of padding each side, one flatnonzero. Transitions
    # alternate start/end within each row and come out row-major, so
    # runs are sorted by (row, x0), the scan order.
    edge = np.empty((h, w + 1), dtype=bool)
    edge[:, 0] = mask[:, 0]
    edge[:, w] = mask[:, w - 1]
    np.not_equal(mask[:, 1:], mask[:, :-1], out=edge[:, 1:w])
    flat = np.flatnonzero(edge)
    if len(flat) == 0:
        return []
    # run r: row sy[r], ink [sx[r], ex[r])
    sy, sx = np.divmod(flat[0::2], w + 1)
    ex = flat[1::2] - sy * (w + 1)
    n_runs = len(sy)

    # 8-connectivity: run [x0, x1) meets prev-row run [px0, px1) iff
    # px0 < x1+1 and px1 > x0-1. Keyed by row·(w+3) + x, both run ends
    # are sorted over ALL runs and a key x ∈ [-1, w+1] of row y-1 stays
    # inside that row's band, so one searchsorted per side finds every
    # run's contiguous range of overlapping prev-row runs.
    band = w + 3
    key_s = sy * band + sx
    key_e = sy * band + ex
    lo = np.searchsorted(key_e, key_s - band - 1, side="right")
    hi = np.searchsorted(key_s, key_e - band + 1, side="left")
    cnt = hi - lo
    n_edges = int(cnt.sum())
    a = np.repeat(np.arange(n_runs), cnt)
    b = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(n_edges)

    # union: hook every root onto the smallest root it touches, then
    # pointer-jump until every run points at its root. A root that
    # survives two rounds has absorbed another root, so the roots of a
    # component at least halve every two rounds: O(log n) rounds even
    # on spirals and combs. Roots only ever hook onto smaller roots, so
    # each root is its component's first run in scan order.
    label = np.arange(n_runs)
    while len(a):
        ra, rb = label[a], label[b]
        live = ra != rb
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(label, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = label[label]
            if np.array_equal(up, label):
                break
            label = up

    # group runs by a stable sort on their root: regions in order of
    # their first run, runs of a region in scan order
    order = np.argsort(label, kind="stable")
    root = label[order]
    first = np.flatnonzero(np.concatenate(([True], root[1:] != root[:-1])))
    x0, x1, y = sx[order], ex[order] - 1, sy[order]
    pts = np.empty((n_runs, 2, 2), dtype=np.int64)
    pts[:, 0, 0] = x0
    pts[:, 1, 0] = x1
    pts[:, :, 1] = y[:, None]
    wide = x1 != x0
    pts = pts.reshape(-1, 2)[np.stack((np.ones_like(wide), wide), axis=1).ravel()]
    n_pts = wide + 1
    bounds = np.append((np.cumsum(n_pts) - n_pts)[first], len(pts)).tolist()
    return [pts[s:e] for s, e in zip(bounds, bounds[1:])][:max_regions]


# ------------------------------------------------------------ quad masks
def quad_mask(quad: np.ndarray, x0: int, y0: int, hh: int, ww: int) -> np.ndarray:
    """Boolean mask of a convex quad rasterized over window
    [y0, y0+hh) × [x0, x0+ww) — half-plane intersection test."""
    xs, ys = np.meshgrid(
        np.arange(x0, x0 + ww, dtype=np.float64) + 0.0,
        np.arange(y0, y0 + hh, dtype=np.float64) + 0.0,
    )
    inside = np.ones((hh, ww), dtype=bool)
    q = quad.astype(np.float64)
    # quad is ordered (either orientation); use sign of the first edge
    area2 = 0.0
    for i in range(4):
        j = (i + 1) % 4
        area2 += q[i, 0] * q[j, 1] - q[j, 0] * q[i, 1]
    sgn = 1.0 if area2 >= 0 else -1.0
    for i in range(4):
        j = (i + 1) % 4
        ex, ey = q[j, 0] - q[i, 0], q[j, 1] - q[i, 1]
        cross = ex * (ys - q[i, 1]) - ey * (xs - q[i, 0])
        inside &= sgn * cross >= 0
    return inside


def quad_mask_mean(prob: np.ndarray, quad: np.ndarray) -> float:
    """Mean of prob map inside the quad's filled polygon, evaluated over
    the quad's clipped bbox — semantics of ``box_score_fast``
    (``/root/reference/ocr/postprocess.py:194-209``)."""
    h, w = prob.shape
    # clip-then-floor equals floor-then-clip for integer bounds
    (xlo, ylo), (xhi, yhi) = quad.min(axis=0).tolist(), quad.max(axis=0).tolist()
    xmin = math.floor(min(max(xlo, 0), w - 1))
    xmax = math.ceil(min(max(xhi, 0), w - 1))
    ymin = math.floor(min(max(ylo, 0), h - 1))
    ymax = math.ceil(min(max(yhi, 0), h - 1))
    window = prob[ymin : ymax + 1, xmin : xmax + 1]
    q = quad.tolist()
    if (
        xmin < xmax
        and ymin < ymax
        and len(q) == 4
        and {tuple(p) for p in q}
        == {(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)}
        and all(q[i][0] == q[i - 1][0] or q[i][1] == q[i - 1][1] for i in range(4))
    ):
        # an axis-aligned rectangle, corners in cyclic order, whose
        # integer corners fill the clipped window: the half-plane mask
        # is all True, and the raveled window holds the same elements
        # in the same C order as window[mask] — same pairwise sum
        return float(window.ravel().mean())
    m = quad_mask(quad, xmin, ymin, ymax - ymin + 1, xmax - xmin + 1)
    if not m.any():
        return 0.0
    return float(window[m].mean())


def unclip_poly(poly: np.ndarray, ratio: float) -> np.ndarray:
    """Offset an N-gon outward by area·ratio/perimeter (miter join).

    The reference uses pyclipper round-join offsetting
    (``/root/reference/ocr/postprocess.py:163-169``); pyclipper is not
    available, so we use the miter-join equivalent (each edge pushed
    out by delta along its outward normal, corners at half-plane
    intersections). Exact for convex polygons; for concave vertices the
    miter corner can overshoot where pyclipper would round — goldens
    are pinned to this substitute (SURVEY.md §7 hard-part 5). Unlike
    pyclipper, this always returns exactly one polygon (the reference's
    poly path skips candidates whose offset splits,
    ``postprocess.py:96-99`` — that case cannot arise here).
    """
    q = poly.astype(np.float64)
    n_pts = len(q)
    # native floats run the same IEEE-double ops in the same order as
    # numpy scalars; the edge norms come from one np.hypot call and the
    # corner solves from one stacked np.linalg.solve (the same LAPACK
    # call per vertex)
    Q = q.tolist()
    E = [(Q[(i + 1) % n_pts][0] - x, Q[(i + 1) % n_pts][1] - y)
         for i, (x, y) in enumerate(Q)]
    norms = np.hypot(*np.array(E, dtype=np.float64).reshape(-1, 2).T).tolist()
    area = 0.0
    perim = 0.0
    for i in range(n_pts):
        j = (i + 1) % n_pts
        area += Q[i][0] * Q[j][1] - Q[j][0] * Q[i][1]
        perim += norms[i]
    orient = area
    area = abs(area) / 2.0
    if perim == 0:
        return q.copy()
    delta = area * ratio / perim
    sgn = 1.0 if orient >= 0 else -1.0
    # outward normal per edge, then intersect consecutive offset lines
    P = []
    for (x, y), (ex, ey), n in zip(Q, E, norms):
        if n == 0:
            nx = ny = 0.0
        else:
            # CCW polygon → outward normal is (ey, -ex)/|e| ... sign-fixed
            nx, ny = sgn * ey / n, sgn * -ex / n
        P.append((x + delta * nx, y + delta * ny))
    # vertex i joins offset line i-1 (P[i-1] + t·E[i-1]) and line i
    a = np.array([((E[i - 1][0], -E[i][0]), (E[i - 1][1], -E[i][1]))
                  for i in range(n_pts)])
    b = np.array([(P[i][0] - P[i - 1][0], P[i][1] - P[i - 1][1])
                  for i in range(n_pts)])
    try:
        T = np.linalg.solve(a, b).tolist()
    except np.linalg.LinAlgError:
        # collinear consecutive edges (parallel offset lines, e.g. at a
        # DP anchor vertex): solve vertex by vertex, and offset such a
        # vertex along its own edge's line rather than leaving it
        # un-offset — the original point would dent the expanded
        # polygon inward
        T = []
        for i in range(n_pts):
            try:
                T.append(np.linalg.solve(a[i], b[i]).tolist())
            except np.linalg.LinAlgError:
                T.append(None)
    out = [
        P[i] if t is None
        else (P[i - 1][0] + t[0] * E[i - 1][0], P[i - 1][1] + t[0] * E[i - 1][1])
        for i, t in enumerate(T)
    ]
    return np.array(out, dtype=np.float64)


def unclip_quad(quad: np.ndarray, ratio: float) -> np.ndarray:
    """Quad specialization of :func:`unclip_poly` (identical math for
    N=4; kept as the quad path's named entry point)."""
    return unclip_poly(quad, ratio)


# ----------------------------------------------- polygon (poly-mode) ops
# clockwise neighbor order in image coords (y down): E,SE,S,SW,W,NW,N,NE
_MOORE = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]


def region_boundaries(
    mask: np.ndarray,
    max_regions: int = 1000,
    regions: list[np.ndarray] | None = None,
) -> list[np.ndarray]:
    """Outer boundary polyline per 8-connected region, document order,
    capped at ``max_regions`` — the findContours(RETR_LIST,
    CHAIN_APPROX_SIMPLE) analogue for the poly path
    (``/root/reference/ocr/postprocess.py:81-82``). Moore-neighbor
    tracing, clockwise, from each region's topmost-then-leftmost pixel;
    termination by repeated (pixel, entry-direction) state. Returns
    (N,2) int64 arrays of (x, y) boundary pixels.

    Pass ``regions`` (the output of ``connected_components`` on the
    same mask) to skip the internal labeling pass — output index i is
    then the boundary of ``regions[i]`` by construction."""
    h, w = mask.shape
    if regions is None:
        regions = connected_components(mask, max_regions=max_regions)
    starts: list[tuple[int, int]] = []
    for pts in regions:
        # connected_components emits run endpoints in scan order; the
        # first point is the region's topmost-leftmost pixel
        starts.append((int(pts[0, 0]), int(pts[0, 1])))

    out: list[np.ndarray] = []
    for sx, sy in starts:
        boundary = [(sx, sy)]
        cur = (sx, sy)
        back = 4  # came from the west: scan found this pixel left-to-right
        state0 = (cur, back)
        visited_states = {state0}
        while True:
            nxt = None
            for k in range(1, 9):
                nd = (back + k) % 8
                nx, ny = cur[0] + _MOORE[nd][0], cur[1] + _MOORE[nd][1]
                if 0 <= nx < w and 0 <= ny < h and mask[ny, nx]:
                    nxt = (nx, ny)
                    back = (nd + 4) % 8
                    break
            if nxt is None:  # isolated pixel
                break
            state = (nxt, back)
            if state in visited_states:
                break
            visited_states.add(state)
            cur = nxt
            boundary.append(cur)
        out.append(np.array(boundary, dtype=np.int64))
    return out


def poly_perimeter(poly: np.ndarray, closed: bool = True) -> float:
    """Closed arc length (``cv2.arcLength`` analogue)."""
    p = poly.astype(np.float64)
    d = np.diff(p, axis=0)
    total = float(np.hypot(d[:, 0], d[:, 1]).sum())
    if closed and len(p) > 1:
        total += float(np.hypot(*(p[0] - p[-1])))
    return total


def _dp_open(pts: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker on an open chain, endpoints always kept.
    Iterative (explicit range stack): recursion depth is O(n) on
    adversarial chains (spiral/staircase region boundaries) and would
    raise RecursionError past ~1000 points."""
    n_pts = len(pts)
    if n_pts <= 2:
        return pts
    keep = np.zeros(n_pts, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n_pts - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        a, b = pts[i], pts[j]
        seg = pts[i + 1 : j]
        ab = b - a
        norm = np.hypot(ab[0], ab[1])
        if norm == 0:
            d = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
        else:
            d = np.abs(ab[0] * (seg[:, 1] - a[1]) - ab[1] * (seg[:, 0] - a[0])) / norm
        k = int(d.argmax()) + i + 1
        if d[k - i - 1] > eps:
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def approx_poly_dp(poly: np.ndarray, eps: float) -> np.ndarray:
    """Closed-curve polygon approximation (``cv2.approxPolyDP``
    analogue, ``/root/reference/ocr/postprocess.py:85-86``): anchor at
    vertex 0 and the vertex farthest from it, Douglas-Peucker each
    half, rejoin. Deterministic; not bit-identical to cv2's internal
    split choice — goldens are pinned to this substitute."""
    p = poly.astype(np.float64)
    if len(p) < 3:
        return p
    d0 = np.hypot(p[:, 0] - p[0, 0], p[:, 1] - p[0, 1])
    k = int(d0.argmax())
    if k == 0:
        return p[:1]
    first = _dp_open(p[: k + 1], eps)
    second = _dp_open(np.concatenate([p[k:], p[:1]]), eps)
    return np.concatenate([first[:-1], second[:-1]])


def poly_mask_mean(prob: np.ndarray, poly: np.ndarray) -> float:
    """Mean of prob inside an arbitrary simple polygon, evaluated over
    its clipped bbox — ``box_score_fast`` generalized beyond quads for
    the poly path (``/root/reference/ocr/postprocess.py:101``).
    Crossing-number (even-odd) rasterization."""
    h, w = prob.shape
    xmin = int(np.clip(np.floor(poly[:, 0].min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(poly[:, 0].max()), 0, w - 1))
    ymin = int(np.clip(np.floor(poly[:, 1].min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(poly[:, 1].max()), 0, h - 1))
    hh, ww = ymax - ymin + 1, xmax - xmin + 1
    xs, ys = np.meshgrid(
        np.arange(xmin, xmin + ww, dtype=np.float64),
        np.arange(ymin, ymin + hh, dtype=np.float64),
    )
    inside = np.zeros((hh, ww), dtype=bool)
    q = poly.astype(np.float64)
    n_pts = len(q)
    for i in range(n_pts):
        p1, p2 = q[i], q[(i + 1) % n_pts]
        if p1[1] == p2[1]:
            continue
        cond = (p1[1] > ys) != (p2[1] > ys)
        xi = (p2[0] - p1[0]) * (ys - p1[1]) / (p2[1] - p1[1]) + p1[0]
        inside ^= cond & (xs < xi)
    if not inside.any():
        return 0.0
    return float(prob[ymin : ymax + 1, xmin : xmax + 1][inside].mean())


# --------------------------------------------------------- clip / order
def order_points_clockwise(pts: np.ndarray) -> np.ndarray:
    """TL,TR,BR,BL via sum/diff heuristic — exact semantics of the
    reference (``/root/reference/ocr/ocr.py:290-299``): the sum
    extremes are REMOVED (np.delete) before the diff pick, so TR/BL
    come from the remaining two points — picking the diff extremes
    over all four can duplicate a corner for ~45°-rotated boxes
    (degenerate quad → dropped line, or a singular warp matrix)."""
    s = pts.sum(axis=1)
    i_tl, i_br = int(np.argmin(s)), int(np.argmax(s))
    tl = pts[i_tl]
    br = pts[i_br]
    rest = np.delete(pts, (i_tl, i_br), axis=0)
    d = np.diff(rest, axis=1).ravel()
    tr = rest[np.argmin(d)]
    bl = rest[np.argmax(d)]
    return np.array([tl, tr, br, bl], dtype=pts.dtype)


def clip_quad(pts: np.ndarray, h: int, w: int) -> np.ndarray:
    """Clamp quad into [0, w-1] × [0, h-1] with int() TRUNCATION, not
    rounding — ``int(min(max(p, 0), w-1))`` verbatim
    (``/root/reference/ocr/ocr.py:301-305``); a .6 coordinate floors,
    which feeds the ≤3 px degenerate filter differently than round."""
    out = pts.copy()
    out[:, 0] = np.trunc(np.clip(out[:, 0], 0, w - 1))
    out[:, 1] = np.trunc(np.clip(out[:, 1], 0, h - 1))
    return out
