"""Unit tests for the numpy geometry primitives (cv2 replacements)."""

from __future__ import annotations

import numpy as np
import pytest

from ragflow_ocr_spark.kernels.imgeom import (
    clip_quad,
    connected_components,
    convex_hull,
    min_area_rect,
    order_points_clockwise,
    perspective_matrix,
    quad_mask,
    quad_mask_mean,
    resize_bilinear,
    unclip_quad,
    warp_perspective,
)


def _resize_four_corner(img, out_h, out_w):
    """Reference bilinear resample: gather the four corner grids, then
    top = g00·(1−wx) + g01·wx, bot likewise, out = top·(1−wy) + bot·wy."""
    h, w = img.shape[:2]
    if (h, w) == (out_h, out_w):
        return img.astype(np.float32)
    ys = np.clip((np.arange(out_h) + 0.5) * (h / out_h) - 0.5, 0, h - 1)
    xs = np.clip((np.arange(out_w) + 0.5) * (w / out_w) - 0.5, 0, w - 1)
    y0, x0 = np.floor(ys).astype(np.int64), np.floor(xs).astype(np.int64)
    y1, x1 = np.minimum(y0 + 1, h - 1), np.minimum(x0 + 1, w - 1)
    wy = (ys - y0).astype(np.float32).reshape((-1, 1) + (1,) * (img.ndim - 2))
    wx = (xs - x0).astype(np.float32).reshape((1, -1) + (1,) * (img.ndim - 2))
    g = lambda yy, xx: img[np.ix_(yy, xx)].astype(np.float32)  # noqa: E731
    top = g(y0, x0) * (1 - wx) + g(y0, x1) * wx
    bot = g(y1, x0) * (1 - wx) + g(y1, x1) * wx
    return top * (1 - wy) + bot * wy


# (input shape, dtype, out_h, out_w): up- and down-sampling, output
# equal to input, 1-pixel inputs, 2-D and 3-D, uint8 and float32
RESIZE_CASES = [
    ((3, 4), np.uint8, 3, 4),
    ((4, 4), np.uint8, 2, 2),
    ((32, 48, 3), np.uint8, 16, 24),
    ((37, 496), np.float32, 48, 644),
    ((120, 90, 3), np.uint8, 48, 36),
    ((17, 5, 3), np.float32, 17, 5),
    ((1, 1), np.uint8, 5, 7),
    ((1, 1, 3), np.float32, 1, 1),
    ((1, 9, 3), np.float32, 4, 3),
    ((64, 64), np.uint8, 32, 96),
    ((50, 3), np.float32, 7, 11),
]


def _resize_input(shape, dtype, seed):
    return (np.random.default_rng(seed).random(shape) * 255).astype(dtype)


@pytest.mark.parametrize("case", range(len(RESIZE_CASES)))
def test_resize_is_bit_identical_to_four_corner_formula(case):
    shape, dtype, out_h, out_w = RESIZE_CASES[case]
    img = _resize_input(shape, dtype, case)
    out = resize_bilinear(img, out_h, out_w)
    assert out.dtype == np.float32 and out.shape == (out_h, out_w) + shape[2:]
    assert np.array_equal(out, _resize_four_corner(img, out_h, out_w))


def test_resize_identity():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = resize_bilinear(img, 3, 4)
    assert np.allclose(out, img)
    assert np.array_equal(out, _resize_four_corner(img, 3, 4))


def test_resize_downscale_mean():
    img = np.zeros((4, 4), dtype=np.uint8)
    img[:2] = 100
    out = resize_bilinear(img, 2, 2)
    assert out.shape == (2, 2)
    assert out[0, 0] > out[1, 0]
    assert np.array_equal(out, _resize_four_corner(img, 2, 2))


def test_resize_rgb_shape():
    img = np.random.default_rng(0).integers(0, 255, (32, 48, 3)).astype(np.uint8)
    out = resize_bilinear(img, 16, 24)
    assert out.shape == (16, 24, 3)
    assert np.array_equal(out, _resize_four_corner(img, 16, 24))


def test_perspective_identity():
    src = np.array([[0, 0], [10, 0], [10, 5], [0, 5]], dtype=np.float64)
    m = perspective_matrix(src, src)
    assert np.allclose(m, np.eye(3), atol=1e-9)


def test_warp_translation():
    img = np.zeros((10, 10), dtype=np.float32)
    img[2:4, 3:5] = 1.0
    src = np.array([[3, 2], [5, 2], [5, 4], [3, 4]], dtype=np.float64)
    dst = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=np.float64)
    m = perspective_matrix(src, dst)
    out = warp_perspective(img, m, 2, 2)
    assert out.mean() > 0.8


def test_convex_hull_square():
    pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [2, 2], [1, 3]])
    hull = convex_hull(pts)
    assert len(hull) == 4
    assert set(map(tuple, hull.astype(int))) == {(0, 0), (4, 0), (4, 4), (0, 4)}


def test_min_area_rect_axis_aligned():
    pts = np.array([[1, 1], [9, 1], [9, 4], [1, 4]])
    box, sside = min_area_rect(pts)
    assert sside == pytest.approx(3.0)
    # TL, TR, BR, BL ordering
    assert box[0].tolist() == [1, 1]
    assert box[2].tolist() == [9, 4]


def test_min_area_rect_rotated():
    # 45° diamond: min rect is the rotated square
    pts = np.array([[5, 0], [10, 5], [5, 10], [0, 5]], dtype=np.float64)
    box, sside = min_area_rect(pts)
    assert sside == pytest.approx(np.hypot(5, 5), rel=1e-6)


def test_connected_components_two_blobs():
    m = np.zeros((10, 20), dtype=bool)
    m[1:3, 1:5] = True
    m[6:9, 10:15] = True
    regions = connected_components(m)
    assert len(regions) == 2
    # document order: top blob first
    assert regions[0][:, 1].min() == 1


def test_connected_components_diagonal_8conn():
    m = np.zeros((4, 4), dtype=bool)
    m[0, 0] = True
    m[1, 1] = True  # touches only diagonally
    assert len(connected_components(m)) == 1


def test_connected_components_max_regions():
    m = np.zeros((1, 20), dtype=bool)
    m[0, ::2] = True
    assert len(connected_components(m, max_regions=3)) == 3


def _flood_fill_regions(mask, max_regions=1000):
    """Reference labeling: 8-connected flood fill from each unlabeled
    ink pixel in scan order; each region lists its runs in scan order
    as (x0, y) plus (x1, y) for the run's last pixel x1 != x0."""
    grid = mask.tolist()
    h, w = mask.shape
    label = [[-1] * w for _ in range(h)]
    n = 0
    for y in range(h):
        for x in range(w):
            if grid[y][x] and label[y][x] < 0:
                label[y][x] = n
                stack = [(y, x)]
                while stack:
                    cy, cx = stack.pop()
                    for ny in (cy - 1, cy, cy + 1):
                        for nx in (cx - 1, cx, cx + 1):
                            if 0 <= ny < h and 0 <= nx < w and grid[ny][nx] and label[ny][nx] < 0:
                                label[ny][nx] = n
                                stack.append((ny, nx))
                n += 1
    pts = [[] for _ in range(n)]
    for y in range(h):
        x = 0
        while x < w:
            if not grid[y][x]:
                x += 1
                continue
            x0 = x
            while x < w and grid[y][x]:
                x += 1
            pts[label[y][x0]].append((x0, y))
            if x - 1 != x0:
                pts[label[y][x0]].append((x - 1, y))
    return [np.array(p, dtype=np.int64) for p in pts[:max_regions]]


def _spiral(n):
    """One ink path spiralling inwards, one blank pixel between arms."""
    m = np.zeros((n, n), dtype=bool)
    steps = ((0, 1), (1, 0), (0, -1), (-1, 0))
    y = x = d = turns = 0
    m[0, 0] = True
    while turns < 2:
        dy, dx = steps[d]
        ny, nx, ay, ax = y + dy, x + dx, y + 2 * dy, x + 2 * dx
        blocked = not (0 <= ny < n and 0 <= nx < n) or m[ny, nx]
        if not blocked and 0 <= ay < n and 0 <= ax < n and m[ay, ax]:
            blocked = True  # stepping on would touch an earlier arm
        if blocked:
            d = (d + 1) % 4
            turns += 1
            continue
        y, x = ny, nx
        m[y, x] = True
        turns = 0
    return m


def _comb(h, w, spine_row):
    m = np.zeros((h, w), dtype=bool)
    m[:, ::2] = True
    m[spine_row] = True
    return m


def _labeling_masks():
    rng = np.random.default_rng(11)
    masks = {
        f"random_{i}": rng.random(tuple(rng.integers(1, 48, 2))) < p
        for i, p in enumerate((0.1, 0.3, 0.45, 0.6, 0.85, 0.5, 0.4, 0.55))
    }
    masks["spiral"] = _spiral(41)
    masks["comb_spine_bottom"] = _comb(30, 41, -1)
    masks["comb_spine_top"] = _comb(30, 41, 0)
    masks["checkerboard"] = np.indices((24, 31)).sum(axis=0) % 2 == 0
    masks["full"] = np.ones((13, 17), dtype=bool)
    masks["empty"] = np.zeros((13, 17), dtype=bool)
    border = np.zeros((15, 20), dtype=bool)
    border[0, 3:9] = border[-1, :] = border[4:11, 0] = border[2:, -1] = True
    border[7, 5:15] = True
    masks["border"] = border
    dots = np.zeros((70, 70), dtype=bool)
    dots[::2, ::2] = True  # 1225 isolated pixels: more than max_regions
    masks["dots"] = dots
    masks["one_pixel"] = np.ones((1, 1), dtype=bool)
    masks["one_row"] = rng.random((1, 40)) < 0.5
    masks["one_column"] = rng.random((40, 1)) < 0.5
    return masks


@pytest.mark.parametrize("name", sorted(_labeling_masks()))
@pytest.mark.parametrize("max_regions", [1000, 3])
def test_connected_components_matches_flood_fill(name, max_regions):
    mask = _labeling_masks()[name]
    got = connected_components(mask, max_regions=max_regions)
    want = _flood_fill_regions(mask, max_regions=max_regions)
    assert len(got) == len(want)
    for g, r in zip(got, want):
        assert g.dtype == np.int64 and g.shape == r.shape
        assert np.array_equal(g, r)


def test_quad_mask_mean():
    prob = np.zeros((10, 10), dtype=np.float32)
    prob[2:5, 2:6] = 1.0
    quad = np.array([[2, 2], [5, 2], [5, 4], [2, 4]], dtype=np.float64)
    assert quad_mask_mean(prob, quad) == pytest.approx(1.0)


@pytest.mark.parametrize("seed", range(4))
def test_quad_mask_mean_rectangle_equals_half_plane_path(seed):
    """On axis-aligned integer rectangles inside the map the half-plane
    mask is all True, and the mean over it equals quad_mask_mean's
    value exactly, in either corner orientation."""
    rng = np.random.default_rng(seed)
    prob = rng.random((40, 60)).astype(np.float32)
    for _ in range(40):
        x0, x1 = sorted(rng.choice(60, 2, replace=False).tolist())
        y0, y1 = sorted(rng.choice(40, 2, replace=False).tolist())
        quad = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)
        m = quad_mask(quad, x0, y0, y1 - y0 + 1, x1 - x0 + 1)
        assert m.all()
        expect = float(prob[y0 : y1 + 1, x0 : x1 + 1][m].mean())
        assert quad_mask_mean(prob, quad) == expect
        assert quad_mask_mean(prob, quad[::-1].copy()) == expect


def test_unclip_grows_rectangle():
    quad = np.array([[0, 0], [20, 0], [20, 4], [0, 4]], dtype=np.float64)
    out = unclip_quad(quad, 1.5)
    # delta = area*ratio/perimeter = 80*1.5/48 = 2.5 per side
    w = out[:, 0].max() - out[:, 0].min()
    h = out[:, 1].max() - out[:, 1].min()
    assert w == pytest.approx(25.0)
    assert h == pytest.approx(9.0)


def test_order_points_clockwise():
    pts = np.array([[10, 10], [0, 0], [10, 0], [0, 10]], dtype=np.float64)
    out = order_points_clockwise(pts)
    assert out.tolist() == [[0, 0], [10, 0], [10, 10], [0, 10]]


def test_clip_quad():
    pts = np.array([[-5, 3], [100, 3], [100, 200], [-5, 200]], dtype=np.float64)
    out = clip_quad(pts, 50, 60)
    assert out[:, 0].min() == 0 and out[:, 0].max() == 59
    assert out[:, 1].max() == 49
