"""The JPEG family's shared scan walker and marker writers.

``imgcodecs.scan_units`` decides the order in which every JPEG scan,
decoded or encoded, visits its data units (T.81 A.2) and where its
restart markers fall (B.2.4.4). ``_jpeg_headers``, ``_sos_segment`` and
``_rst_marker`` write every encoder's marker segments, ``_quantize`` is
the batched DCT and quantizer, and ``_rgb_to_ycc`` / ``_ycc_to_rgb`` are
the JFIF colour maps. These tests pin each of them on its own, and the
marker sequence each encoder emits through them.
"""

from __future__ import annotations

from itertools import product

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import font5x7
from ragflow_ocr_spark.kernels import imgcodecs as ic


def _walk(comps, mcus_x, mcus_y, restart_interval=0):
    return list(ic.scan_units(comps, mcus_x, mcus_y, restart_interval))


# ------------------------------------------------------------ scan_units
@pytest.mark.parametrize("comp", [(1, 1, 3, 5), (2, 2, 4, 7), (1, 2, 5, 2)])
def test_one_component_scan_walks_its_own_grid(comp):
    """A one-component scan is never interleaved (A.2.2): it visits its
    component's own grid row by row, one unit per MCU, whatever the
    sampling factors and the frame's MCU grid."""
    _h, _v, rows, cols = comp
    got = _walk([comp], mcus_x=1, mcus_y=1)
    assert got == [(-1, [(0, r, c)]) for r, c in product(range(rows), range(cols))]


def test_interleaved_420_mcu_holds_four_luma_blocks_then_each_chroma():
    """A.2.3: an MCU of a 2x2/1x1/1x1 scan holds the 2x2 luma blocks
    row by row, then one Cb and one Cr block; MCUs go left to right,
    top to bottom."""
    got = _walk([(2, 2, 4, 6), (1, 1, 2, 3), (1, 1, 2, 3)], mcus_x=3, mcus_y=2)
    assert len(got) == 6
    assert got[0] == (-1, [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (2, 0, 0)])
    assert got[1] == (-1, [(0, 0, 2), (0, 0, 3), (0, 1, 2), (0, 1, 3), (1, 0, 1), (2, 0, 1)])
    assert got[3] == (-1, [(0, 2, 0), (0, 2, 1), (0, 3, 0), (0, 3, 1), (1, 1, 0), (2, 1, 0)])


@pytest.mark.parametrize(
    "sampling",
    [
        [(1, 1), (1, 1), (1, 1)],
        [(2, 2), (1, 1), (1, 1)],
        [(2, 1), (1, 1), (1, 1)],
        [(1, 2), (1, 1), (1, 1)],
    ],
    ids=["444", "420", "422", "440"],
)
def test_interleaved_scan_visits_every_unit_of_the_mcu_grid_once(sampling):
    mcus_x, mcus_y = 5, 3
    comps = [(h, v, mcus_y * v, mcus_x * h) for h, v in sampling]
    got = _walk(comps, mcus_x, mcus_y)
    assert len(got) == mcus_x * mcus_y
    per_mcu = sum(h * v for h, v in sampling)
    assert all(rst == -1 and len(units) == per_mcu for rst, units in got)
    seen = [u for _rst, units in got for u in units]
    want = {
        (ci, r, c)
        for ci, (_h, _v, rows, cols) in enumerate(comps)
        for r, c in product(range(rows), range(cols))
    }
    assert len(seen) == len(set(seen)) and set(seen) == want


@pytest.mark.parametrize("restart_interval", [1, 3, 7])
def test_restart_markers_fall_every_interval_and_cycle_rst0_to_rst7(restart_interval):
    got = _walk([(1, 1, 5, 9)], 1, 1, restart_interval)
    assert [units for _rst, units in got] == [
        [(0, r, c)] for r, c in product(range(5), range(9))
    ]
    want = [
        (i // restart_interval - 1) % 8 if i and i % restart_interval == 0 else -1
        for i in range(45)
    ]
    assert [rst for rst, _units in got] == want
    if restart_interval == 1:
        assert want[1:17] == list(range(8)) * 2


# ------------------------------------------------------- marker writers
def test_rst_marker_bytes():
    assert [ic._rst_marker(n) for n in range(8)] == [bytes((0xFF, 0xD0 + n)) for n in range(8)]


@pytest.mark.parametrize(
    "frame,cis,band,want",
    [
        ([(1, 1, 0)], [0], (0, 63, 0, 0), "ffda000801010000 3f00"),
        ([(2, 2, 0), (1, 1, 1), (1, 1, 1)], range(3), (0, 0, 1, 0),
         "ffda000c03 0100 0211 0311 000010"),
        ([(2, 2, 0), (1, 1, 1), (1, 1, 1)], [2], (1, 5, 0, 1), "ffda00080103110105 01"),
    ],
    ids=["gray_sequential", "ycc_dc_refine", "cr_ac_band"],
)
def test_sos_segment_names_each_component_and_its_tables(frame, cis, band, want):
    assert ic._sos_segment(frame, cis, *band) == bytes.fromhex(want.replace(" ", ""))


def _segment_markers(data: bytes) -> list[int]:
    """The marker of every segment, with SOI/EOI, skipping entropy-coded
    data (stuffed 0xFF00 and RSTn are not segments)."""
    assert data[:2] == b"\xff\xd8"
    out, p = [0xD8], 2
    while p < len(data):
        assert data[p] == 0xFF, p
        m = data[p + 1]
        out.append(m)
        if m == 0xD9:
            break
        p += 2 + int.from_bytes(data[p + 2 : p + 4], "big")
        if m == 0xDA:
            while not (data[p] == 0xFF and data[p + 1] not in (0x00, *range(0xD0, 0xD8))):
                p += 1
    return out


_DQT, _DHT, _DAC, _DRI, _SOS, _APP14 = 0xDB, 0xC4, 0xCC, 0xDD, 0xDA, 0xEE


@pytest.mark.parametrize(
    "name,want",
    [
        ("baseline_gray", [_DQT, 0xC0, _DHT, _DHT, _SOS]),
        ("baseline_420_rst3", [_DQT, _DQT, 0xC0, _DRI] + [_DHT] * 4 + [_SOS]),
        ("multiscan_rgb", [_DQT, _DQT, 0xC0] + [_DHT] * 4 + [_SOS] * 3),
        ("cmyk_ycck", [_APP14, _DQT, _DQT, 0xC0] + [_DHT] * 4 + [_SOS]),
        ("progressive_gray", [_DQT, 0xC2, _DHT, _DHT] + [_SOS] * 4),
        ("arith_rgb_rst2", [_DQT, _DQT, 0xC9, _DAC, _DRI, _SOS]),
        ("lossless_rgb_rst5", [0xC3, _DRI, _DHT, _SOS]),
    ],
)
def test_encoder_marker_segments_come_in_header_writer_order(name, want):
    """SOI, APP14, DQT, SOF, DAC, DRI, DHT, each only when the encoder
    needs it, then one SOS per scan and EOI."""
    gray, _ = font5x7.render_page(["MARKERS 45X83"], 83, 45, 1, margin=4)
    rgb = np.stack([gray, 255 - gray, gray // 2 + 64], axis=2)
    data = {
        "baseline_gray": lambda: ic.encode_jpeg(gray),
        "baseline_420_rst3": lambda: ic.encode_jpeg(rgb, subsample=True, restart_interval=3),
        "multiscan_rgb": lambda: ic.encode_jpeg_multiscan(rgb),
        "cmyk_ycck": lambda: ic.encode_jpeg_cmyk(rgb, ycck=True),
        "progressive_gray": lambda: ic.encode_jpeg_progressive(gray),
        "arith_rgb_rst2": lambda: ic.encode_jpeg_arith(rgb, restart_interval=2),
        "lossless_rgb_rst5": lambda: ic.encode_jpeg_lossless(rgb, 4, restart_interval=5),
    }[name]()
    assert _segment_markers(data) == [0xD8, *want, 0xD9]


# -------------------------------------------- quantizer and colour maps
@pytest.mark.parametrize("subsample", [False, True], ids=["444", "420"])
def test_batched_quantizer_equals_the_blockwise_dct(subsample):
    """``_quantize`` gives each block the coefficients the sequential
    Huffman encoder codes block by block: round(DCT(block - 128) / Q),
    in zigzag order."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (37, 51, 3), dtype=np.uint8)
    frame, qts, planes = ic._prep_encode(img, 75, subsample)
    _grids, _mx, _my, padded = ic._pad_planes(planes, frame)
    zz = ic._quantize(padded, frame, qts)
    for p, (_hs, _vs, t), got in zip(padded, frame, zz):
        assert got.shape == (p.shape[0] // 8, p.shape[1] // 8, 64)
        q8 = qts[t].reshape(8, 8)
        for r, c in product(range(got.shape[0]), range(got.shape[1])):
            block = p[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] - 128.0
            want = np.round(ic._dct2(block) / q8).astype(np.int64).reshape(64)[ic._ZIGZAG]
            assert np.array_equal(got[r, c], want), (t, r, c)


def test_jfif_colour_maps_invert_each_other():
    """T.871 §7 both ways: white and black sit on the neutral axis,
    and the forward then inverse map returns every RGB value to within
    the rounding of the published constants."""
    assert np.allclose(ic._rgb_to_ycc(np.full((1, 1, 3), 255.0)), [[[255.0]], [[128.0]], [[128.0]]])
    assert np.allclose(ic._rgb_to_ycc(np.zeros((1, 1, 3))), [[[0.0]], [[128.0]], [[128.0]]])
    rng = np.random.default_rng(9)
    rgb = rng.uniform(0, 255, (16, 16, 3))
    y, cb, cr = ic._rgb_to_ycc(rgb)
    back = np.stack(ic._ycc_to_rgb(y, cb - 128.0, cr - 128.0), axis=2)
    assert np.abs(back - rgb).max() < 0.05
    assert np.array_equal(np.round(back), np.round(rgb))
