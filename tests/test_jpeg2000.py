"""JPEG 2000 (T.800) — kernels/jpeg2000 + imgcodecs dispatch.

No system validator exists on this host (no OpenJPEG/Jasper/PIL), so
the pinning tiers mirror test_jpeg_lossless.py:
1. component-level spec checks: MQ-coder round trips across context
   mixes, tag-tree incremental-threshold equivalence, wavelet
   perfect reconstruction at every start parity (general tile grids
   put band origins on odd indices: 600 -> 300 -> 150 -> 75);
2. full encode/decode round trips over the parameter matrix
   (gray/RGB, MCT on/off, tile grids incl. odd origins, levels
   0..5, code-block sizes, 1 and 2 quality layers, SOP/EPH, raw
   codestream and JP2 container, 5/3 exact and 9/7 PSNR-bounded,
   expounded and derived quantization);
3. the malformed-input fuzz contract (ValueError/NotImplementedError,
   never a crash, hang, or wrong-shape output).
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import jpeg2000 as j2k


def _rng(seed: int = 0) -> np.random.Generator:
    return np.random.default_rng(seed)


def _smooth(h: int, w: int, ch: int | None = None,
            seed: int = 0) -> np.ndarray:
    rng = _rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 128 + 60 * np.sin(xx / 9.0) + 50 * np.cos(yy / 13.0)
    if ch:
        planes = [np.clip(base + 25 * c + rng.normal(0, 6, (h, w)), 0, 255)
                  for c in range(ch)]
        return np.stack(planes, axis=2).astype(np.uint8)
    return np.clip(base + rng.normal(0, 6, (h, w)), 0, 255).astype(np.uint8)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


# ------------------------------------------------------------ components
def test_mq_coder_round_trip_random_contexts():
    rng = random.Random(1)
    for trial in range(8):
        n = 2000
        bits = [rng.randint(0, 1) for _ in range(n)]
        # mix of skewed and uniform context usage
        cxs = [rng.choice((0, 3, 8, 9, 14, 17, 18)) for _ in range(n)]
        enc = j2k.MQEncoder(j2k._fresh_contexts())
        for c, b in zip(cxs, bits):
            enc.encode(c, b)
        data = enc.flush()
        dec = j2k.MQDecoder(data, j2k._fresh_contexts())
        out = [dec.decode(c) for c in cxs]
        assert out == bits


def test_mq_coder_skewed_stream_compresses():
    # 10k highly-predictable MPS decisions should land well under 1 kB
    enc = j2k.MQEncoder(j2k._fresh_contexts())
    for _ in range(10000):
        enc.encode(0, 0)
    data = enc.flush()
    assert len(data) < 300
    dec = j2k.MQDecoder(data, j2k._fresh_contexts())
    assert all(dec.decode(0) == 0 for _ in range(10000))


def test_tag_tree_incremental_thresholds_match_encoder():
    # decoder probes thresholds 1,2,... while the encoder emits once
    # at value+1 — the consumed bit streams must be identical
    rng = random.Random(2)
    for w, h in ((1, 1), (3, 2), (4, 4), (5, 3)):
        vals = np.array([[rng.randint(0, 6) for _ in range(w)]
                         for _ in range(h)], dtype=np.int32)
        te = j2k.TagTree(w, h)
        te.set_values(vals)
        bits: list[int] = []
        for y in range(h):
            for x in range(w):
                te.encode(x, y, int(vals[y, x]) + 1, bits.append)
        td = j2k.TagTree(w, h)
        it = iter(bits)

        def rd():
            return next(it)

        for y in range(h):
            for x in range(w):
                t = 1
                while not td.decode(x, y, t, rd):
                    t += 1
                assert t - 1 == vals[y, x]
        with pytest.raises(StopIteration):
            rd()


@pytest.mark.parametrize("reversible", [True, False])
def test_wavelet_round_trip_every_parity(reversible):
    rng = _rng(4)
    for n in (1, 2, 3, 5, 8, 17, 64):
        for g0 in (0, 1, 75, 150):
            x = rng.integers(-200, 200, size=(n, 7)).astype(np.int64)
            lo, hi = j2k._fwd1d(x, g0, reversible)
            y = j2k._inv1d(lo, hi, g0, n, reversible)
            if reversible:
                assert (y == x).all()
            else:
                assert np.abs(y - x).max() < 1e-8


@pytest.mark.parametrize("reversible", [True, False])
def test_wavelet_2d_round_trip_odd_origins(reversible):
    rng = _rng(5)
    for h, w, u0, v0 in ((9, 13, 0, 0), (8, 8, 75, 75), (1, 5, 3, 2),
                         (5, 1, 2, 3), (2, 2, 1, 1), (33, 47, 151, 75),
                         (1, 1, 1, 1)):
        a = rng.integers(-300, 300, size=(h, w)).astype(np.int64)
        ll, hl, lh, hh = j2k._fwd_2d(a, u0, v0, reversible)
        b = j2k._inv_2d(ll, hl, lh, hh, u0, v0, h, w, reversible)
        if reversible:
            assert (b == a).all()
        else:
            assert np.abs(b - a).max() < 1e-7


def test_tier1_round_trip_all_orientations():
    rng = _rng(6)
    for w, h in ((64, 64), (5, 7), (1, 1), (13, 9), (64, 3)):
        for orient in range(4):
            vals = rng.integers(-500, 500, size=h * w)
            vals = vals * (rng.random(h * w) < 0.4)
            w2 = w + 2
            mag = [0] * ((h + 2) * w2)
            sgn = bytearray((h + 2) * w2)
            mx = 0
            for y in range(h):
                for x in range(w):
                    v = int(vals[y * w + x])
                    i = (y + 1) * w2 + x + 1
                    mag[i] = abs(v)
                    sgn[i] = 1 if v < 0 else 0
                    mx = max(mx, abs(v))
            planes = mx.bit_length()
            chunk, npasses, _ = j2k._t1_encode(mag, sgn, w, h, planes, orient)
            m2, s2 = j2k._t1_decode(chunk, w, h, orient, planes, npasses)
            for y in range(h):
                for x in range(w):
                    i = (y + 1) * w2 + x + 1
                    assert m2[i] == mag[i]
                    if mag[i]:
                        assert s2[i] == sgn[i]


# ------------------------------------------------------------ round trips
_LOSSLESS_CASES = [
    ((45, 61), {}),
    ((64, 64, 3), {}),                                # RCT
    ((64, 64, 3), {"mct": False}),
    ((100, 90), {"tile_size": (60, 60)}),             # even tile grid
    ((150, 151, 3), {"tile_size": (75, 75)}),         # odd band origins
    ((33, 33), {"cb_size": (16, 16), "levels": 4}),
    ((7, 5), {"levels": 2}),
    ((1, 1), {"levels": 0}),
    ((1, 17), {}),
    ((80, 80), {"layers": 2}),                        # late first-inclusion
    ((80, 80, 3), {"layers": 2, "tile_size": (37, 41)}),
    ((64, 64), {"use_sop": True, "use_eph": True}),
    ((96, 64), {"levels": 0}),
    ((129, 257), {"cb_size": (32, 32)}),
]


@pytest.mark.parametrize("shape,kw", _LOSSLESS_CASES,
                         ids=[f"{s}-{sorted(k)}" for s, k in _LOSSLESS_CASES])
def test_lossless_round_trip(shape, kw):
    img = _rng(hash(str(shape)) % 1000).integers(
        0, 256, size=shape, dtype=np.uint8)
    cs = j2k.encode_jpeg2000(img, reversible=True, **kw)
    out = j2k.decode_jpeg2000(cs)
    assert out.shape == img.shape
    assert (out == img).all()


_LOSSY_CASES = [
    ((64, 64), {}, 45.0),
    ((100, 90, 3), {}, 45.0),                         # ICT
    ((100, 90, 3), {"mct": False}, 45.0),
    ((150, 151, 3), {"tile_size": (75, 75)}, 45.0),
    ((64, 64), {"quant_style": "derived"}, 28.0),     # steps double/level
    ((80, 80), {"layers": 2}, 45.0),
    ((64, 64), {"delta": 4.0}, 30.0),
]


@pytest.mark.parametrize("shape,kw,bound", _LOSSY_CASES,
                         ids=[f"{s}-{sorted(k)}" for s, k, _ in _LOSSY_CASES])
def test_lossy_psnr_bound(shape, kw, bound):
    ch = shape[2] if len(shape) == 3 else None
    img = _smooth(shape[0], shape[1], ch=ch, seed=11)
    cs = j2k.encode_jpeg2000(img, reversible=False, **kw)
    out = j2k.decode_jpeg2000(cs)
    assert out.shape == img.shape
    assert _psnr(img, out) > bound


def test_jp2_container_round_trip():
    img = _rng(9).integers(0, 256, size=(50, 40, 3), dtype=np.uint8)
    data = j2k.encode_jp2(img)
    assert data[:12] == j2k._JP2_SIG
    out = j2k.decode_jpeg2000(data)
    assert (out == img).all()


def test_jp2_gray_container_round_trip():
    img = _rng(10).integers(0, 256, size=(33, 21), dtype=np.uint8)
    out = j2k.decode_jpeg2000(j2k.encode_jp2(img))
    assert (out == img).all()


def test_two_layer_file_differs_but_decodes_identically():
    img = _rng(12).integers(0, 256, size=(80, 80), dtype=np.uint8)
    one = j2k.encode_jpeg2000(img, reversible=True, layers=1)
    two = j2k.encode_jpeg2000(img, reversible=True, layers=2)
    assert one != two
    assert (j2k.decode_jpeg2000(one) == j2k.decode_jpeg2000(two)).all()


def test_derived_and_expounded_agree_on_flat_image():
    img = np.full((32, 32), 200, dtype=np.uint8)
    for style in ("expounded", "derived"):
        out = j2k.decode_jpeg2000(
            j2k.encode_jpeg2000(img, reversible=False, quant_style=style))
        assert np.abs(out.astype(int) - 200).max() <= 1


# ------------------------------------------------------------- contracts
def test_named_rejections():
    img = _rng(13).integers(0, 256, size=(16, 16), dtype=np.uint8)
    cs = bytearray(j2k.encode_jpeg2000(img, reversible=True))
    # splice a COC marker segment into the main header (after QCD)
    pos = cs.find(b"\xff\x90")
    coc = b"\xff\x53" + struct.pack(">H", 3) + b"\x00"
    bad = bytes(cs[:pos]) + coc + bytes(cs[pos:])
    with pytest.raises(ValueError, match="COC"):
        j2k.decode_jpeg2000(bad)


def test_unsupported_depth_rejected():
    img = _rng(14).integers(0, 256, size=(8, 8), dtype=np.uint8)
    cs = bytearray(j2k.encode_jpeg2000(img, reversible=True))
    i = cs.find(b"\xff\x51")
    # Ssiz byte sits 36 bytes into the SIZ payload (after Lsiz)
    cs[i + 4 + 36] = 15  # claim 16-bit
    with pytest.raises(ValueError, match="depth"):
        j2k.decode_jpeg2000(bytes(cs))


def test_pixel_cap_enforced():
    img = _rng(15).integers(0, 256, size=(8, 8), dtype=np.uint8)
    cs = bytearray(j2k.encode_jpeg2000(img, reversible=True))
    i = cs.find(b"\xff\x51")
    struct.pack_into(">II", cs, i + 6, 1 << 16, 1 << 16)
    with pytest.raises(ValueError):
        j2k.decode_jpeg2000(bytes(cs))


def test_truncation_and_mutation_never_crash():
    img = _smooth(24, 24, seed=16)
    base = j2k.encode_jpeg2000(img, reversible=True)
    rng = random.Random(17)
    for cut in range(2, len(base), max(1, len(base) // 40)):
        try:
            out = j2k.decode_jpeg2000(base[:cut])
            assert out.shape == (24, 24)
        except (ValueError, NotImplementedError):
            pass
    for _ in range(120):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            out = j2k.decode_jpeg2000(bytes(buf))
            assert out.shape == (24, 24)
        except (ValueError, NotImplementedError):
            pass


def test_garbage_is_rejected():
    for blob in (b"", b"\x00", b"\xff\x4f", b"not a codestream",
                 j2k._JP2_SIG, j2k._JP2_SIG + b"\x00\x00\x00\x08abcd"):
        with pytest.raises(ValueError):
            j2k.decode_jpeg2000(blob)


def test_encoder_input_contract():
    with pytest.raises(ValueError):
        j2k.encode_jpeg2000(np.zeros((4, 4), dtype=np.float32))
    with pytest.raises(ValueError):
        j2k.encode_jpeg2000(np.zeros((4, 4, 2), dtype=np.uint8))
    with pytest.raises(ValueError):
        j2k.encode_jpeg2000(np.zeros((4, 4), dtype=np.uint8),
                            cb_size=(3, 3))


# ------------------------------------------------------------- dispatch
def test_sniff_and_decode_image_route():
    from ragflow_ocr_spark.kernels import pngcodec

    img = _rng(18).integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
    for payload in (j2k.encode_jpeg2000(img, reversible=True),
                    j2k.encode_jp2(img, reversible=True)):
        assert pngcodec.sniff_payload(payload) == "jp2"
        kind, out = pngcodec.decode_image(payload)
        assert kind == "jp2"
        assert (out == img).all()


_CORNER_CASES = [
    ((40, 40), {"cb_size": (4, 4)}),          # minimum code-blocks
    ((40, 40), {"cb_size": (4, 64)}),         # extreme aspect blocks
    ((65, 65, 3), {"cb_size": (8, 8), "levels": 5, "layers": 2}),
    ((100, 75, 3), {"tile_size": (25, 25), "layers": 2}),
    ((256, 2), {"levels": 5}),                # degenerate thin frames
    ((2, 256), {"levels": 5}),
    ((31, 33), {"tile_size": (16, 17)}),      # odd tile grid
    ((48, 48), {"levels": 0, "layers": 2}),
]


@pytest.mark.parametrize("shape,kw", _CORNER_CASES,
                         ids=[f"{s}-{sorted(k)}" for s, k in _CORNER_CASES])
def test_lossless_corner_parameters(shape, kw):
    img = _rng(sum(shape)).integers(0, 256, size=shape, dtype=np.uint8)
    out = j2k.decode_jpeg2000(j2k.encode_jpeg2000(img, reversible=True, **kw))
    assert out.shape == img.shape and (out == img).all()


def test_segmentless_reserved_markers_are_skipped():
    # T.800 Table A.1: 0xFF30-0xFF3F carry no marker segment (no Lseg),
    # so the two bytes after them are payload of the NEXT marker
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = j2k.encode_jpeg2000(img)
    assert data[:4] == b"\xff\x4f\xff\x51"  # SOC then SIZ (A.5.1)
    siz_len = struct.unpack(">H", data[4:6])[0]
    cut = 4 + siz_len  # end of the SIZ segment
    for m in (0xFF30, 0xFF3F):
        patched = data[:cut] + m.to_bytes(2, "big") + data[cut:]
        out = j2k.decode_jpeg2000(patched)
        assert np.array_equal(out, img)
