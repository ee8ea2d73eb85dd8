"""kernels/webp.py — lossless WebP (VP8L): prefix codes, LZ77 through
the distance map, transforms (subtract-green, predictor, color
indexing with sub-byte bundling), container routing, and the
lossy-VP8 seam staying a per-row error."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import font5x7, pngcodec, webp
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload


def test_roundtrip_gray_literals():
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, (23, 37)).astype(np.uint8)
    assert np.array_equal(webp.decode_webp(webp.encode_webp(img, rle=False)), img)


def test_roundtrip_rgb_with_lz77_runs():
    rng = np.random.default_rng(42)
    base = rng.integers(0, 256, (5, 7, 3)).astype(np.uint8)
    img = np.kron(base, np.ones((4, 5, 1), dtype=np.uint8))
    assert np.array_equal(webp.decode_webp(webp.encode_webp(img, rle=True)), img)


def test_roundtrip_subtract_green_and_predictors():
    rng = np.random.default_rng(43)
    img = rng.integers(0, 256, (17, 31, 3)).astype(np.uint8)
    assert np.array_equal(
        webp.decode_webp(webp.encode_webp(img, subtract_green=True)), img
    )
    for mode in (1, 2, 7):
        assert np.array_equal(
            webp.decode_webp(webp.encode_webp(img, predictor_mode=mode)), img
        ), mode
    assert np.array_equal(
        webp.decode_webp(
            webp.encode_webp(img, subtract_green=True, predictor_mode=2)
        ),
        img,
    )


@pytest.mark.parametrize("ncol", [2, 3, 4, 5, 16, 17, 200])
def test_roundtrip_palette_all_bundling_regimes(ncol):
    rng = np.random.default_rng(100 + ncol)
    pal = rng.integers(0, 256, (ncol, 3)).astype(np.uint8)
    img = pal[rng.integers(0, ncol, (13, 29))]
    dec = webp.decode_webp(webp.encode_webp(img, palette=True))
    assert np.array_equal(dec, img)


def test_ocr_roundtrip_via_router():
    img, drawn = font5x7.render_page(["WEBP VP8L PAGE 5"], 960, 96, 2)
    payload = webp.encode_webp(img)
    assert pngcodec.sniff_payload(payload) == "webp"
    r = extract_payload(payload)
    assert (r.status, r.text) == ("ok", "\n".join(drawn))


def test_lossy_vp8_malformed_is_error_not_crash():
    # A garbage VP8 chunk must become a per-row decode error, not a crash.
    fake_vp8 = b"RIFF" + struct.pack("<I", 16) + b"WEBP" + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    with pytest.raises(ValueError):
        webp.decode_webp(fake_vp8)
    r = extract_payload(fake_vp8)  # router converts to per-row error
    assert r.status == "error:decode"


def test_malformed_webp_is_error_row():
    for bad in (
        b"RIFF\x00\x00\x00\x00WEBP",  # no chunks
        b"RIFF" + struct.pack("<I", 20) + b"WEBP" + b"VP8L" + struct.pack("<I", 8) + b"\x00" * 8,  # bad sig
        webp.encode_webp(np.zeros((8, 8), np.uint8))[:-4],  # truncated
    ):
        r = extract_payload(bad)
        assert r.status == "error:decode", r.status


def test_dimension_bomb_rejected():
    bw = webp._BitWriter()
    bw.write(0x2F, 8)
    bw.write((1 << 14) - 1, 14)  # 16384
    bw.write((1 << 14) - 1, 14)  # x 16384 = 268 Mpix
    bw.write(0, 1)
    bw.write(0, 3)
    with pytest.raises(ValueError, match="too large"):
        webp.decode_vp8l(bw.done())


def test_mutation_fuzz_exception_contract():
    """Bit-flipped valid streams and random VP8L payloads may only
    raise ValueError / NotImplementedError — anything else would kill
    a Spark task instead of producing a per-row error."""
    rng = np.random.default_rng(99)
    img = rng.integers(0, 256, (12, 17)).astype(np.uint8)
    valid = webp.encode_webp(img)
    for _ in range(400):
        data = bytearray(valid)
        for _ in range(int(rng.integers(1, 6))):
            data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
        try:
            webp.decode_webp(bytes(data))
        except (ValueError, NotImplementedError):
            pass
    for _ in range(200):
        payload = b"\x2f" + bytes(
            rng.integers(0, 256, int(rng.integers(4, 60)), dtype=np.uint8)
        )
        try:
            webp.decode_vp8l(payload)
        except (ValueError, NotImplementedError):
            pass


def test_multimodal_decode_image_webp_routes():
    """The raster router: lossless webp round-trips exactly; a
    malformed lossy-VP8 chunk raises (→ per-row error upstream)."""
    from ragflow_ocr_spark.kernels import vp8
    from ragflow_ocr_spark.kernels.pngcodec import decode_image

    rng = np.random.default_rng(44)
    img = rng.integers(0, 256, (12, 18)).astype(np.uint8)
    kind, out = decode_image(webp.encode_webp(img))
    assert kind == "webp"
    assert np.array_equal(out, img)
    # real lossy VP8 decodes through the same route
    lossy = vp8.encode_webp_lossy_flat(32, 16, (100, 128, 128))
    _kind, dec = decode_image(lossy)
    assert dec.shape == (16, 32)
    fake_vp8 = b"RIFF" + struct.pack("<I", 16) + b"WEBP" + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    with pytest.raises(ValueError):
        decode_image(fake_vp8)


def test_predictor_fast_path_matches_general_loop():
    """The uniform-mode-1/2 np.add.accumulate specialization must be
    bit-identical to the general scan-order predictor loop."""
    rng = np.random.default_rng(3)
    for mode in (1, 2):
        for hw in ((37, 53), (1, 9), (9, 1), (16, 16)):
            img = rng.integers(0, 256, (*hw, 3)).astype(np.uint8)
            d = webp.encode_vp8l(img, predictor_mode=mode)
            fast = webp.decode_vp8l(d)
            webp._PRED_FAST = False
            try:
                slow = webp.decode_vp8l(d)
            finally:
                webp._PRED_FAST = True
            assert np.array_equal(fast, slow), (mode, hw)
            assert np.array_equal(fast, img), (mode, hw)


def test_decode_crosses_window_chunks():
    """A stream longer than _WCHUNK exercises the rolling 32-bit
    window rebuild mid-decode."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (640, 640, 3)).astype(np.uint8)
    d = webp.encode_webp(img)
    assert len(d) - 30 > webp._WCHUNK  # ~1.2 MB literal stream
    assert np.array_equal(webp.decode_webp(d), img)


def test_vp8l_decode_throughput_floor():
    """Pinned micro-benchmark for the round-3 hot-loop rewrite: the
    uniform-predictor workload the round-2 verdict measured at
    ~0.1 Mpx/s must now sustain ≥0.45 Mpx/s min-of-3 (measured ~1.1
    on an idle host; the floor leaves ~2.5x for hypervisor drift)."""
    import time

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (256, 256, 3)).astype(np.uint8)
    data = webp.encode_vp8l(img, predictor_mode=2)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        out = webp.decode_vp8l(data)
        best = min(best, time.perf_counter() - t0)
    assert np.array_equal(out, img)
    rate = 256 * 256 / best
    assert rate >= 450_000, f"{rate/1e6:.2f} Mpx/s below pinned floor"


# ------------------------------------------------------- animated WebP
def _bt601(y: int) -> int:
    return min(255, max(0, (298 * (y - 16) + 128) >> 8))


def _vp8l_payload(img: np.ndarray) -> bytes:
    """Raw VP8L bitstream extracted from a still container."""
    import struct

    d = webp.encode_webp(img)
    assert d[12:16] == b"VP8L"
    (sz,) = struct.unpack_from("<I", d, 16)
    return d[20 : 20 + sz]


def test_animated_lossy_webp_round_trip():
    """ANMF frames embedding in-repo VP8 keyframes composite to exact
    flat canvases; decode_webp returns the FIRST composited frame."""
    from ragflow_ocr_spark.kernels import vp8

    f1 = vp8.encode_vp8_flat_payload(32, 24, (80, 128, 128))
    f2 = vp8.encode_vp8_flat_payload(32, 24, (160, 128, 128))
    anim = webp.encode_webp_animated(
        [
            {"tag": b"VP8 ", "data": f1, "w": 32, "h": 24},
            {"tag": b"VP8 ", "data": f2, "w": 32, "h": 24},
        ],
        32,
        24,
    )
    frames = webp.decode_webp_frames(anim)
    assert [f.shape for f in frames] == [(24, 32), (24, 32)]
    assert (frames[0] == _bt601(80)).all()
    assert (frames[1] == _bt601(160)).all()
    assert (webp.decode_webp(anim) == _bt601(80)).all()


def test_decode_webp_decodes_only_the_first_animation_frame():
    """decode_webp composites the first ANMF frame and stops there, as
    decode_gif stops after its first image: a corrupt second frame
    fails decode_webp_frames but not decode_webp."""
    from ragflow_ocr_spark.kernels import vp8

    good = vp8.encode_vp8_flat_payload(32, 24, (80, 128, 128))
    corrupt = good[:8]  # cut inside the keyframe header
    anim = webp.encode_webp_animated(
        [
            {"tag": b"VP8 ", "data": good, "w": 32, "h": 24},
            {"tag": b"VP8 ", "data": corrupt, "w": 32, "h": 24},
        ],
        32,
        24,
    )
    with pytest.raises(ValueError):
        webp.decode_webp_frames(anim)
    assert (webp.decode_webp(anim) == _bt601(80)).all()


def test_animated_webp_subrect_dispose_and_vp8l_mix():
    """Sub-rect frames paste at (x, y); dispose-to-background restores
    the rect AFTER the frame is emitted; VP8L and VP8 frames mix."""
    from ragflow_ocr_spark.kernels import vp8

    base = np.full((24, 32), 50, np.uint8)
    anim = webp.encode_webp_animated(
        [
            {"tag": b"VP8L", "data": _vp8l_payload(base), "w": 32, "h": 24},
            {
                "tag": b"VP8 ",
                "data": vp8.encode_vp8_flat_payload(16, 16, (200, 128, 128)),
                "w": 16, "h": 16, "x": 8, "y": 4, "dispose": True,
            },
            {
                "tag": b"VP8 ",
                "data": vp8.encode_vp8_flat_payload(16, 16, (100, 128, 128)),
                "w": 16, "h": 16, "x": 0, "y": 0,
            },
        ],
        32,
        24,
        bg_rgba=(10, 20, 30, 255),
    )
    f0, f1, f2 = webp.decode_webp_frames(anim)
    assert (f0 == 50).all()
    assert (f1[4:20, 8:24] == _bt601(200)).all() and (f1[0, 0] == 50).all()
    # frame 2: its own rect painted, disposed area back to bg RGB,
    # first-frame pixels outside both rects untouched
    assert (f2[0:16, 0:16, 0] == _bt601(100)).all()
    assert tuple(f2[10, 20]) == (10, 20, 30)
    assert (f2[22, 28] == 50).all()


def test_animated_webp_malformed_rejected():
    """Frame rect outside the canvas, size mismatch, and missing VP8X
    animation flag are container errors (per-row upstream)."""
    from ragflow_ocr_spark.kernels import vp8

    f = vp8.encode_vp8_flat_payload(16, 16, (90, 128, 128))
    with pytest.raises(ValueError, match="outside the canvas"):
        webp.decode_webp_frames(
            webp.encode_webp_animated(
                [{"tag": b"VP8 ", "data": f, "w": 16, "h": 16, "x": 20, "y": 20}],
                24,
                24,
            )
        )
    with pytest.raises(ValueError, match="size mismatch"):
        webp.decode_webp_frames(
            webp.encode_webp_animated(
                [{"tag": b"VP8 ", "data": f, "w": 8, "h": 8}], 24, 24
            )
        )
    good = webp.encode_webp_animated(
        [{"tag": b"VP8 ", "data": f, "w": 16, "h": 16}], 16, 16
    )
    # clear the VP8X animation flag in place
    broken = bytearray(good)
    broken[20] &= ~0x02
    with pytest.raises(ValueError, match="animation flag"):
        webp.decode_webp_frames(bytes(broken))


def test_vp8_desync_gate_fires_on_padded_partition():
    """A token partition left with a large unread tail (the common
    silent-desync signature on wild streams, given the best-effort
    probability tables) must raise, not decode to garbage."""
    from ragflow_ocr_spark.kernels import vp8

    payload = vp8.encode_vp8_flat_payload(32, 24, (90, 128, 128))
    with pytest.raises(ValueError, match="desync"):
        vp8.decode_vp8(payload + b"\x00" * 64)
    # the untouched stream still decodes (gate slack covers the bool
    # coder's flush bytes)
    assert (vp8.decode_vp8(payload) == _bt601(90)).all()


def test_animated_webp_fuzz_never_crashes():
    """Bit flips and truncations of a valid animated container must
    surface as the contractual ValueError/NotImplementedError (per-row
    error upstream), never any other exception type."""
    from ragflow_ocr_spark.kernels import vp8

    base = webp.encode_webp_animated(
        [
            {"tag": b"VP8 ", "data": vp8.encode_vp8_flat_payload(32, 24, (90, 128, 128)), "w": 32, "h": 24},
            {"tag": b"VP8 ", "data": vp8.encode_vp8_flat_payload(16, 16, (150, 128, 128)), "w": 16, "h": 16, "x": 8, "y": 4, "dispose": True},
        ],
        32,
        24,
    )
    rng = np.random.default_rng(99)
    ok = err = 0
    for trial in range(200):
        buf = bytearray(base)
        if trial % 2:
            buf = buf[: rng.integers(1, len(buf))]  # truncation
        else:
            for _ in range(rng.integers(1, 6)):  # bit flips
                i = int(rng.integers(0, len(buf)))
                buf[i] ^= 1 << int(rng.integers(0, 8))
        try:
            frames = webp.decode_webp_frames(bytes(buf))
            assert isinstance(frames, list)
            ok += 1
        except (ValueError, NotImplementedError):
            err += 1
    assert ok + err == 200
    assert err > 50  # most mutations must fail loudly, not "decode"


def test_animated_webp_frame_budget():
    """Thousands of tiny frames on a large canvas must be rejected
    (per-row error), mirroring the GIF composited-pixel budget."""
    from ragflow_ocr_spark.kernels import vp8

    f = vp8.encode_vp8_flat_payload(16, 16, (90, 128, 128))
    frames = [{"tag": b"VP8 ", "data": f, "w": 16, "h": 16}] * 5
    good = webp.encode_webp_animated(frames, 16, 16)
    assert len(webp.decode_webp_frames(good)) == 5
    many = [{"tag": b"VP8 ", "data": f, "w": 16, "h": 16}] * 4000
    big = webp.encode_webp_animated(many, 2000, 2000)
    with pytest.raises(ValueError, match="budget|too large"):
        webp.decode_webp_frames(big)


# ---------------------------------------------------------------------------
# ALPH alpha planes (round-5: animated alpha compositing + the real
# libwebp lossless-alpha stream)
# ---------------------------------------------------------------------------

_FIXTURES = __file__.rsplit("/", 1)[0] + "/fixtures"


def _logo_chunks():
    import struct

    data = open(f"{_FIXTURES}/python_logo.webp", "rb").read()
    pos, chunks = 12, {}
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        chunks[tag] = data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    return chunks


def test_real_libwebp_alph_chunk_decodes():
    """The golden's ALPH chunk is compression method 1: a HEADERLESS
    VP8L image-stream with alpha in the green channel — real libwebp
    output pinning the implicit-dimension lossless path."""
    import hashlib

    a = webp.decode_alph(_logo_chunks()[b"ALPH"], 16, 16)
    assert a.shape == (16, 16) and a.dtype == np.uint8
    assert (
        hashlib.sha256(a.tobytes()).hexdigest()
        == "00d64fd72159f0e240eac94eb2a256366dad5e267b45a1920aa72771a8e6ff8c"
    )
    # logo mask structure: transparent corners, opaque snake body
    for y, x in ((0, 0), (0, 15), (15, 0), (15, 15)):
        assert a[y, x] == 0
    assert a[5, 5] == 255 and a[10, 10] == 255


@pytest.mark.parametrize("filt", [0, 1, 2, 3])
def test_alph_filter_round_trip(filt):
    rng = np.random.RandomState(41 + filt)
    plane = rng.randint(0, 256, size=(13, 17), dtype=np.uint8)
    payload = webp.encode_alph(plane, filt)
    assert payload[0] == (filt << 2)
    out = webp.decode_alph(payload, 17, 13)
    assert (out == plane).all()


def test_alph_error_paths():
    with pytest.raises(ValueError):
        webp.decode_alph(b"", 4, 4)
    with pytest.raises(ValueError):
        webp.decode_alph(bytes([0x02]) + b"\x00" * 16, 4, 4)  # bad method
    with pytest.raises(ValueError):
        webp.decode_alph(bytes([0x40]) + b"\x00" * 16, 4, 4)  # reserved bit
    with pytest.raises(ValueError):
        webp.decode_alph(bytes([0x00]) + b"\x00" * 7, 4, 4)  # truncated raw


def test_animated_alpha_blend_and_dispose():
    """ALPH-bearing ANMF frames composite with the documented
    container-spec blend math; no-blend overwrites; dispose restores
    the background (including its alpha)."""
    from ragflow_ocr_spark.kernels import vp8

    w, h = 32, 24
    base = vp8.encode_vp8_flat_payload(w, h, (200, 128, 128))  # bright
    over = vp8.encode_vp8_flat_payload(w, h, (50, 128, 128))   # dark
    half = np.full((h, w), 128, np.uint8)  # ~50% alpha overlay
    anim = webp.encode_webp_animated(
        [
            {"tag": b"VP8 ", "data": base, "w": w, "h": h},
            {"tag": b"VP8 ", "data": over, "w": w, "h": h, "alpha": half,
             "alpha_filter": 2},
            {"tag": b"VP8 ", "data": over, "w": w, "h": h, "alpha": half,
             "blend": False},
        ],
        w,
        h,
        bg_rgba=(0, 0, 0, 255),
    )
    f0, f1, f2 = webp.decode_webp_frames(anim)
    y_base = float(_bt601(200))
    y_over = float(_bt601(50))
    assert (f0 == y_base).all()
    # frame 1: alpha blend over an opaque canvas ->
    #   out = (over*128 + base*255*(1-128/255)) / (128 + 255*(1-128/255))
    sa = 128.0 / 255.0
    oa = sa + 1.0 * (1.0 - sa)
    expect = np.rint((y_over * sa + y_base * (1.0 - sa)) / oa)
    assert (f1.astype(float) == expect).all(), (f1[0, 0], expect)
    # frame 2: no-blend overwrites rect AND its alpha (half) -> emitted
    # over black bg: rint(over * 128/255)
    expect2 = np.rint(y_over * sa)
    assert (f2.astype(float) == expect2).all(), (f2[0, 0], expect2)


def test_animated_alpha_subrect_over_background():
    """A transparent-alpha sub-rect frame lets the ANIM background
    show through in the emitted RGB frame."""
    from ragflow_ocr_spark.kernels import vp8

    sub = vp8.encode_vp8_flat_payload(16, 8, (120, 128, 128))
    clear = np.zeros((8, 16), np.uint8)  # fully transparent
    anim = webp.encode_webp_animated(
        [{"tag": b"VP8 ", "data": sub, "w": 16, "h": 8, "x": 4, "y": 2,
          "alpha": clear}],
        32,
        16,
        bg_rgba=(10, 20, 30, 255),
    )
    (f0,) = webp.decode_webp_frames(anim)
    assert f0.shape == (16, 32, 3)
    # everything — including the frame rect — shows the background
    assert (f0[..., 0] == 10).all() and (f0[..., 2] == 30).all()


def test_alph_mutation_fails_contractually():
    """Bit flips in an ALPH-bearing animation either decode or raise
    ValueError — never crash."""
    from ragflow_ocr_spark.kernels import vp8

    alpha = (np.arange(24 * 32, dtype=np.uint8).reshape(24, 32) * 7) % 256
    anim = webp.encode_webp_animated(
        [{"tag": b"VP8 ", "data":
          vp8.encode_vp8_flat_payload(32, 24, (90, 128, 128)),
          "w": 32, "h": 24, "alpha": alpha, "alpha_filter": 3}],
        32,
        24,
    )
    # unmutated round trip first
    (f0,) = webp.decode_webp_frames(anim)
    assert f0.shape[:2] == (24, 32)
    for pos in (40, 60, 90, 150, 300):
        broken = bytearray(anim)
        broken[pos % len(anim)] ^= 0x55
        try:
            webp.decode_webp_frames(bytes(broken))
        except ValueError:
            pass
