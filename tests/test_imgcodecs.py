"""BMP / uncompressed-TIFF / baseline-JPEG codecs (S3 parity: the
reference decodes these via cv2.imdecode, `operators.py:37-46`, and its
batch CLI globs `*.jpg/.png/.bmp/.tiff`,
`examples/batch_processing.py:28-38`). Round trips, router coverage,
malformed-input guards, and end-to-end extraction parity with PNG."""

from __future__ import annotations

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import font5x7, imgcodecs as ic, jpeg2000, pngcodec
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload

RNG = np.random.default_rng(42)


# ------------------------------------------------------------ round trips
def test_bmp_rgb_round_trip():
    rgb = RNG.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    assert np.array_equal(ic.decode_bmp(ic.encode_bmp(rgb)), rgb)


def test_bmp_gray_encodes_as_rgb():
    gray = RNG.integers(0, 256, (21, 33), dtype=np.uint8)
    out = ic.decode_bmp(ic.encode_bmp(gray))
    assert np.array_equal(out, np.repeat(gray[:, :, None], 3, axis=2))


def test_tiff_round_trips():
    rgb = RNG.integers(0, 256, (19, 27, 3), dtype=np.uint8)
    gray = RNG.integers(0, 256, (16, 24), dtype=np.uint8)
    assert np.array_equal(ic.decode_tiff(ic.encode_tiff(rgb)), rgb)
    assert np.array_equal(ic.decode_tiff(ic.encode_tiff(gray)), gray)


def test_tiff_big_endian():
    """Byte-swapped header variant decodes too (MM magic)."""
    gray = RNG.integers(0, 256, (8, 8), dtype=np.uint8)
    le = ic.encode_tiff(gray)
    # swap to big-endian by re-writing header+IFD words
    import struct

    ifd_off = struct.unpack_from("<I", le, 4)[0]
    (n_tags,) = struct.unpack_from("<H", le, ifd_off)
    be = bytearray(le)
    be[0:4] = b"MM\x00*"
    struct.pack_into(">I", be, 4, ifd_off)
    struct.pack_into(">H", be, ifd_off, n_tags)
    for i in range(n_tags):
        ent = ifd_off + 2 + i * 12
        tid, ttype, count = struct.unpack_from("<HHI", le, ent)
        struct.pack_into(">HHI", be, ent, tid, ttype, count)
        if ttype == 3 and count == 1:
            (v,) = struct.unpack_from("<H", le, ent + 8)
            struct.pack_into(">H", be, ent + 8, v)
        else:
            (v,) = struct.unpack_from("<I", le, ent + 8)
            struct.pack_into(">I", be, ent + 8, v)
    struct.pack_into(">I", be, ifd_off + 2 + n_tags * 12, 0)
    assert np.array_equal(ic.decode_tiff(bytes(be)), gray)


def test_jpeg_round_trip_psnr_and_determinism():
    x = np.linspace(0, 255, 64)
    smooth = np.clip(
        np.add.outer(np.sin(np.arange(48) / 8) * 40 + 120, x * 0.5), 0, 255
    ).astype(np.uint8)
    enc = ic.encode_jpeg(smooth, quality=90)
    dec = ic.decode_jpeg(enc)
    assert dec.shape == smooth.shape
    mse = float(((dec.astype(float) - smooth) ** 2).mean())
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 35
    assert ic.encode_jpeg(smooth, quality=90) == enc
    assert np.array_equal(ic.decode_jpeg(enc), dec)


def test_jpeg_color_round_trip():
    x = np.linspace(0, 255, 48)
    base = np.clip(np.add.outer(x, x[:40] * 0.8), 0, 255).astype(np.uint8)
    rgb = np.stack([base, base[::-1], 255 - base], axis=2)
    dec = ic.decode_jpeg(ic.encode_jpeg(rgb, quality=90))
    assert dec.shape == rgb.shape
    mse = float(((dec.astype(float) - rgb) ** 2).mean())
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 30


def test_jpeg_non_multiple_of_8_dims():
    img = RNG.integers(100, 156, (13, 21), dtype=np.uint8)  # low contrast
    dec = ic.decode_jpeg(ic.encode_jpeg(img, quality=95))
    assert dec.shape == img.shape
    assert abs(float(dec.mean()) - float(img.mean())) < 8


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(((a.astype(float) - b.astype(float)) ** 2).mean())
    return 10 * np.log10(255**2 / max(mse, 1e-9))


def _smooth_rgb() -> np.ndarray:
    x = np.linspace(0, 255, 96)
    base = np.clip(
        np.add.outer(np.sin(np.arange(80) / 9) * 50 + 120, x * 0.6), 0, 255
    ).astype(np.uint8)
    return np.stack([base, base[::-1], 255 - base], axis=2)


def test_jpeg_420_subsampling_round_trip():
    """4:2:0 exercises the decoder's sampling-factor MCU interleave and
    chroma upsampling — the layout real-world JPEGs use."""
    rgb = _smooth_rgb()
    enc = ic.encode_jpeg(rgb, 90, subsample=True)
    dec = ic.decode_jpeg(enc)
    assert dec.shape == rgb.shape
    assert _psnr(dec, rgb) > 32
    assert len(enc) < len(ic.encode_jpeg(rgb, 90))  # chroma actually halved


def test_jpeg_restart_markers_round_trip():
    rgb = _smooth_rgb()
    enc = ic.encode_jpeg(rgb, 90, restart_interval=3)
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
    dec = ic.decode_jpeg(enc)
    assert _psnr(dec, rgb) > 35
    # restart segmentation must not change content vs the plain stream
    plain = ic.decode_jpeg(ic.encode_jpeg(rgb, 90))
    assert _psnr(dec, plain) > 40


def test_jpeg_420_restart_odd_dims():
    odd = _smooth_rgb()[:77, :93]
    dec = ic.decode_jpeg(ic.encode_jpeg(odd, 85, subsample=True, restart_interval=2))
    assert dec.shape == odd.shape
    assert _psnr(dec, odd) > 30


# --------------------------------------------------------------- guards
@pytest.mark.parametrize(
    "fn,bad",
    [
        (ic.decode_bmp, b"BM\x00"),
        (ic.decode_bmp, b"NOTABMP" * 10),
        (ic.decode_tiff, b"II*\x00\x10\x00\x00\x00"),
        (ic.decode_tiff, b"garbage"),
        (ic.decode_jpeg, b"\xff\xd8\xff"),
        (ic.decode_jpeg, b"plain text"),
    ],
)
def test_malformed_inputs_raise_value_error(fn, bad):
    with pytest.raises(ValueError):
        fn(bad)


def test_truncated_bmp_raises():
    good = ic.encode_bmp(RNG.integers(0, 256, (10, 10, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        ic.decode_bmp(good[: len(good) // 2])


# ---------------------------------------------------------- router + e2e
def test_sniff_covers_new_formats():
    img = RNG.integers(0, 256, (8, 8), dtype=np.uint8)
    assert pngcodec.sniff_payload(ic.encode_bmp(img)) == "bmp"
    assert pngcodec.sniff_payload(ic.encode_tiff(img)) == "tiff"
    assert pngcodec.sniff_payload(ic.encode_jpeg(img)) == "jpeg"
    # HTML that merely starts with 'BM' must NOT route to bmp
    assert pngcodec.sniff_payload(b"BMW pages <html>...</html>") == "html"


def test_extraction_parity_across_codecs():
    """The same rendered page must extract byte-identically through
    PNG, BMP, and TIFF (lossless); JPEG at q90 is lossy but the
    pipeline is pinned to still produce the identical text."""
    img, drawn = font5x7.render_page(
        ["CODEC PARITY CHECK 99", "SECOND LINE HERE"], 960, 256, 2
    )
    want = "\n".join(drawn)
    assert extract_payload(pngcodec.encode_png(img)).text == want
    for enc in (ic.encode_bmp, ic.encode_tiff):
        r = extract_payload(enc(img))
        assert r.status == "ok" and r.text == want
    rj = extract_payload(ic.encode_jpeg(img, quality=90))
    assert rj.status == "ok" and rj.text == want


def test_spark_extract_stage_routes_new_codecs(spark):
    """The mapInPandas extract stage must route BMP/TIFF/JPEG payloads
    end-to-end with the same per-url text as the PNG route."""
    import datetime

    from ragflow_ocr_spark.spark.pipeline import extract

    img, drawn = font5x7.render_page(["SPARK STAGE CODEC ROW"], 960, 96, 2)
    want = "\n".join(drawn)
    ts = datetime.datetime(2025, 10, 17)
    # rle_bmp / sof1_jpeg / deflate_tiff exercise the round-4 format
    # additions through the SAME Spark stage (byte-identical text)
    sof1 = bytearray(ic.encode_jpeg(img, quality=90))
    sof1[sof1.find(b"\xff\xc0") + 1] = 0xC1
    rows = [
        ("png", ts, bytearray(pngcodec.encode_png(img)), None, "en"),
        ("bmp", ts, bytearray(ic.encode_bmp(img)), None, "en"),
        ("rle_bmp", ts, bytearray(_bmp(
            img.shape[1], img.shape[0], 8, 1, _rle8_encode(img),
            [(i, i, i) for i in range(256)])), None, "en"),
        ("tiff", ts, bytearray(ic.encode_tiff(img)), None, "en"),
        ("deflate_tiff", ts, bytearray(
            ic.encode_tiff(img, compression="deflate")), None, "en"),
        ("jpeg", ts, bytearray(ic.encode_jpeg(img, quality=90)), None, "en"),
        ("sof1_jpeg", ts, bytearray(sof1), None, "en"),
        # round-5: JPEG 2000, both raw codestream and JP2 container
        ("j2k", ts, bytearray(
            jpeg2000.encode_jpeg2000(img, reversible=True)), None, "en"),
        ("jp2", ts, bytearray(
            jpeg2000.encode_jp2(img, reversible=True)), None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r.url: (r.status, r.extracted_text) for r in extract(pages).collect()}
    assert out == {
        k: ("ok", want)
        for k in ("png", "bmp", "rle_bmp", "tiff", "deflate_tiff", "jpeg",
                  "sof1_jpeg", "j2k", "jp2")
    }


def test_corrupt_payload_yields_error_row_not_exception():
    r = extract_payload(b"II*\x00" + b"\x00" * 4)
    assert r.status == "error:decode"
    r2 = extract_payload(b"\xff\xd8\xff\xe0" + b"\x00" * 8)
    assert r2.status == "error:decode"


def _jpeg_with(segs):
    import struct

    out = bytearray(b"\xff\xd8")
    for m, payload in segs:
        out += bytes([0xFF, m]) + struct.pack(">H", 2 + len(payload)) + payload
    return bytes(out)


def test_crafted_crash_payloads_become_error_rows():
    """Review-found crashers: structurally-valid JPEG/TIFF headers with
    semantic lies (undefined DHT, zero sampling factor, bomb
    dimensions, ASCII-typed width tag) raised KeyError /
    ZeroDivisionError / huge allocations — all must be error rows."""
    import struct

    sof_undef = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    sos_undef = bytes([1, 1, 0x33]) + bytes([0, 63, 0])
    undef_dht = _jpeg_with([(0xC0, sof_undef), (0xDA, sos_undef)])

    dqt = bytes([0]) + bytes(64)
    dht0 = bytes([0x00]) + bytes([0] * 15 + [1]) + bytes([0])
    dht1 = bytes([0x10]) + bytes([0] * 15 + [1]) + bytes([0])
    sos1 = bytes([1, 1, 0x00]) + bytes([0, 63, 0])
    sof_zero = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x00, 0])
    zero_sampling = _jpeg_with(
        [(0xDB, dqt), (0xC4, dht0), (0xC4, dht1), (0xC0, sof_zero), (0xDA, sos1)]
    )

    sof_bomb = struct.pack(">BHHB", 8, 32000, 32000, 1) + bytes([1, 0x11, 0])
    bomb = _jpeg_with([(0xDB, dqt), (0xC0, sof_bomb), (0xDA, sos1)])

    ascii_tiff = (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", 1)
        + struct.pack("<HHII", 256, 2, 1, 65)
        + struct.pack("<I", 0)
    )
    for payload in (undef_dht, zero_sampling, bomb, ascii_tiff):
        r = extract_payload(payload)
        assert r.status.startswith("error"), r.status


# ------------------------------------------------------------------ GIF
def test_gif_roundtrip_gray_and_interlaced():
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (33, 47)).astype(np.uint8)
    for interlace in (False, True):
        dec = ic.decode_gif(ic.encode_gif(img, interlace=interlace))
        assert np.array_equal(dec, img)


def test_gif_roundtrip_rgb_palette():
    rng = np.random.default_rng(22)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    img = pal[rng.integers(0, 16, (25, 31))]
    dec = ic.decode_gif(ic.encode_gif(img))
    assert np.array_equal(dec, img)


def test_gif_ocr_roundtrip_via_router():
    img, drawn = font5x7.render_page(["GIF PAYLOAD PAGE 3"], 960, 96, 2)
    payload = ic.encode_gif(img)
    assert pngcodec.sniff_payload(payload) == "gif"
    r = extract_payload(payload)
    assert (r.status, r.text) == ("ok", "\n".join(drawn))


def test_gif_malformed_is_error_row():
    for bad in (b"GIF89a", b"GIF89a" + b"\x00" * 24, b"GIF87a" + b"\xff" * 40):
        r = extract_payload(bad)
        assert r.status == "error:decode", r.status
    # LZW stream shorter than declared pixels
    good = bytearray(ic.encode_gif(np.zeros((8, 8), np.uint8)))
    trunc = bytes(good[:-6]) + b"\x00\x3b"
    r = extract_payload(trunc)
    assert r.status == "error:decode"


def test_interlaced_png_roundtrip_and_router():
    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (40, 60, 3)).astype(np.uint8)
    assert np.array_equal(
        pngcodec.decode_png(pngcodec.encode_png(img, interlace=True)), img
    )
    page, drawn = font5x7.render_page(["ADAM7 PAGE OK"], 960, 96, 2)
    r = extract_payload(pngcodec.encode_png(page, interlace=True))
    assert (r.status, r.text) == ("ok", "\n".join(drawn))


# ------------------------------------------------------ progressive JPEG
@pytest.mark.parametrize("rgb,subsample", [(False, False), (True, False), (True, True)])
def test_progressive_jpeg_decodes_bit_identical_to_baseline(rgb, subsample):
    """Same quantized coefficients, different entropy organization:
    progressive decode must equal baseline decode exactly."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (9, 13)).astype(np.float64)
    gray = np.kron(base, np.ones((8, 8)))[:70, :100].astype(np.uint8)
    img = np.stack([gray, 255 - gray, gray // 2], axis=2) if rgb else gray
    b = ic.decode_jpeg(ic.encode_jpeg(img, quality=85, subsample=subsample))
    p = ic.decode_jpeg(ic.encode_jpeg_progressive(img, quality=85, subsample=subsample))
    assert np.array_equal(b, p)


def test_progressive_jpeg_ocr_roundtrip():
    """A progressive-JPEG page routes through the payload router and
    the full detect→recognize pipeline byte-identically."""
    img, drawn = font5x7.render_page(["PROGRESSIVE JPEG PAGE"], 960, 96, 2)
    payload = ic.encode_jpeg_progressive(img, quality=95)
    assert pngcodec.sniff_payload(payload) == "jpeg"
    r = extract_payload(payload)
    assert r.status == "ok"
    assert r.text == "\n".join(drawn)


def test_progressive_jpeg_truncated_is_error_row():
    img = np.full((32, 32), 200, dtype=np.uint8)
    payload = ic.encode_jpeg_progressive(img)
    r = extract_payload(payload[: len(payload) // 2])
    assert r.status == "error:decode"


def test_progressive_eobn_run_decode():
    """Hand-built SOF2 file whose AC scan uses an EOBn>0 run (our
    encoder emits only EOB0, but libjpeg-optimized real files batch
    end-of-band runs across blocks — the decoder must honor them)."""
    import struct

    # two flat 8x8 blocks, quant table all ones → exact reconstruction
    v1, v2 = 130, 100
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    dc_bits, dc_vals = ic._DC_LUMA
    out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(dc_vals)) + bytes(
        [0x00]
    ) + bytes(dc_bits) + bytes(dc_vals)
    # custom AC table: two 2-bit codes for EOB0 (0x00) and EOB2 (0x10)
    ac_bits = [0, 2] + [0] * 14
    ac_vals = [0x00, 0x10]
    out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(ac_vals)) + bytes(
        [0x10]
    ) + bytes(ac_bits) + bytes(ac_vals)
    # DC scan (Ss=Se=0, Ah=Al=0)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, 0])
    dc_codes = ic._build_huff_codes(dc_bits, dc_vals)
    bw = ic._BitWriter()
    pred = 0
    for v in (v1, v2):
        dc = 8 * (v - 128)
        diff = dc - pred
        pred = dc
        t = abs(diff).bit_length()
        c, ln = dc_codes[t]
        bw.write(c, ln)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    bw.flush()
    out += bw.buf
    # AC scan: one EOB2 symbol (r=1 → eobrun = 2 + 1 appended bit = 0)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 1, 63, 0])
    ac_codes = ic._build_huff_codes(ac_bits, ac_vals)
    bw = ic._BitWriter()
    c, ln = ac_codes[0x10]
    bw.write(c, ln)
    bw.write(0, 1)  # appended eobrun bit
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    img = ic.decode_jpeg(bytes(out))
    assert img.shape == (8, 16)
    assert (img[:, :8] == v1).all() and (img[:, 8:] == v2).all()


def test_tiff_bomb_dimensions_rejected():
    import struct

    # 60000x60000 passes the 65536 side gate but is 3.6 Gpix — must hit
    # the MAX_DECODE_PIXELS ceiling as a ValueError, not a MemoryError
    t = (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", 4)
        + struct.pack("<HHII", 256, 4, 1, 60000)
        + struct.pack("<HHII", 257, 4, 1, 60000)
        + struct.pack("<HHII", 273, 4, 1, 8)
        + struct.pack("<HHII", 279, 4, 1, 100)
        + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        ic.decode_tiff(t)
    assert extract_payload(t).status == "error:decode"


def test_tiff_aliased_strips_capped_at_need():
    import struct

    # 1000 strips all aliasing the same 64 pixel bytes: sum(counts) is
    # 64000 for an 8x8 image — assembly must stop at `need`, not
    # amplify the payload 1000x
    w = h = 8
    px = bytes(range(64))
    n_strips = 1000
    n_tags = 5
    ifd_off = 8
    offs_arr = ifd_off + 2 + n_tags * 12 + 4
    counts_arr = offs_arr + 4 * n_strips
    px_off = counts_arr + 4 * n_strips
    tags = b"".join(
        [
            struct.pack("<HHII", 256, 4, 1, w),
            struct.pack("<HHII", 257, 4, 1, h),
            struct.pack("<HHII", 273, 4, n_strips, offs_arr),
            struct.pack("<HHII", 278, 4, 1, h),
            struct.pack("<HHII", 279, 4, n_strips, counts_arr),
        ]
    )
    data = (
        b"II*\x00"
        + struct.pack("<I", ifd_off)
        + struct.pack("<H", n_tags)
        + tags
        + struct.pack("<I", 0)
        + struct.pack("<I", px_off) * n_strips
        + struct.pack("<I", 64) * n_strips
        + px
    )
    img = ic.decode_tiff(data)
    assert img.shape == (8, 8)
    assert img.tobytes() == px


def test_decode_pixel_ceiling():
    assert ic.MAX_DECODE_PIXELS >= (8192 * 8192)  # real page scans fit
    with pytest.raises(ValueError):
        import struct

        sof = struct.pack(">BHHB", 8, 30000, 30000, 1) + bytes([1, 0x11, 0])
        ic.decode_jpeg(_jpeg_with([(0xC0, sof), (0xDA, bytes([1, 1, 0]) + bytes([0, 63, 0]))]))


def test_staged_detect_agrees_with_extract_on_codecs():
    """detect_stage and the unified extract stage must support the
    same formats — a JPEG/BMP/TIFF page gets blocks, not skip — and
    every image path (the raster router, the OCR payload route and an
    image stream inside a PDF) decodes every raster kind to the same
    array."""
    from ragflow_ocr_spark.kernels import heif, pdf, vp8, webp
    from ragflow_ocr_spark.kernels.ocr_pipeline import decode_payload_pages

    img, _ = font5x7.render_page(["AGREEMENT ROW"], 480, 96, 2)
    for enc in (ic.encode_bmp, ic.encode_tiff, lambda i: ic.encode_jpeg(i, 90)):
        kind, pages = decode_payload_pages(enc(img))
        assert pages is not None, kind

    small = img[:32, :64]
    payloads = {
        "png": pngcodec.encode_png(small),
        "jpeg": ic.encode_jpeg(small, 90),
        "gif": ic.encode_gif(small),
        "bmp": ic.encode_bmp(small),
        "tiff": ic.encode_tiff(small),
        "webp": webp.encode_webp(small),
        "webp-lossy": vp8.encode_webp_lossy_flat(32, 16, (100, 128, 128)),
        "jp2": jpeg2000.encode_jp2(small),
        "heic": heif.encode_heic(small),
    }
    for name, data in payloads.items():
        kind, routed = pngcodec.decode_image(data)
        assert kind == name.split("-")[0], name
        route_kind, pages = decode_payload_pages(data)
        assert route_kind == kind and pages is not None and len(pages) == 1, name
        assert np.array_equal(pages[0], routed), name
        embedded = pdf._decode_bare_image(data)
        assert embedded is not None, name
        assert np.array_equal(embedded, routed), name


def test_animated_gif_frames_roundtrip_and_compositing():
    frames = [np.full((10, 14), 30 * k, np.uint8) for k in range(5)]
    gif = ic.encode_gif_animation(frames)
    out = ic.decode_gif_frames(gif)
    assert len(out) == 5
    for k, f in enumerate(out):
        assert f.shape == (10, 14) and (f == 30 * k).all()
    # single-frame GIFs work through both APIs
    single = ic.encode_gif(np.full((6, 9), 77, np.uint8))
    assert len(ic.decode_gif_frames(single)) == 1
    with pytest.raises(ValueError):
        ic.decode_gif_frames(b"GIF89a" + b"\x01" * 10)


def test_animated_gif_subrect_transparency_composite():
    """Hand-built animation: frame 2 draws a 2x3 sub-rect at (1,1)
    with a transparent index — untouched pixels keep frame 1's
    content, transparent pixels show through."""
    import struct

    w, h = 6, 4
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += np.arange(256, dtype=np.uint8).repeat(3).tobytes()
    # frame 1: full screen value 100
    out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(8)
    lzw = ic._lzw_encode(8, bytes([100]) * (w * h))
    for i in range(0, len(lzw), 255):
        out.append(len(lzw[i : i + 255])); out += lzw[i : i + 255]
    out += b"\x00"
    # frame 2: 3x2 sub-rect at (1,1): [200, T, 200 / T, 200, T], T=7
    out += b"\x21\xf9\x04\x01\x0a\x00\x07\x00"  # transparency flag, idx 7
    out += struct.pack("<BHHHHB", 0x2C, 1, 1, 3, 2, 0)
    out.append(8)
    sub = bytes([200, 7, 200, 7, 200, 7])
    lzw = ic._lzw_encode(8, sub)
    for i in range(0, len(lzw), 255):
        out.append(len(lzw[i : i + 255])); out += lzw[i : i + 255]
    out += b"\x00\x3b"
    frames = ic.decode_gif_frames(bytes(out))
    assert len(frames) == 2
    assert (frames[0] == 100).all()
    f2 = frames[1]
    assert f2[1, 1] == 200 and f2[1, 2] == 100 and f2[1, 3] == 200
    assert f2[2, 1] == 100 and f2[2, 2] == 200 and f2[2, 3] == 100
    assert f2[0, 0] == 100  # outside the sub-rect untouched


@pytest.mark.parametrize(
    "kw",
    [{"compression": "lzw"}, {"compression": "packbits"},
     {"compression": "deflate"},
     {"compression": "lzw", "predictor": True},
     {"compression": "deflate", "predictor": True}],
)
def test_tiff_compressed_roundtrips(kw):
    """TIFF LZW (MSB-first, EarlyChange), PackBits, and the horizontal
    predictor — the layouts real scanner TIFFs use."""
    rng = np.random.default_rng(52)
    for shape in [(17, 23), (11, 13, 3)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        assert np.array_equal(ic.decode_tiff(ic.encode_tiff(img, **kw)), img)


def test_tiff_lzw_width_transitions_and_repeats():
    rng = np.random.default_rng(53)
    rand = bytes(rng.integers(0, 256, 5000, dtype=np.uint8))
    assert ic._tiff_lzw_decode(ic._tiff_lzw_encode(rand), 5000) == rand
    rep = (b"ABCABCAB" * 4000)[:20000]  # KwKwK + table-reset paths
    assert ic._tiff_lzw_decode(ic._tiff_lzw_encode(rep), len(rep)) == rep
    flat = np.full((64, 64), 200, np.uint8)
    assert len(ic.encode_tiff(flat, compression="lzw")) < len(ic.encode_tiff(flat)) / 4


def test_tiff_corrupt_lzw_is_error_row():
    rng = np.random.default_rng(54)
    enc = bytearray(
        ic.encode_tiff(rng.integers(0, 256, (8, 8)).astype(np.uint8), compression="lzw")
    )
    enc[-5:] = b"\xff" * 5
    assert extract_payload(bytes(enc)).status == "error:decode"


def test_gif_gce_applies_to_one_image_only():
    """GIF89a: a Graphic Control Extension governs only the next image.
    A follow-up frame WITHOUT its own GCE must not inherit the previous
    frame's transparent index or disposal mode."""
    import struct

    w, h = 4, 2
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += np.arange(256, dtype=np.uint8).repeat(3).tobytes()

    def image_block(pixels):
        blk = bytearray(struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0))
        blk.append(8)
        lzw = ic._lzw_encode(8, bytes(pixels))
        for i in range(0, len(lzw), 255):
            blk.append(len(lzw[i : i + 255])); blk += lzw[i : i + 255]
        blk += b"\x00"
        return blk

    # frame 1: GCE with transparent index 7, disposal=2 (restore bg)
    out += b"\x21\xf9\x04" + bytes([(2 << 2) | 1]) + b"\x0a\x00\x07\x00"
    out += image_block([1] * (w * h))
    # frame 2: NO GCE — pixels equal to 7 must be drawn opaquely, and
    # no background-restore should occur afterwards
    out += image_block([7] * (w * h))
    out += b"\x3b"
    frames = ic.decode_gif_frames(bytes(out))
    assert len(frames) == 2
    # frame 2's value-7 pixels drawn (palette entry 7 = gray 7)
    assert (frames[1] == 7).all()


# -------------------------------------------------- Adobe CMYK / YCCK JPEG
def test_cmyk_jpeg_constant_exact_and_tagged():
    """Adobe transform-0 CMYK: constant images decode EXACTLY at q95
    (DC step 2 divides 8·(v−128)) through the white-composite path,
    for any constant value — the closed-form oracle family."""
    for v in (0, 37, 128, 200, 255):
        d = ic.encode_jpeg_cmyk(np.full((24, 32), v, np.uint8), quality=95)
        assert b"Adobe" in d[:64]
        out = ic.decode_jpeg(d)
        assert (out == v).all()


def test_ycck_jpeg_round_trip():
    """APP14 transform-2 (YCCK, the Photoshop default): a real image
    round-trips through the YCC-inverse + K composite within DCT
    quantization error at q100."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8)
    out = ic.decode_jpeg(ic.encode_jpeg_cmyk(img, quality=100, ycck=True))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


def test_cmyk_jpeg_rgb_round_trip_q100():
    img = np.zeros((16, 24, 3), np.uint8)
    img[:, :12] = (200, 30, 90)
    img[:, 12:] = (10, 250, 128)
    out = ic.decode_jpeg(ic.encode_jpeg_cmyk(img, quality=100))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


def test_two_component_jpeg_rejected():
    """nc=2 has no defined color transform — explicit per-row error,
    not a crash in the plane stack."""
    d = bytearray(ic.encode_jpeg(np.full((8, 8), 9, np.uint8)))
    i = d.find(b"\xff\xc0")
    assert d[i + 9] == 1  # SOF nc byte
    d[i + 9] = 2
    with pytest.raises(ValueError):
        ic.decode_jpeg(bytes(d))


def test_sof1_extended_sequential_decodes_identical_to_baseline():
    """SOF1 (extended sequential, Huffman) at 8-bit has byte-identical
    scan syntax to SOF0 — patching the frame marker of a baseline
    stream produces a valid SOF1 file that must decode to the SAME
    pixels (cv2/libjpeg accept SOF1 the same way)."""
    x = np.linspace(0, 255, 48)
    base = np.clip(np.add.outer(x, x[:40] * 0.8), 0, 255).astype(np.uint8)
    rgb = np.stack([base, base[::-1], 255 - base], axis=2)
    for img in (base, rgb):
        d = bytearray(ic.encode_jpeg(img, quality=90))
        i = d.find(b"\xff\xc0")
        assert i > 0
        d[i + 1] = 0xC1
        assert np.array_equal(
            ic.decode_jpeg(bytes(d)), ic.decode_jpeg(ic.encode_jpeg(img, quality=90))
        )


def test_hierarchical_jpeg_named_rejection():
    """The differential/hierarchical SOFs must fail as NAMED
    contractual errors, never decode silently. SOF3 (lossless), SOF9
    and SOF10 (arithmetic) are first-class since round 5 —
    tests/test_jpeg_lossless.py, tests/test_jpeg_arith.py. (A SOF3
    frame over this DCT-scan body fails on scan parameters instead.)"""
    d = bytearray(ic.encode_jpeg(np.full((8, 8), 9, np.uint8)))
    i = d.find(b"\xff\xc0")
    for sof in (0xC5, 0xC6, 0xC7, 0xCB):
        d2 = bytearray(d)
        d2[i + 1] = sof
        with pytest.raises(ValueError, match="SOF0/SOF1"):
            ic.decode_jpeg(bytes(d2))


# ---------------------------------------------------------- PNG depths
def _png(width, height, bit_depth, color_type, rows, plte=None, interlace=0):
    """Hand-assemble a PNG from pre-packed (possibly filtered) scanline
    byte rows: rows is a list of bytes, each 1 filter byte + row data."""
    import struct
    import zlib

    def chunk(tag, payload):
        c = struct.pack(">I", len(payload)) + tag + payload
        return c + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace)
    out = pngcodec.PNG_MAGIC + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    out += chunk(b"IDAT", zlib.compress(b"".join(rows)))
    return out + chunk(b"IEND", b"")


def test_png_1bit_gray_scales_to_full_range():
    # 10 px wide: bits 1010101010 packed MSB-first = 0xAA 0x80
    rows = [b"\x00\xaa\x80", b"\x00\x55\x40"]
    img = pngcodec.decode_png(_png(10, 2, 1, 0, rows))
    assert img.shape == (2, 10)
    assert list(img[0]) == [255, 0] * 5
    assert list(img[1]) == [0, 255] * 5


def test_png_2bit_and_4bit_gray_exact_scaling():
    # 2-bit: samples 0,1,2,3 → 0,85,170,255; 4 px pack into one byte
    img2 = pngcodec.decode_png(_png(4, 1, 2, 0, [b"\x00\x1b"]))  # 00 01 10 11
    assert list(img2[0]) == [0, 85, 170, 255]
    # 4-bit: samples 0..15 scale by 17; 3 px (odd) leave 4 pad bits
    img4 = pngcodec.decode_png(_png(3, 1, 4, 0, [b"\x00\x0f\xa0"]))  # 0,15,10
    assert list(img4[0]) == [0, 255, 170]


def test_png_4bit_palette_color_and_gray_collapse():
    plte = bytes([10, 20, 30, 200, 100, 0])  # two colored entries
    img = pngcodec.decode_png(_png(2, 1, 4, 3, [b"\x00\x01"], plte=plte))
    assert img.shape == (2, 1, 3)[1:] or img.shape == (1, 2, 3)
    assert list(img[0, 0]) == [10, 20, 30] and list(img[0, 1]) == [200, 100, 0]
    # all-gray palette collapses to HW, same as the 8-bit palette path
    plteg = bytes([7, 7, 7, 250, 250, 250])
    g = pngcodec.decode_png(_png(2, 1, 1, 3, [b"\x00\x40"], plte=plteg))
    assert g.shape == (1, 2) and list(g[0]) == [7, 250]


def test_png_16bit_gray_and_rgb_keep_high_byte():
    # gray 16-bit: samples 0x1234, 0xFF00 → 0x12, 0xFF
    img = pngcodec.decode_png(_png(2, 1, 16, 0, [b"\x00\x12\x34\xff\x00"]))
    assert img.shape == (1, 2) and list(img[0]) == [0x12, 0xFF]
    rgb = pngcodec.decode_png(
        _png(1, 1, 16, 2, [b"\x00\xab\x01\xcd\x02\xef\x03"])
    )
    assert rgb.shape == (1, 1, 3) and list(rgb[0, 0]) == [0xAB, 0xCD, 0xEF]


def test_png_subbyte_filtered_rows_unfilter_on_bytes():
    # Sub (type 1) and Up (type 2) operate on packed BYTES for
    # sub-byte depths (filter unit = 1 byte, PNG spec 9.2)
    r0 = b"\x01" + bytes([0xAA, (0x80 - 0xAA) & 0xFF])  # unfilters to AA 80
    r1 = b"\x02" + bytes([(0x55 - 0xAA) & 0xFF, (0x40 - 0x80) & 0xFF])  # to 55 40
    img = pngcodec.decode_png(_png(10, 2, 1, 0, [r0, r1]))
    assert list(img[0]) == [255, 0] * 5
    assert list(img[1]) == [0, 255] * 5


def test_png_1bit_interlaced_matches_sequential():
    # 9x9 checkerboard, 1-bit gray, Adam7: scatter must agree with the
    # sequential decode of the same logical image
    w = h = 9
    board = ((np.add.outer(np.arange(h), np.arange(w)) % 2) == 0).astype(np.uint8)
    seq_rows = [
        b"\x00" + np.packbits(board[y], bitorder="big").tobytes() for y in range(h)
    ]
    seq = pngcodec.decode_png(_png(w, h, 1, 0, seq_rows))
    il_rows = []
    for x0, y0, dx, dy, pw, ph in pngcodec._adam7_passes(w, h):
        if not pw or not ph:
            continue
        sub = board[y0::dy, x0::dx]
        for y in range(ph):
            il_rows.append(b"\x00" + np.packbits(sub[y], bitorder="big").tobytes())
    il = pngcodec.decode_png(_png(w, h, 1, 0, il_rows, interlace=1))
    assert np.array_equal(seq, il)
    assert np.array_equal(seq, board * 255)


def test_png_illegal_depth_combos_rejected():
    for depth, ctype in ((16, 3), (2, 2), (4, 6), (3, 0), (12, 0)):
        with pytest.raises(ValueError, match="unsupported PNG"):
            pngcodec.decode_png(_png(1, 1, depth, ctype, [b"\x00\x00\x00\x00\x00"]))


# ---------------------------------------------------------- BMP depths/RLE
def _bmp(w, h, bpp, compression, pixel_data, palette=None):
    """Hand-assemble a BMP (BITMAPINFOHEADER) with an explicit palette
    (list of RGB tuples) and raw pixel/RLE byte payload."""
    import struct

    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in (palette or []))
    off = 54 + len(pal)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
        len(pixel_data), 2835, 2835, len(palette or []), 0,
    )
    head = struct.pack("<2sIHHI", b"BM", off + len(pixel_data), 0, 0, off)
    return head + info + pal + pixel_data


_BMP_PAL16 = [(i * 17, 0, 255 - i * 17) for i in range(16)]


def _rle8_encode(m):
    """Minimal BI_RLE8 encoder (encoded runs + EOL + EOB, bottom-up)
    shared by the decode and Spark-stage tests."""
    out = bytearray()
    for row in m[::-1]:
        x = 0
        while x < len(row):
            run = 1
            while x + run < len(row) and run < 255 and row[x + run] == row[x]:
                run += 1
            out += bytes([run, row[x]])
            x += run
        out += b"\x00\x00"  # EOL
    return bytes(out + b"\x00\x01")  # EOB


def test_bmp_rle8_all_ops():
    # 6x3 (bottom-up): encoded run, absolute run (padded), delta, EOL, EOB
    rle = bytes(
        [3, 7]            # row0 (bottom): 7 7 7
        + [0, 3, 1, 2, 3, 0]  # absolute: 1 2 3 (pad byte)
        + [0, 0]          # EOL
        + [0, 2, 2, 1]    # delta: skip to x=2 of row1 → rest zero-filled
        + [4, 9]          # middle... lands on row2 after delta y+1: 9 9 9 9 at x=2
        + [0, 1]          # EOB
    )
    pal = [(i, i, i) for i in range(16)]  # grayscale palette → HW output
    img = ic.decode_bmp(_bmp(6, 3, 8, 1, rle, pal))
    assert img.shape == (3, 6)
    assert list(img[2]) == [7, 7, 7, 1, 2, 3]      # bottom row
    assert list(img[1]) == [0, 0, 0, 0, 0, 0]      # skipped by delta
    assert list(img[0]) == [0, 0, 9, 9, 9, 9]      # top row


def test_bmp_rle4_runs_and_absolute():
    # 5x2 bottom-up: run of 5 alternating nibbles (0xA1 → 10,1,10,1,10),
    # EOL, then absolute 3 literal nibbles (0x5C 0x30 → 5,12,3) + run 2 of 0xF
    rle = bytes(
        [5, 0xA1, 0, 0]          # row0 + EOL
        + [0, 3, 0x5C, 0x30]     # absolute 3 px, 2 data bytes = word-aligned
        + [2, 0xFF]              # run: 15 15
        + [0, 1]                 # EOB
    )
    img = ic.decode_bmp(_bmp(5, 2, 4, 2, rle, _BMP_PAL16))
    assert img.shape == (2, 5, 3)
    assert [tuple(p) for p in img[1]] == [_BMP_PAL16[i] for i in (10, 1, 10, 1, 10)]
    assert [tuple(p) for p in img[0]] == [_BMP_PAL16[i] for i in (5, 12, 3, 15, 15)]


def test_bmp_uncompressed_1bit_and_4bit():
    # 1-bit, 10x2, bottom-up; rows pad to 4 bytes
    pal2 = [(0, 0, 0), (255, 255, 255)]
    rows = bytes([0xAA, 0x80, 0, 0]) + bytes([0x55, 0x40, 0, 0])
    img = ic.decode_bmp(_bmp(10, 2, 1, 0, rows, pal2))
    assert img.shape == (2, 10)
    assert list(img[1]) == [255, 0] * 5   # first stream row = bottom
    assert list(img[0]) == [0, 255] * 5
    # 4-bit, 3x1: nibbles 0,15,10 + pad to 4 bytes
    img4 = ic.decode_bmp(_bmp(3, 1, 4, 0, bytes([0x0F, 0xA0, 0, 0]), _BMP_PAL16))
    assert [tuple(p) for p in img4[0]] == [_BMP_PAL16[i] for i in (0, 15, 10)]


def test_bmp_rle_malformed_is_contract_error():
    for bad in (
        bytes([0, 3, 1, 2]),          # absolute run truncated (no pad byte)
        bytes([0, 2, 200]),           # delta truncated
        bytes([0, 2, 0, 200, 1, 1]),  # delta jumps past last row then writes
    ):
        with pytest.raises(ValueError):
            ic.decode_bmp(_bmp(4, 2, 8, 1, bad, [(i, i, i) for i in range(16)]))


def test_rle8_bmp_ocr_identical_to_png_route():
    """A glyph page RLE8-encoded (runs + EOL + EOB, grayscale palette)
    must extract byte-identical text to the PNG route."""
    img, drawn = font5x7.render_page(["RLE BMP ROUTE 123"], 960, 96, 2)
    want = "\n".join(drawn)

    pal = [(i, i, i) for i in range(256)]
    payload = _bmp(img.shape[1], img.shape[0], 8, 1, _rle8_encode(img), pal)
    assert ic.decode_bmp(payload).shape == img.shape
    assert np.array_equal(ic.decode_bmp(payload), img)
    r = extract_payload(payload)
    assert r.status == "ok" and r.text == want


def test_rle_bmp_header_bomb_rejected_before_allocation():
    """A ~70-byte RLE BMP declaring 65536x4096 must fail as a contract
    error before the h x w index allocation (review-found: ~1 GiB
    allocated from header dims alone, MemoryError killing the task)."""
    import struct

    info = struct.pack(
        "<IiiHHIIiiII", 40, 65536, 4096, 1, 8, 1, 4, 0, 0, 16, 0
    )
    head = struct.pack("<2sIHHI", b"BM", 54 + 64 + 4, 0, 0, 54 + 64)
    with pytest.raises(ValueError, match="too large"):
        ic.decode_bmp(head + info + bytes(64) + bytes([4, 7, 0, 1]))


def test_png_16bit_interlaced_matches_sequential():
    """16-bit gray Adam7: per-pass row bytes are 2w; scatter must agree
    with the sequential decode (high-byte conversion on both)."""
    import struct as _s

    w = h = 6
    vals = (np.add.outer(np.arange(h), np.arange(w)) * 1000 + 257).astype(">u2")
    seq_rows = [b"\x00" + vals[y].tobytes() for y in range(h)]
    seq = pngcodec.decode_png(_png(w, h, 16, 0, seq_rows))
    il_rows = []
    for x0, y0, dx, dy, pw, ph in pngcodec._adam7_passes(w, h):
        if not pw or not ph:
            continue
        sub = vals[y0::dy, x0::dx]
        for y in range(ph):
            il_rows.append(b"\x00" + np.ascontiguousarray(sub[y]).tobytes())
    il = pngcodec.decode_png(_png(w, h, 16, 0, il_rows, interlace=1))
    assert np.array_equal(seq, il)
    assert np.array_equal(seq, (vals.astype(np.uint16) >> 8).astype(np.uint8))


def test_bmp_rle_offset_and_empty_stream_raise():
    """ADVICE r04: bfOffBits past EOF and op-less streams must raise,
    not silently decode to an all-palette[0] image."""
    pal = [(i, i, i) for i in range(16)]
    good = _bmp(4, 2, 8, 1, _rle8_encode([[1, 2, 3, 4], [5, 6, 7, 8]]), pal)
    # push the stored pixel-data offset past EOF
    import struct

    broken = bytearray(good)
    struct.pack_into("<I", broken, 10, len(good) + 100)
    with pytest.raises(ValueError):
        ic.decode_bmp(bytes(broken))
    # RLE payload of zero ops
    with pytest.raises(ValueError):
        ic.decode_bmp(_bmp(4, 2, 8, 1, b"", pal))


def test_bmp_rle4_long_runs_vectorized_and_exact():
    """ADVICE r04: RLE4 encoded/absolute runs decode via numpy nibble
    tiling. A wide image of max-length runs decodes fast and matches
    the per-pixel semantics (phase restarts at each run)."""
    import time

    w, h = 5000, 40
    rle = bytearray()
    for _ in range(h):
        x = 0
        while x < w:
            n = min(255, w - x)
            rle += bytes([n, 0xA1])
            x += n
        rle += b"\x00\x00"
    rle += b"\x00\x01"
    t0 = time.perf_counter()
    img = ic.decode_bmp(_bmp(w, h, 4, 2, bytes(rle), _BMP_PAL16))
    dt = time.perf_counter() - t0
    assert img.shape == (h, w, 3)
    # phase restarts every 255 pixels: positions 0..254 alternate
    # 10,1,...; position 255 starts at 10 again
    row = img[0]
    assert tuple(row[0]) == _BMP_PAL16[10]
    assert tuple(row[1]) == _BMP_PAL16[1]
    assert tuple(row[254]) == _BMP_PAL16[10]
    assert tuple(row[255]) == _BMP_PAL16[10]
    assert dt < 1.0, f"RLE4 decode too slow: {dt:.2f}s"


def test_sniff_names_non_page_binaries():
    """Real crawl media bytes must get named kinds (per-row
    skip/unsupported statuses), never fall through to html."""
    import struct

    from ragflow_ocr_spark.kernels.ocr_pipeline import IMAGE_KINDS

    cases = {
        "avif": struct.pack(">I", 24) + b"ftypavif" + b"\x00" * 24,
        "heic": struct.pack(">I", 24) + b"ftypheic" + b"\x00" * 24,
        "isobmff": struct.pack(">I", 24) + b"ftypisom" + b"\x00" * 24,
        "avi": b"RIFF\x00\x01\x00\x00AVI " + b"\x00" * 24,
        "wav": b"RIFF\x00\x01\x00\x00WAVE" + b"\x00" * 24,
        "webm": b"\x1a\x45\xdf\xa3" + b"\x00" * 24,
        "ogg": b"OggS" + b"\x00" * 24,
        "flac": b"fLaC" + b"\x00" * 24,
        "mp3": b"ID3\x04" + b"\x00" * 24,
    }
    for want, payload in cases.items():
        assert pngcodec.sniff_payload(payload) == want
        r = extract_payload(payload)
        assert r.status in ("error:decode", "error:route")
        # image-like kinds report decode errors, the rest route errors
        assert (r.status == "error:decode") == (want in IMAGE_KINDS)
    # text payloads keep the html fallback
    assert pngcodec.sniff_payload(b"<html>x</html>") == "html"
    assert pngcodec.sniff_payload(b"plain words") == "html"
