"""HEIF/HEIC item layer (kernels/heif.py): box parsing + the hvc1
decode route over the libde265-cross-validated HEVC layer, the AVIF
named seam, payload-router integration, and malformed-input
contracts."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import heif, hevc


def _rng(seed=0):
    return np.random.default_rng(seed)


@pytest.mark.parametrize("h,w", [(48, 64), (30, 32), (64, 64)])
def test_heic_yuv_round_trip_is_byte_exact_in_yuv(h, w):
    rng = _rng(h * 100 + w)
    y = rng.integers(0, 256, (h, w), dtype=np.uint8)
    u = rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2), dtype=np.uint8)
    v = rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2), dtype=np.uint8)
    data = heif.encode_heic_yuv(y, u, v)
    # the item layer resolves back to the exact coded AU
    info = heif.parse_heif(data)
    assert info["item_type"] == b"hvc1"
    assert info["ispe"] == (w, h)
    nls, params = hevc.parse_hvcc(info["config"])
    au = hevc.hvcc_sample_to_annexb(info["item"], nls, params)
    y2, u2, v2 = hevc.decode_hevc_keyframe_yuv(au)
    assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()


def test_decode_heif_rgb_entry_point():
    # 2x2-blockwise color image: chroma is constant inside every
    # subsampling block, so RGB->YUV420->RGB error is rounding-only
    img = np.repeat(
        np.repeat(
            _rng(3).integers(0, 256, (24, 32, 3), dtype=np.uint8), 2, 0
        ), 2, 1
    )
    out = heif.decode_heif(heif.encode_heic(img))
    assert out.shape == (48, 64, 3)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 4


def test_payload_sniffer_routes_heic():
    from ragflow_ocr_spark.kernels import pngcodec
    from ragflow_ocr_spark.kernels.ocr_pipeline import decode_payload_pages

    img = np.full((32, 32), 90, np.uint8)
    data = heif.encode_heic(img)
    assert pngcodec.sniff_payload(data) == "heic"
    kind, pages = decode_payload_pages(data)
    assert kind == "heic" and pages is not None
    assert pages[0].shape[:2] == (32, 32)


def test_ops_decode_image_routes_heic():
    # the media ops decode through the one raster router
    import pandas as pd

    from ragflow_ocr_spark.kernels import pngcodec
    from ragflow_ocr_spark.ops import multimodal as mm

    img = np.full((32, 32), 90, np.uint8)
    data = heif.encode_heic(img)
    kind, out = pngcodec.decode_image(data)
    assert kind == "heic"
    assert out.shape[:2] == (32, 32)
    batch = pd.DataFrame({"media_id": [7], "payload": [data]})
    (row,) = next(mm.image_features_stage()(iter([batch]))).itertuples()
    assert row.status == "ok"
    assert (row.width, row.height) == (32, 32)


def test_avif_item_raises_named_seam():
    data = bytearray(heif.encode_heic(np.zeros((32, 32), np.uint8)))
    i = bytes(data).find(b"hvc1", 20)  # the infe item_type
    data[i:i + 4] = b"av01"
    with pytest.raises(NotImplementedError, match="AVIF"):
        heif.decode_heif(bytes(data))
    # and through the router it stays a per-row None with a named kind
    from ragflow_ocr_spark.kernels.ocr_pipeline import decode_payload_pages

    kind, pages = decode_payload_pages(bytes(data))
    assert pages is None


def test_entropy_coded_camera_heic_is_named_seam():
    """A HEIC whose hvc1 item is entropy-coded (what every real camera
    writes) must raise the HEVC entropy seam, not decode garbage."""
    from ragflow_ocr_spark.kernels.hevc import _BitWriter

    good = heif.encode_heic(np.zeros((32, 32), np.uint8))
    info = heif.parse_heif(good)
    nls, params = hevc.parse_hvcc(info["config"])
    # craft a non-PCM slice (split=0, pcm_flag=0 -> seam)
    bw = _BitWriter()
    bw.u(1, 1)
    bw.u(0, 1)
    bw.ue(0)
    bw.ue(2)
    bw.se(0)
    bw.u(1, 1)
    bw.byte_align_zero()
    enc = hevc._CabacEncoder(bw)
    enc.encode_decision(hevc._ctx_init(139, 26), 0)
    enc.encode_terminate(0)
    enc.encode_terminate(1)
    enc.flush()
    bw.byte_align_zero()
    nal = hevc._nal_hdr(hevc.NAL_IDR_W_RADL) + hevc._add_epb(bytes(bw.out))
    sample = len(nal).to_bytes(nls, "big") + nal
    data = bytearray(good)
    old = info["item"]
    i = bytes(data).find(old)
    assert i > 0
    # same-length replacement keeps iloc valid: pad with a filler NAL?
    # simpler: rebuild via the public fixture writer with the crafted
    # sample only if lengths match; otherwise splice via parse offsets
    if len(sample) <= len(old):
        sample = sample + b"\x00" * (len(old) - len(sample))
        data[i:i + len(old)] = sample
        with pytest.raises((NotImplementedError, ValueError)):
            heif.decode_heif(bytes(data))
    else:
        pytest.skip("crafted sample larger than fixture item")


@pytest.mark.parametrize("cut", [10, 40, 120])
def test_truncation_raises_loudly(cut):
    data = heif.encode_heic(np.zeros((32, 32), np.uint8))
    with pytest.raises((ValueError, NotImplementedError)):
        heif.decode_heif(data[:cut])


def test_missing_meta_and_bad_brand_raise():
    with pytest.raises(ValueError):
        heif.parse_heif(b"\x00\x00\x00\x0cftypheic")
    with pytest.raises(ValueError):
        heif.parse_heif(b"\x00\x00\x00\x10ftypisom" + b"\x00" * 8)


def test_bitflip_fuzz_contract():
    rng = _rng(7)
    base = bytearray(heif.encode_heic(
        rng.integers(0, 256, (32, 32), dtype=np.uint8)))
    for _ in range(80):
        pos = int(rng.integers(0, len(base)))
        old = base[pos]
        base[pos] ^= int(rng.integers(1, 256))
        try:
            out = heif.decode_heif(bytes(base))
            assert out.shape[:2] == (32, 32)
        except (ValueError, NotImplementedError):
            pass
        base[pos] = old


def _fixture(name):
    import pathlib

    return (pathlib.Path(__file__).parent / "fixtures" / name).read_bytes()


def test_avif_mutants_stay_per_row_results():
    """300 seeded byte-flip and truncation mutants of a real AVIF:
    ``extract_payload`` returns a per-row status for every one and
    raises for none (an exception would fail the Spark task)."""
    from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload

    data = _fixture("avif_a.avif")
    rng = _rng(0)
    for k in range(300):
        m = bytearray(data)
        if k % 2:
            m = m[: int(rng.integers(0, len(m)))]
        else:
            for _ in range(int(rng.integers(1, 5))):
                m[int(rng.integers(0, len(m)))] ^= int(rng.integers(1, 256))
        r = extract_payload(bytes(m))
        assert r.status.startswith(("error:", "empty", "ok")), (k, r.status)


@pytest.mark.parametrize("box", ["iloc", "ipma", "iref"])
def test_item_box_counts_past_the_box_raise_value_error(box):
    """An entry count larger than its box holds makes the parser read
    past the box: it reports a truncated box (ValueError), never an
    IndexError or struct.error."""
    data = bytearray(heif.encode_heic_grid(np.zeros((32, 32), np.uint8), 2, 2))
    body = data.find(box.encode()) + 4
    if box == "iloc":  # v0: version/flags u32, sizes u16, item count u16
        struct.pack_into(">H", data, body + 6, 0xFFFF)
    elif box == "ipma":  # version/flags u32, entry count u32
        struct.pack_into(">I", data, body + 4, 0xFFFFFFFF)
    else:  # v0 iref: first child box header, from_item u16, ref count u16
        struct.pack_into(">H", data, body + 4 + 8 + 2, 0xFFFF)
    with pytest.raises(ValueError, match=f"truncated heif {box}"):
        heif.parse_heif(bytes(data))


def _with_repeated_extent(data: bytes, copies: int) -> bytes:
    """encode_heic output whose primary item lists its one extent
    ``copies`` times (iloc is the last box in meta; mdat follows)."""
    i = data.find(b"iloc") - 4
    (size,) = struct.unpack_from(">I", data, i)
    off, ln = struct.unpack_from(">II", data, i + size - 8)
    grow = 8 * (copies - 1)
    head = bytearray(data[i:i + size - 10])  # up to the extent count
    struct.pack_into(">I", head, 0, size + grow)
    ext = struct.pack(">H", copies) + struct.pack(">II", off + grow, ln) * copies
    out = bytearray(data[:i]) + head + ext + data[i + size:]
    meta = out.find(b"meta") - 4
    struct.pack_into(">I", out, meta, struct.unpack_from(">I", out, meta)[0] + grow)
    return bytes(out)


def test_item_extents_are_capped_at_the_byte_budget(monkeypatch):
    data = _with_repeated_extent(heif.encode_heic(np.zeros((32, 32), np.uint8)), 3)
    info = heif.parse_heif(data)
    one = len(info["item"]) // 3
    assert info["item"] == info["item"][:one] * 3
    # extents that add up past the budget are refused, even though the
    # file itself fits in it
    monkeypatch.setattr(heif, "MAX_HEIF_BYTES", len(data))
    assert 3 * one > len(data)
    with pytest.raises(ValueError, match="item exceeds the per-row budget"):
        heif.parse_heif(data)


def test_ispe_mismatch_is_loud():
    data = bytearray(heif.encode_heic(np.zeros((32, 32), np.uint8)))
    i = bytes(data).find(b"ispe")
    # ispe payload: version/flags u32 + width u32 + height u32
    struct.pack_into(">I", data, i + 8, 999)
    with pytest.raises(ValueError, match="ispe"):
        heif.decode_heif(bytes(data))


def test_heic_page_extracts_byte_identical_text():
    """A rendered text page wrapped in HEIC OCRs to the exact drawn
    text through extract_payload — the full extraction route (sniff →
    HEIF item layer → HEVC PCM decode → detect → recognize) is real
    for this crawl payload class."""
    from ragflow_ocr_spark.kernels import font5x7
    from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload

    img, drawn = font5x7.render_page(["HEIC PAGE EXTRACT 99"], 960, 128, 2)
    r = extract_payload(heif.encode_heic(img))
    assert r.status == "ok"
    assert r.text == "\n".join(drawn)


# ------------------------------------------------------------------ grid
def test_grid_heic_composes_tiles_raster_order():
    """2x3 PCM tile grid composes to the exact padded-then-cropped
    image (the multi-tile layout real camera HEICs use)."""
    rng = _rng(11)
    # 2x2-blockwise so RGB->YUV420 is rounding-only per tile
    img = np.repeat(np.repeat(
        rng.integers(0, 256, (30, 40), dtype=np.uint8), 2, 0), 2, 1)
    data = heif.encode_heic_grid(img, 2, 3)
    info = heif.parse_heif(data)
    assert info["item_type"] == b"grid"
    assert info["refs"][(b"dimg", info["primary"])]
    out = heif.decode_heif(data)
    assert out.shape == (60, 80)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1


def test_grid_flat_is_exact_and_crops_output_size():
    img = np.full((50, 70), 200, np.uint8)  # not a tile-lattice multiple
    out = heif.decode_heif(heif.encode_heic_grid(img, 3, 2))
    assert out.shape == (50, 70)
    assert (out == 200).all()


def test_grid_reference_count_mismatch_is_loud():
    data = bytearray(heif.encode_heic_grid(np.zeros((32, 32), np.uint8), 2, 2))
    i = bytes(data).find(b"dimg")
    # corrupt the reference_count (after from_item u16)
    struct.pack_into(">H", data, i + 4 + 2, 3)
    with pytest.raises(ValueError, match="dimg"):
        heif.decode_heif(bytes(data))


def test_grid_canvas_beyond_pixel_budget_is_refused(monkeypatch):
    """The tile lattice (3x2 tiles of 18x36 = 54x72) can exceed a
    declared output (50x70) that fits the budget: the canvas is
    checked after the first tile, before any allocation or further
    tile decode."""
    data = heif.encode_heic_grid(np.full((50, 70), 200, np.uint8), 3, 2)
    monkeypatch.setattr(heif, "MAX_HEIF_PIXELS", 50 * 70)
    decoded = []
    real = heif._decode_hvc1_item

    def counting(info, tid):
        decoded.append(tid)
        return real(info, tid)

    monkeypatch.setattr(heif, "_decode_hvc1_item", counting)
    with pytest.raises(ValueError, match="canvas"):
        heif.decode_heif(data)
    assert len(decoded) == 1


def test_grid_through_payload_router():
    from ragflow_ocr_spark.kernels import pngcodec
    from ragflow_ocr_spark.kernels.ocr_pipeline import decode_payload_pages

    img = np.full((48, 64), 90, np.uint8)
    data = heif.encode_heic_grid(img, 2, 2)
    assert pngcodec.sniff_payload(data) == "heic"
    kind, pages = decode_payload_pages(data)
    assert kind == "heic" and pages is not None and pages[0].shape == (48, 64)


# ----------------------------------------------------------- orientation
@pytest.mark.parametrize("irot", [1, 2, 3])
def test_irot_rotates_anticlockwise(irot):
    y = np.zeros((32, 64), np.uint8)
    y[0, :] = 255  # top edge marker
    c = np.full((16, 32), 128, np.uint8)
    out = heif.decode_heif(heif.encode_heic_yuv(y, c, c, irot=irot))
    expect = np.rot90(y, irot)
    # BT.601 map of 0/255 with neutral chroma: 0->0(clip), 255->255(clip)
    assert out.shape == expect.shape
    assert ((out > 128) == (expect > 128)).all()


@pytest.mark.parametrize("imir,flip", [(0, "lr"), (1, "ud")])
def test_imir_mirrors_expected_axis(imir, flip):
    y = np.zeros((32, 64), np.uint8)
    y[:, 0] = 255  # left edge marker
    c = np.full((16, 32), 128, np.uint8)
    out = heif.decode_heif(heif.encode_heic_yuv(y, c, c, imir=imir))
    bright_left = (out[:, 0] > 128).all()
    bright_right = (out[:, -1] > 128).all()
    if flip == "lr":
        assert bright_right and not bright_left
    else:  # up-down flip leaves the left edge bright
        assert bright_left and not bright_right


def test_avif_header_parse_real_aom_fixture():
    """A real libaom-encoded AVIF (committed fixture): the AV1 OBU
    sequence-header parse reports the true coded geometry and depth,
    and the decode seam names them."""
    import os

    fix = os.path.join(os.path.dirname(__file__), "fixtures",
                       "avif_a.avif")
    data = open(fix, "rb").read()
    facts = heif.parse_avif_header(data)
    assert facts["width"] == 64 and facts["height"] == 48
    assert facts["bit_depth"] == 8 and facts["still_picture"] == 1
    assert facts["ispe"] == (64, 48)
    with pytest.raises(NotImplementedError, match="64x48 8-bit"):
        heif.decode_heif(data)


def test_avif_header_parse_rejects_garbage():
    with pytest.raises(ValueError):
        heif.parse_av1_sequence_header(b"\x80garbage")
    with pytest.raises(ValueError):
        heif.parse_av1_sequence_header(b"")
    # truncated leb128 size
    with pytest.raises(ValueError):
        heif.parse_av1_sequence_header(bytes([0x0A, 0xFF]))
