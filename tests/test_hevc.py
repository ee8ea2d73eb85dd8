"""HEVC keyframe layer (kernels/hevc.py): system-independent base
coverage — byte-exact PCM round trips, parameter-set parsing, hvcC
packaging, the named entropy seam, and malformed-input contracts.
The independent-implementation validation (system libde265 decoding
our streams) lives in tests/test_hevc_libde265_crossval.py."""

from __future__ import annotations

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import hevc


def _planes(rng, h, w):
    return (
        rng.integers(0, 256, (h, w), dtype=np.uint8),
        rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2), dtype=np.uint8),
        rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2), dtype=np.uint8),
    )


@pytest.mark.parametrize(
    "h,w",
    [(32, 32), (64, 96), (30, 50), (2, 2), (34, 2), (100, 100)],
)
def test_ipcm_round_trip_is_byte_exact(h, w):
    rng = np.random.default_rng(h * 1000 + w)
    y, u, v = _planes(rng, h, w)
    au = hevc.encode_hevc_ipcm_yuv(y, u, v)
    y2, u2, v2 = hevc.decode_hevc_keyframe_yuv(au)
    assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()


def test_rgb_entry_point_round_trips_gray():
    # grayscale YUV maps to equal RGB channels -> decode returns 2-D
    img = np.arange(64 * 64, dtype=np.uint32).reshape(64, 64)
    img = (img % 256).astype(np.uint8)
    au = hevc.encode_hevc_ipcm(img)
    out = hevc.decode_hevc_keyframe(au)
    assert out.ndim == 2 and out.shape == img.shape
    # YUV conversion is the lossy step; the coded layer is exact
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3


def test_sps_reports_true_cropped_dimensions():
    rng = np.random.default_rng(3)
    y, u, v = _planes(rng, 30, 50)
    au = hevc.encode_hevc_ipcm_yuv(y, u, v)
    sps = next(
        hevc.parse_sps(hevc._strip_epb_pos(nal[2:])[0])
        for nal in hevc.split_annexb(au)
        if (nal[0] >> 1) & 0x3F == hevc.NAL_SPS
    )
    assert (sps["width"], sps["height"]) == (50, 30)
    assert (sps["pic_w"], sps["pic_h"]) == (64, 32)
    assert sps["pcm"]["log2_min"] == sps["ctb_log2"] == 5


def test_hvcc_record_round_trips():
    rng = np.random.default_rng(5)
    au = hevc.encode_hevc_ipcm_yuv(*_planes(rng, 32, 64))
    body, vps, sps, pps = hevc.annexb_au_to_hvcc(au)
    cfg = hevc.build_hvcc(vps, sps, pps)
    nls, param_nals = hevc.parse_hvcc(cfg)
    assert nls == 4 and len(param_nals) == 3
    au2 = hevc.hvcc_sample_to_annexb(body, nls, param_nals)
    y, u, v = hevc.decode_hevc_keyframe_yuv(au)
    y2, u2, v2 = hevc.decode_hevc_keyframe_yuv(au2)
    assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()


def test_sniff_disjoint_from_h264():
    rng = np.random.default_rng(9)
    hevc_au = hevc.encode_hevc_ipcm_yuv(*_planes(rng, 32, 32))
    # H.264 access unit head: SPS (0x67), PPS (0x68), IDR slice (0x65)
    h264_au = (b"\x00\x00\x00\x01\x67\x42\xc0\x1e"
               b"\x00\x00\x00\x01\x68\xce\x3c\x80"
               b"\x00\x00\x00\x01\x65\x88\x84\x00")
    assert hevc.sniff_annexb_hevc(hevc_au)
    assert not hevc.sniff_annexb_hevc(h264_au)
    assert not hevc.sniff_annexb_hevc(b"\x89PNG\r\n\x1a\n")


def test_cabac_engine_round_trips_bin_patterns():
    """The engine alone: arbitrary context-bin sequences encode and
    decode back exactly (MPS runs, LPS flips, state saturation)."""
    from ragflow_ocr_spark.kernels.hevc import _BitReader, _BitWriter

    rng = np.random.default_rng(17)
    for trial in range(8):
        bins = rng.integers(0, 2, size=200).tolist()
        bw = _BitWriter()
        enc = hevc._CabacEncoder(bw)
        ctx = hevc._ctx_init(139, 26)
        for b in bins:
            enc.encode_decision(ctx, int(b))
        enc.encode_terminate(1)
        enc.flush()
        bw.byte_align_zero()
        r = _BitReader(bytes(bw.out))
        dec = hevc._CabacDecoder(r)
        ctx2 = hevc._ctx_init(139, 26)
        got = [dec.decode_decision(ctx2) for _ in bins]
        assert got == bins
        assert dec.decode_terminate() == 1
        assert ctx2 == ctx  # identical adaptation trajectories


def test_ctx_init_matches_spec_derivation():
    # spec 9.3.2.2 worked example: initValue 139 at QP 26 -> state 0,
    # MPS 0 (the exact context our encoder/decoder agree on)
    assert hevc._ctx_init(139, 26) == [0, 0]
    # monotone sanity at the QP extremes (clip keeps it in range)
    for qp in (0, 51):
        st, mps = hevc._ctx_init(139, qp)
        assert 0 <= st <= 62 and mps in (0, 1)


def test_entropy_coded_stub_raises_loudly():
    """A split_cu_flag=1 stream whose payload ends right after the
    split bit goes, like every stream, through the intra decoder
    (kernels/hevc_intra) and must fail LOUDLY on the truncated
    syntax, not return garbage. (Well-formed entropy-coded streams decode for real —
    tests/test_hevc_intra.py.)"""
    from ragflow_ocr_spark.kernels.hevc import _BitWriter

    rng = np.random.default_rng(21)
    au = hevc.encode_hevc_ipcm_yuv(*_planes(rng, 32, 32))
    nals = hevc.split_annexb(au)
    # rebuild the slice with split=1 as the first coded bin
    bw = _BitWriter()
    bw.u(1, 1)
    bw.u(0, 1)
    bw.ue(0)
    bw.ue(2)
    bw.se(0)
    bw.u(1, 1)
    bw.byte_align_zero()
    enc = hevc._CabacEncoder(bw)
    ctx = hevc._ctx_init(139, 26)
    enc.encode_decision(ctx, 1)  # split=1, then the slice ends
    enc.encode_terminate(1)
    enc.flush()
    bw.byte_align_zero()
    bad = bytearray()
    for nal in nals[:-1]:
        bad += b"\x00\x00\x00\x01" + nal
    bad += b"\x00\x00\x00\x01" + hevc._nal_hdr(hevc.NAL_IDR_W_RADL)
    bad += hevc._add_epb(bytes(bw.out))
    with pytest.raises((ValueError, NotImplementedError)):
        hevc.decode_hevc_keyframe_yuv(bytes(bad))


@pytest.mark.parametrize("cut", [0.2, 0.5, 0.9])
def test_truncation_raises_loudly(cut):
    rng = np.random.default_rng(31)
    au = hevc.encode_hevc_ipcm_yuv(*_planes(rng, 64, 64))
    with pytest.raises((ValueError, NotImplementedError)):
        hevc.decode_hevc_keyframe_yuv(au[: int(len(au) * cut)])


def test_bitflip_fuzz_never_returns_silently_wrong_shape():
    """Random single-byte corruptions either decode to the same
    geometry or raise the contractual errors — never crash the
    process (the per-row error mapping in the Spark stage relies on
    this)."""
    rng = np.random.default_rng(41)
    y, u, v = _planes(rng, 32, 64)
    au = bytearray(hevc.encode_hevc_ipcm_yuv(y, u, v))
    for _ in range(60):
        pos = int(rng.integers(0, len(au)))
        old = au[pos]
        au[pos] ^= int(rng.integers(1, 256))
        try:
            y2, _u2, _v2 = hevc.decode_hevc_keyframe_yuv(bytes(au))
            assert y2.shape == y.shape
        except (ValueError, NotImplementedError):
            pass
        au[pos] = old


def test_odd_dimensions_rejected():
    rng = np.random.default_rng(43)
    y = rng.integers(0, 256, (31, 50), dtype=np.uint8)
    u = rng.integers(0, 256, (16, 25), dtype=np.uint8)
    with pytest.raises(ValueError):
        hevc.encode_hevc_ipcm_yuv(y, u, u)


# ------------------------------------------------------------ containers
def _flat_hevc_au(v: int, h: int = 32, w: int = 48) -> bytes:
    y = np.full((h, w), v, np.uint8)
    c = np.full((h // 2, w // 2), 128, np.uint8)
    return hevc.encode_hevc_ipcm_yuv(y, c, c)


def test_mp4_hvc1_route():
    from ragflow_ocr_spark.ops import multimodal as mm

    aus = [_flat_hevc_au(30 + 30 * k) for k in range(4)]
    mp4 = mm.encode_mp4_hvc1(aus, 48, 32)
    frames = list(mm.iter_video_frames(mp4))
    assert len(frames) == 4
    # the hvc1 route yields self-contained Annex-B access units
    for k, fr in enumerate(frames):
        assert hevc.sniff_annexb_hevc(fr)
        img = mm._decode_frame(fr)
        assert img.shape[:2] == (32, 48)


def test_webm_hevc_route():
    import struct as st

    from ragflow_ocr_spark.ops import multimodal as mm

    aus = [_flat_hevc_au(40 + 20 * k) for k in range(3)]
    samples, vps, sps, pps = [], None, None, None
    for au in aus:
        s, vv, sp, pp = hevc.annexb_au_to_hvcc(au)
        samples.append(s)
        vps, sps, pps = vps or vv, sps or sp, pps or pp
    hvcc = hevc.build_hvcc(vps, sps, pps)
    # encode_webm writes no CodecPrivate, so assemble the TrackEntry
    # by hand with the hvcC record in 0x63A2
    track = mm._mkv_el(0xD7, b"\x01") + mm._mkv_el(0x83, b"\x01") \
        + mm._mkv_el(0x86, b"V_MPEGH/ISO/HEVC") + mm._mkv_el(0x63A2, hvcc)
    tracks = mm._mkv_el(0x1654AE6B, mm._mkv_el(0xAE, track))
    blocks = b""
    for k, s in enumerate(samples):
        blocks += mm._mkv_el(0xA3, b"\x81" + st.pack(">h", k) + b"\x80" + s)
    cluster = mm._mkv_el(0x1F43B675, mm._mkv_el(0xE7, b"\x00") + blocks)
    ebml = mm._mkv_el(0x1A45DFA3, mm._mkv_el(0x4282, b"matroska")
                      + mm._mkv_el(0x4286, b"\x01"))
    webm = ebml + mm._mkv_el(0x18538067, tracks + cluster)
    frames = list(mm.iter_video_frames(webm))
    assert len(frames) == 3
    for k, fr in enumerate(frames):
        img = mm._decode_frame(fr)
        assert img.shape[:2] == (32, 48)


def test_mp4_entropy_coded_hvc1_is_per_row_error(spark):
    """An entropy-coded (non-PCM) hvc1 mp4 must become an error row in
    the Spark frame stage, never a task failure."""
    from ragflow_ocr_spark.kernels.hevc import _BitWriter

    from ragflow_ocr_spark.ops import multimodal as mm

    rng = np.random.default_rng(51)
    good = hevc.encode_hevc_ipcm_yuv(*_planes(rng, 32, 32))
    nals = hevc.split_annexb(good)
    bw = _BitWriter()
    bw.u(1, 1)
    bw.u(0, 1)
    bw.ue(0)
    bw.ue(2)
    bw.se(0)
    bw.u(1, 1)
    bw.byte_align_zero()
    enc = hevc._CabacEncoder(bw)
    enc.encode_decision(hevc._ctx_init(139, 26), 0)  # split=0
    enc.encode_terminate(0)                          # pcm_flag=0 ->
    enc.encode_terminate(1)                          # (seam) pad out
    enc.flush()
    bw.byte_align_zero()
    au = bytearray()
    for nal in nals[:-1]:
        au += b"\x00\x00\x00\x01" + nal
    au += b"\x00\x00\x00\x01" + hevc._nal_hdr(hevc.NAL_IDR_W_RADL)
    au += hevc._add_epb(bytes(bw.out))
    mp4 = mm.encode_mp4_hvc1([bytes(au)], 32, 32)
    df = spark.createDataFrame(
        [(1, "video", bytearray(mp4), "hvc1", 32, 32, 0)],
        mm.MEDIA_SCHEMA,
    )
    out = df.mapInPandas(
        mm.frame_sample_stage(every_k=1), schema=mm.FRAME_SAMPLE_SCHEMA
    ).toPandas()
    assert len(out) == 1 and out.status[0] == "error"
