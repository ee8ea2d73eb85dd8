"""H.264 input (mp4 avc1, Matroska V_MPEG4/ISO/AVC) and the bitstream
helpers H.264 and HEVC share.

No H.264 decoder is bundled: an H.264 track is the unbundled-codec
seam of the demuxers (NotImplementedError, a per-row error in the
frame stage). The Exp-Golomb coder, emulation prevention and the
BT.601 YUV<->RGB map are the same in both standards; they live in
kernels/hevc.py (``_add_epb`` and the one stripper ``_strip_epb_pos``;
``_yuv_to_rgb``, which the VP8 route calls too) and are pinned here
against hand values and byte-exact YUV round trips through HEVC PCM
streams.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import hevc
from ragflow_ocr_spark.ops import multimodal as mm


# ------------------------------------------------ shared bit/YUV helpers
def test_exp_golomb_hand_values_and_round_trip():
    # ue: 0->'1', 1->'010', 2->'011', 3->'00100' (T-REC-H.264 9.1):
    # concatenated = 1 010 011 00100 -> 1010 0110 0100 0000
    w2 = hevc._BitWriter()
    w2.ue(0)
    w2.ue(1)
    w2.ue(2)
    w2.ue(3)
    w2.byte_align_zero()
    assert bytes(w2.out) == bytes([0b10100110, 0b01000000])
    r = hevc._BitReader(bytes(w2.out))
    assert [r.ue() for _ in range(4)] == [0, 1, 2, 3]
    # se mapping: 0,1,-1,2,-2 <- codes 0,1,2,3,4 (9.1.1)
    w3 = hevc._BitWriter()
    for v in (0, 1, -1, 2, -2, 17, -30):
        w3.se(v)
    w3.byte_align_zero()
    r3 = hevc._BitReader(bytes(w3.out))
    assert [r3.se() for _ in range(7)] == [0, 1, -1, 2, -2, 17, -30]
    rnd = random.Random(1)
    vals = [rnd.randrange(0, 100000) for _ in range(200)]
    w4 = hevc._BitWriter()
    for v in vals:
        w4.ue(v)
    w4.byte_align_zero()
    r4 = hevc._BitReader(bytes(w4.out))
    assert [r4.ue() for _ in range(200)] == vals


def test_emulation_prevention_round_trip():
    rnd = random.Random(2)
    for _ in range(50):
        raw = bytes(rnd.choice((0, 0, 0, 1, 2, 3, 255))
                    for _ in range(rnd.randrange(0, 40)))
        ebsp = hevc._add_epb(raw)
        assert b"\x00\x00\x00" not in ebsp
        assert b"\x00\x00\x01" not in ebsp
        assert hevc._strip_epb_pos(ebsp)[0] == raw


@pytest.mark.parametrize("shape", [(16, 16), (32, 48), (2, 2), (34, 50),
                                   (96, 130), (48, 64)])
def test_yuv_round_trip_byte_exact(shape):
    rng = np.random.default_rng(shape[0])
    h, w = shape
    y = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    u = rng.integers(0, 256, size=((h + 1) // 2, (w + 1) // 2),
                     dtype=np.uint8)
    v = rng.integers(0, 256, size=((h + 1) // 2, (w + 1) // 2),
                     dtype=np.uint8)
    au = hevc.encode_hevc_ipcm_yuv(y, u, v)
    y2, u2, v2 = hevc.decode_hevc_keyframe_yuv(au)
    assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()


def test_rgb_round_trip_flat_and_gray():
    img = np.zeros((48, 64, 3), np.uint8)
    img[:] = (180, 90, 40)
    out = hevc.decode_hevc_keyframe(hevc.encode_hevc_ipcm(img))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
    g = np.random.default_rng(3).integers(0, 256, size=(32, 32),
                                          dtype=np.uint8)
    out = hevc.decode_hevc_keyframe(hevc.encode_hevc_ipcm(g))
    assert out.shape == g.shape
    assert np.abs(out.astype(int) - g.astype(int)).max() <= 1


# ------------------------------------------------------------ containers
# an H.264 IDR access unit: SPS (nal type 7), PPS (8), IDR slice (5)
_H264_AU = (b"\x00\x00\x00\x01\x67\x42\x00\x0a\xf8\x41\xa2"
            b"\x00\x00\x00\x01\x68\xce\x38\x80"
            b"\x00\x00\x00\x01\x65\x88\x84\x00\x33\xff")


def test_mp4_avc1_route():
    c = np.full((8, 8), 128, np.uint8)
    hevc_mp4 = mm.encode_mp4_hvc1(
        [hevc.encode_hevc_ipcm_yuv(np.full((16, 16), 90, np.uint8), c, c)],
        16, 16)
    assert len(list(mm.iter_video_frames(hevc_mp4))) == 1
    avc1_mp4 = hevc_mp4.replace(b"hvc1", b"avc1")
    with pytest.raises(NotImplementedError, match="avc1"):
        list(mm.iter_video_frames(avc1_mp4))


def test_webm_avc_route():
    webm = mm.encode_webm([_H264_AU] * 3, b"V_MPEG4/ISO/AVC")
    with pytest.raises(NotImplementedError, match="V_MPEG4/ISO/AVC"):
        list(mm.iter_video_frames(webm))
