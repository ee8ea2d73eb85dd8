"""Pure-Python VP8 (lossy WebP) still-image codec — RFC 6386 keyframes.

Closes the last webp seam (`kernels/webp.py` previously raised
NotImplementedError for ``VP8 `` chunks; the reference accepts lossy
WebP via cv2.imdecode, /root/reference/ocr/operators.py:41-46). This
module implements the keyframe (intra-only) decode path a still image
needs:

- boolean arithmetic decoder/encoder (RFC 6386 §7),
- uncompressed frame tag + compressed keyframe header (§9),
- per-MB mode decoding: kf Y modes (incl. B_PRED 4x4 submodes with
  above/left mode contexts) and chroma modes (§11),
- DCT token decoding with coefficient bands, zero-run tree re-entry,
  cat1..cat6 extra bits, per-plane nonzero contexts, skip handling
  (§13),
- dequantization via the DC/AC lookup tables with per-frame deltas and
  the Y2/UV scaling quirks (§14.1),
- inverse WHT for Y2 and the 4x4 LLM IDCT with exact integer rounding
  (§14.3-14.4),
- intra prediction: 16x16 + chroma DC/V/H/TM with 127/129 off-frame
  edge conventions, and the ten 4x4 B modes including the
  above-right-from-above-MB-row quirk for right-edge subblocks (§12),
- the normal + simple in-loop deblocking filters (§15), and
- YUV420 → RGB (BT.601 studio swing, nearest-neighbor chroma
  upsampling, through kernels/hevc.py's map; documented divergence
  from libwebp's fancy upsampler — irrelevant for flat/blocky
  fixtures, sub-LSB-visible elsewhere).

TABLE PROVENANCE: every constant below — trees, coefficient bands,
zigzag, quantizer lookups, extra-bit (cat) probabilities, keyframe
mode probabilities, and the three large context tables
(DEFAULT_COEFF_PROBS §13.5, COEFF_UPDATE_PROBS §13.4, KF_BMODE_PROB
§11.5) — now carries the exact RFC 6386 default values. The three
large tables were verified byte-for-byte against the constants
embedded in the system libwebp shared object (with KF_BMODE_PROB's
indices mapped from libwebp's source enum order RD,VR,LD back to the
RFC bitstream order LD,RD,VR at positions 4-6), which closed the
round-4 "best-effort reconstruction" seam. Live proof: the
libwebp-encoded CPython-test-suite golden at
tests/fixtures/python_logo.webp decodes to full partition consumption
and the correct image (tests/test_vp8.py) — under the old
reconstructed tables it desynced. Wild lossy-WebP *keyframes* from
standard encoders therefore decode bit-exactly; inter frames remain a
named error (see decode_vp8).

The encoder exists for fixtures/tests only: keyframe, no
segmentation, single token partition, no probability updates. It
takes per-MB modes + quantized coefficient levels and returns both
the RIFF/WEBP bytes and the exact expected reconstruction (computed
through the same dequant/IDCT/prediction/loop-filter code path the
decoder uses), so tests pin the bitstream layer (bool coder, trees,
contexts, header fields) independently of the transform layer, which
has its own hand-computed unit tests.

Scale note (100 TB): decode is a per-macroblock Python loop over
numpy 4x4/16x16 kernels — correctness-grade, not speed-grade, like
the VP8L path. VP8_MAX_PIXELS bounds the straggler cost per Spark
task; larger payloads become per-row errors, never task failures.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels import hevc

# A 4 Mpix ceiling (tighter than VP8L_MAX_PIXELS, whose entropy loop
# got the round-3 windowed-peek rewrite): covers typical web images,
# bounds the pure-Python per-macroblock loop (~16k MBs) to a few
# seconds per task.
VP8_MAX_PIXELS = 1 << 22

# ---------------------------------------------------------------------------
# Constants — RFC 6386 (trees store: positive = next node index,
# non-positive = leaf, symbol = -value; prob index for node i is i>>1)
# ---------------------------------------------------------------------------

# 16x16 / chroma prediction modes
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
# 4x4 subblock modes
(B_DC_PRED, B_TM_PRED, B_VE_PRED, B_HE_PRED, B_LD_PRED,
 B_RD_PRED, B_VR_PRED, B_VL_PRED, B_HD_PRED, B_HU_PRED) = range(10)

KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROB = (145, 156, 163, 128)

UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROB = (142, 114, 183)

BMODE_TREE = (
    -B_DC_PRED, 2,
    -B_TM_PRED, 4,
    -B_VE_PRED, 6,
    8, 12,
    -B_HE_PRED, 10,
    -B_RD_PRED, -B_VR_PRED,
    -B_LD_PRED, 14,
    -B_VL_PRED, 16,
    -B_HD_PRED, -B_HU_PRED,
)

MB_SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# the 16x16 mode each non-B_PRED Y mode implies for B-mode context
_MODE_TO_BMODE = {
    DC_PRED: B_DC_PRED, V_PRED: B_VE_PRED,
    H_PRED: B_HE_PRED, TM_PRED: B_TM_PRED,
}

# token alphabet (§13.2)
(ZERO_TOKEN, ONE_TOKEN, TWO_TOKEN, THREE_TOKEN, FOUR_TOKEN,
 CAT1, CAT2, CAT3, CAT4, CAT5, CAT6, DCT_EOB) = range(12)

COEFF_TREE = (
    -DCT_EOB, 2,
    -ZERO_TOKEN, 4,
    -ONE_TOKEN, 6,
    8, 12,
    -TWO_TOKEN, 10,
    -THREE_TOKEN, -FOUR_TOKEN,
    14, 16,
    -CAT1, -CAT2,
    18, 20,
    -CAT3, -CAT4,
    -CAT5, -CAT6,
)

# per-token (base value, extra-bit probs); §13.2-13.3
CAT_BASE = {CAT1: 5, CAT2: 7, CAT3: 11, CAT4: 19, CAT5: 35, CAT6: 67}
CAT_PROBS = {
    CAT1: (159,),
    CAT2: (165, 145),
    CAT3: (173, 148, 140),
    CAT4: (176, 155, 140, 135),
    CAT5: (180, 157, 141, 134, 130),
    CAT6: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}

COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

DC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114,
    116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143,
    145, 148, 151, 154, 157,
)
AC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106,
    108, 110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140,
    143, 146, 149, 152, 155, 158, 161, 164, 167, 170, 173, 177, 181,
    185, 189, 193, 197, 201, 205, 209, 213, 217, 221, 225, 229, 234,
    239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
)

# ---------------------------------------------------------------------------
# Large context tables — RFC 6386 defaults, transcribed literal-for-
# literal (round-5 replacement of the earlier parametric fill):
# DEFAULT_COEFF_PROBS = §13.5 default_coeff_probs, COEFF_UPDATE_PROBS =
# §13.4 coeff_update_probs, KF_BMODE_PROB = §11.5 kf_bmode_prob.
# Validated against a REAL libwebp-encoded stream: the CPython
# test-suite `python.webp` golden (tests/fixtures/) decodes to full
# partition consumption with a sane image — with the old fill tables
# it desynced (9 unread bytes); any wrong entry a stream touches
# desyncs the bool decoder, so that decode is a live check of every
# entry on the stream's path. Encoder and decoder share these, so all
# in-repo round trips stay exact by construction.
# ---------------------------------------------------------------------------

DEFAULT_COEFF_PROBS = (
    (  # block type 0 (Y after Y2)
        (
            (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
            (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
            (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
        (
            (253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128),
            (189, 129, 242, 255, 227, 213, 255, 219, 128, 128, 128),
            (106, 126, 227, 252, 214, 209, 255, 255, 128, 128, 128),
        ),
        (
            (1, 98, 248, 255, 236, 226, 255, 255, 128, 128, 128),
            (181, 133, 238, 254, 221, 234, 255, 154, 128, 128, 128),
            (78, 134, 202, 247, 198, 180, 255, 219, 128, 128, 128),
        ),
        (
            (1, 185, 249, 255, 243, 255, 128, 128, 128, 128, 128),
            (184, 150, 247, 255, 236, 224, 128, 128, 128, 128, 128),
            (77, 110, 216, 255, 236, 230, 128, 128, 128, 128, 128),
        ),
        (
            (1, 101, 251, 255, 241, 255, 128, 128, 128, 128, 128),
            (170, 139, 241, 252, 236, 209, 255, 255, 128, 128, 128),
            (37, 116, 196, 243, 228, 255, 255, 255, 128, 128, 128),
        ),
        (
            (1, 204, 254, 255, 245, 255, 128, 128, 128, 128, 128),
            (207, 160, 250, 255, 238, 128, 128, 128, 128, 128, 128),
            (102, 103, 231, 255, 211, 171, 128, 128, 128, 128, 128),
        ),
        (
            (1, 152, 252, 255, 240, 255, 128, 128, 128, 128, 128),
            (177, 135, 243, 255, 234, 225, 128, 128, 128, 128, 128),
            (80, 129, 211, 255, 194, 224, 128, 128, 128, 128, 128),
        ),
        (
            (1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
            (246, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
            (255, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
    ),
    (  # block type 1 (Y2)
        (
            (198, 35, 237, 223, 193, 187, 162, 160, 145, 155, 62),
            (131, 45, 198, 221, 172, 176, 220, 157, 252, 221, 1),
            (68, 47, 146, 208, 149, 167, 221, 162, 255, 223, 128),
        ),
        (
            (1, 149, 241, 255, 221, 224, 255, 255, 128, 128, 128),
            (184, 141, 234, 253, 222, 220, 255, 199, 128, 128, 128),
            (81, 99, 181, 242, 176, 190, 249, 202, 255, 255, 128),
        ),
        (
            (1, 129, 232, 253, 214, 197, 242, 196, 255, 255, 128),
            (99, 121, 210, 250, 201, 198, 255, 202, 128, 128, 128),
            (23, 91, 163, 242, 170, 187, 247, 210, 255, 255, 128),
        ),
        (
            (1, 200, 246, 255, 234, 255, 128, 128, 128, 128, 128),
            (109, 178, 241, 255, 231, 245, 255, 255, 128, 128, 128),
            (44, 130, 201, 253, 205, 192, 255, 255, 128, 128, 128),
        ),
        (
            (1, 132, 239, 251, 219, 209, 255, 165, 128, 128, 128),
            (94, 136, 225, 251, 218, 190, 255, 255, 128, 128, 128),
            (22, 100, 174, 245, 186, 161, 255, 199, 128, 128, 128),
        ),
        (
            (1, 182, 249, 255, 232, 235, 128, 128, 128, 128, 128),
            (124, 143, 241, 255, 227, 234, 128, 128, 128, 128, 128),
            (35, 77, 181, 251, 193, 211, 255, 205, 128, 128, 128),
        ),
        (
            (1, 157, 247, 255, 236, 231, 255, 255, 128, 128, 128),
            (121, 141, 235, 255, 225, 227, 255, 255, 128, 128, 128),
            (45, 99, 188, 251, 195, 217, 255, 224, 128, 128, 128),
        ),
        (
            (1, 1, 251, 255, 213, 255, 128, 128, 128, 128, 128),
            (203, 1, 248, 255, 255, 128, 128, 128, 128, 128, 128),
            (137, 1, 177, 255, 224, 255, 128, 128, 128, 128, 128),
        ),
    ),
    (  # block type 2 (chroma)
        (
            (253, 9, 248, 251, 207, 208, 255, 192, 128, 128, 128),
            (175, 13, 224, 243, 193, 185, 249, 198, 255, 255, 128),
            (73, 17, 171, 221, 161, 179, 236, 167, 255, 234, 128),
        ),
        (
            (1, 95, 247, 253, 212, 183, 255, 255, 128, 128, 128),
            (239, 90, 244, 250, 211, 209, 255, 255, 128, 128, 128),
            (155, 77, 195, 248, 188, 195, 255, 255, 128, 128, 128),
        ),
        (
            (1, 24, 239, 251, 218, 219, 255, 205, 128, 128, 128),
            (201, 51, 219, 255, 196, 186, 128, 128, 128, 128, 128),
            (69, 46, 190, 239, 201, 218, 255, 228, 128, 128, 128),
        ),
        (
            (1, 191, 251, 255, 255, 128, 128, 128, 128, 128, 128),
            (223, 165, 249, 255, 213, 255, 128, 128, 128, 128, 128),
            (141, 124, 248, 255, 255, 128, 128, 128, 128, 128, 128),
        ),
        (
            (1, 16, 248, 255, 255, 128, 128, 128, 128, 128, 128),
            (190, 36, 230, 255, 236, 255, 128, 128, 128, 128, 128),
            (149, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
        (
            (1, 226, 255, 128, 128, 128, 128, 128, 128, 128, 128),
            (247, 192, 255, 128, 128, 128, 128, 128, 128, 128, 128),
            (240, 128, 255, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
        (
            (1, 134, 252, 255, 255, 128, 128, 128, 128, 128, 128),
            (213, 62, 250, 255, 255, 128, 128, 128, 128, 128, 128),
            (55, 93, 255, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
        (
            (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
            (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
            (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
    ),
    (  # block type 3 (Y with Y2 absent)
        (
            (202, 24, 213, 235, 186, 191, 220, 160, 240, 175, 255),
            (126, 38, 182, 232, 169, 184, 228, 174, 255, 187, 128),
            (61, 46, 138, 219, 151, 178, 240, 170, 255, 216, 128),
        ),
        (
            (1, 112, 230, 250, 199, 191, 247, 159, 255, 255, 128),
            (166, 109, 228, 252, 211, 215, 255, 174, 128, 128, 128),
            (39, 77, 162, 232, 172, 180, 245, 178, 255, 255, 128),
        ),
        (
            (1, 52, 220, 246, 198, 199, 249, 220, 255, 255, 128),
            (124, 74, 191, 243, 183, 193, 250, 221, 255, 255, 128),
            (24, 71, 130, 219, 154, 170, 243, 182, 255, 255, 128),
        ),
        (
            (1, 182, 225, 249, 219, 240, 255, 224, 128, 128, 128),
            (149, 150, 226, 252, 216, 205, 255, 171, 128, 128, 128),
            (28, 108, 170, 242, 183, 194, 254, 223, 255, 255, 128),
        ),
        (
            (1, 81, 230, 252, 204, 203, 255, 192, 128, 128, 128),
            (123, 102, 209, 247, 188, 196, 255, 233, 128, 128, 128),
            (20, 95, 153, 243, 164, 173, 255, 203, 128, 128, 128),
        ),
        (
            (1, 222, 248, 255, 216, 213, 128, 128, 128, 128, 128),
            (168, 175, 246, 252, 235, 205, 255, 255, 128, 128, 128),
            (47, 116, 215, 255, 211, 212, 255, 255, 128, 128, 128),
        ),
        (
            (1, 121, 236, 253, 212, 214, 255, 255, 128, 128, 128),
            (141, 84, 213, 252, 201, 202, 255, 219, 128, 128, 128),
            (42, 80, 160, 240, 162, 185, 255, 205, 128, 128, 128),
        ),
        (
            (1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
            (244, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
            (238, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
        ),
    ),
)

# §13.4 coeff_update_probs — probability of each per-node update flag.
# Every one of the 1056 entries is exercised by EVERY frame header, so
# a single wrong value desyncs all wild streams; the libwebp golden
# decode below covers the whole table end-to-end.
COEFF_UPDATE_PROBS = (
    (  # block type 0 (Y after Y2)
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (176, 246, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (223, 241, 252, 255, 255, 255, 255, 255, 255, 255, 255),
            (249, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 244, 252, 255, 255, 255, 255, 255, 255, 255, 255),
            (234, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (253, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 246, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (239, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (251, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (251, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 254, 253, 255, 254, 255, 255, 255, 255, 255, 255),
            (250, 255, 254, 255, 254, 255, 255, 255, 255, 255, 255),
            (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
    ),
    (  # block type 1 (Y2)
        (
            (217, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (225, 252, 241, 253, 255, 255, 254, 255, 255, 255, 255),
            (234, 250, 241, 250, 253, 255, 253, 254, 255, 255, 255),
        ),
        (
            (255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (223, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (238, 253, 254, 254, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (249, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 253, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (247, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (252, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (253, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255),
            (250, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
    ),
    (  # block type 2 (chroma)
        (
            (186, 251, 250, 255, 255, 255, 255, 255, 255, 255, 255),
            (234, 251, 244, 254, 255, 255, 255, 255, 255, 255, 255),
            (251, 251, 243, 253, 254, 255, 254, 255, 255, 255, 255),
        ),
        (
            (255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (236, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (251, 253, 253, 254, 254, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
    ),
    (  # block type 3 (Y with Y2 absent)
        (
            (248, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (250, 254, 252, 254, 255, 255, 255, 255, 255, 255, 255),
            (248, 254, 249, 253, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255),
            (246, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255),
            (252, 254, 251, 254, 254, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 254, 252, 255, 255, 255, 255, 255, 255, 255, 255),
            (248, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255),
            (253, 255, 254, 254, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 251, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (245, 251, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (253, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 251, 253, 255, 255, 255, 255, 255, 255, 255, 255),
            (252, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 252, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (249, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 253, 255, 255, 255, 255, 255, 255, 255, 255),
            (250, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
        (
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
            (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
        ),
    ),
)

# §11.5 kf_bmode_prob[above][left][9] — keyframe 4x4 submode contexts,
# indexed in the RFC/bitstream B-mode order (DC,TM,VE,HE,LD,RD,VR,VL,
# HD,HU — note libwebp's source enum swaps LD/RD/VR at indices 4-6).
KF_BMODE_PROB = (
    (
        (231, 120, 48, 89, 115, 113, 120, 152, 112),
        (152, 179, 64, 126, 170, 118, 46, 70, 95),
        (175, 69, 143, 80, 85, 82, 72, 155, 103),
        (56, 58, 10, 171, 218, 189, 17, 13, 152),
        (144, 71, 10, 38, 171, 213, 144, 34, 26),
        (114, 26, 17, 163, 44, 195, 21, 10, 173),
        (121, 24, 80, 195, 26, 62, 44, 64, 85),
        (170, 46, 55, 19, 136, 160, 33, 206, 71),
        (63, 20, 8, 114, 114, 208, 12, 9, 226),
        (81, 40, 11, 96, 182, 84, 29, 16, 36),
    ),
    (
        (134, 183, 89, 137, 98, 101, 106, 165, 148),
        (72, 187, 100, 130, 157, 111, 32, 75, 80),
        (66, 102, 167, 99, 74, 62, 40, 234, 128),
        (41, 53, 9, 178, 241, 141, 26, 8, 107),
        (104, 79, 12, 27, 217, 255, 87, 17, 7),
        (74, 43, 26, 146, 73, 166, 49, 23, 157),
        (65, 38, 105, 160, 51, 52, 31, 115, 128),
        (87, 68, 71, 44, 114, 51, 15, 186, 23),
        (47, 41, 14, 110, 182, 183, 21, 17, 194),
        (66, 45, 25, 102, 197, 189, 23, 18, 22),
    ),
    (
        (88, 88, 147, 150, 42, 46, 45, 196, 205),
        (43, 97, 183, 117, 85, 38, 35, 179, 61),
        (39, 53, 200, 87, 26, 21, 43, 232, 171),
        (56, 34, 51, 104, 114, 102, 29, 93, 77),
        (107, 54, 32, 26, 51, 1, 81, 43, 31),
        (39, 28, 85, 171, 58, 165, 90, 98, 64),
        (34, 22, 116, 206, 23, 34, 43, 166, 73),
        (68, 25, 106, 22, 64, 171, 36, 225, 114),
        (34, 19, 21, 102, 132, 188, 16, 76, 124),
        (62, 18, 78, 95, 85, 57, 50, 48, 51),
    ),
    (
        (193, 101, 35, 159, 215, 111, 89, 46, 111),
        (60, 148, 31, 172, 219, 228, 21, 18, 111),
        (112, 113, 77, 85, 179, 255, 38, 120, 114),
        (40, 42, 1, 196, 245, 209, 10, 25, 109),
        (100, 80, 8, 43, 154, 1, 51, 26, 71),
        (88, 43, 29, 140, 166, 213, 37, 43, 154),
        (61, 63, 30, 155, 67, 45, 68, 1, 209),
        (142, 78, 78, 16, 255, 128, 34, 197, 171),
        (41, 40, 5, 102, 211, 183, 4, 1, 221),
        (51, 50, 17, 168, 209, 192, 23, 25, 82),
    ),
    (
        (125, 98, 42, 88, 104, 85, 117, 175, 82),
        (95, 84, 53, 89, 128, 100, 113, 101, 45),
        (75, 79, 123, 47, 51, 128, 81, 171, 1),
        (57, 17, 5, 71, 102, 57, 53, 41, 49),
        (115, 21, 2, 10, 102, 255, 166, 23, 6),
        (38, 33, 13, 121, 57, 73, 26, 1, 85),
        (41, 10, 67, 138, 77, 110, 90, 47, 114),
        (101, 29, 16, 10, 85, 128, 101, 196, 26),
        (57, 18, 10, 102, 102, 213, 34, 20, 43),
        (117, 20, 15, 36, 163, 128, 68, 1, 26),
    ),
    (
        (138, 31, 36, 171, 27, 166, 38, 44, 229),
        (67, 87, 58, 169, 82, 115, 26, 59, 179),
        (63, 59, 90, 180, 59, 166, 93, 73, 154),
        (40, 40, 21, 116, 143, 209, 34, 39, 175),
        (57, 46, 22, 24, 128, 1, 54, 17, 37),
        (47, 15, 16, 183, 34, 223, 49, 45, 183),
        (46, 17, 33, 183, 6, 98, 15, 32, 183),
        (65, 32, 73, 115, 28, 128, 23, 128, 205),
        (40, 3, 9, 115, 51, 192, 18, 6, 223),
        (87, 37, 9, 115, 59, 77, 64, 21, 47),
    ),
    (
        (104, 55, 44, 218, 9, 54, 53, 130, 226),
        (64, 90, 70, 205, 40, 41, 23, 26, 57),
        (54, 57, 112, 184, 5, 41, 38, 166, 213),
        (30, 34, 26, 133, 152, 116, 10, 32, 134),
        (75, 32, 12, 51, 192, 255, 160, 43, 51),
        (39, 19, 53, 221, 26, 114, 32, 73, 255),
        (31, 9, 65, 234, 2, 15, 1, 118, 73),
        (88, 31, 35, 67, 102, 85, 55, 186, 85),
        (56, 21, 23, 111, 59, 205, 45, 37, 192),
        (55, 38, 70, 124, 73, 102, 1, 34, 98),
    ),
    (
        (102, 61, 71, 37, 34, 53, 31, 243, 192),
        (69, 60, 71, 38, 73, 119, 28, 222, 37),
        (68, 45, 128, 34, 1, 47, 11, 245, 171),
        (62, 17, 19, 70, 146, 85, 55, 62, 70),
        (75, 15, 9, 9, 64, 255, 184, 119, 16),
        (37, 43, 37, 154, 100, 163, 85, 160, 1),
        (63, 9, 92, 136, 28, 64, 32, 201, 85),
        (86, 6, 28, 5, 64, 255, 25, 248, 1),
        (56, 8, 17, 132, 137, 255, 55, 116, 128),
        (58, 15, 20, 82, 135, 57, 26, 121, 40),
    ),
    (
        (164, 50, 31, 137, 154, 133, 25, 35, 218),
        (51, 103, 44, 131, 131, 123, 31, 6, 158),
        (86, 40, 64, 135, 148, 224, 45, 183, 128),
        (22, 26, 17, 131, 240, 154, 14, 1, 209),
        (83, 12, 13, 54, 192, 255, 68, 47, 28),
        (45, 16, 21, 91, 64, 222, 7, 1, 197),
        (56, 21, 39, 155, 60, 138, 23, 102, 213),
        (85, 26, 85, 85, 128, 128, 32, 146, 171),
        (18, 11, 7, 63, 144, 171, 4, 4, 246),
        (35, 27, 10, 146, 174, 171, 12, 26, 128),
    ),
    (
        (190, 80, 35, 99, 180, 80, 126, 54, 45),
        (85, 126, 47, 87, 176, 51, 41, 20, 32),
        (101, 75, 128, 139, 118, 146, 116, 128, 85),
        (56, 41, 15, 176, 236, 85, 37, 9, 62),
        (146, 36, 19, 30, 171, 255, 97, 27, 20),
        (71, 30, 17, 119, 118, 255, 17, 18, 138),
        (101, 38, 60, 138, 55, 70, 43, 26, 142),
        (138, 45, 61, 62, 219, 1, 81, 188, 64),
        (32, 41, 20, 117, 151, 142, 20, 21, 163),
        (112, 19, 12, 61, 195, 128, 48, 4, 24),
    ),
)


# ---------------------------------------------------------------------------
# Boolean coder (RFC 6386 §7) — decoder and encoder
# ---------------------------------------------------------------------------


class BoolDecoder:
    """RFC 6386 §7.3 boolean decoder over one partition."""

    __slots__ = ("data", "pos", "value", "range", "bit_count")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 2
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.value = (b0 << 8) | b1
        self.range = 255
        self.bit_count = 0

    def read_bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big_split = split << 8
        if self.value >= big_split:
            ret = 1
            self.range -= split
            self.value -= big_split
        else:
            ret = 0
            self.range = split
        # renormalize
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                self.pos += 1
                # reading (well) past the end means a truncated stream
                if self.pos > len(self.data) + 8:
                    raise ValueError("truncated VP8 partition")
        return ret

    def read_literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bool(128)
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_literal(n)
        return -v if self.read_bool(128) else v

    def read_tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.read_bool(probs[i >> 1])]
            if i <= 0:
                return -i


class BoolEncoder:
    """RFC 6386 §7.3 boolean encoder (appendix implementation)."""

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def _carry(self) -> None:
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 255:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1
        # a carry out of an empty buffer cannot happen for valid streams

    def write_bool(self, prob: int, value: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if value:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8

    def write_literal(self, value: int, n: int) -> None:
        for shift in range(n - 1, -1, -1):
            self.write_bool(128, (value >> shift) & 1)

    def write_signed(self, value: int, n: int) -> None:
        self.write_literal(abs(value), n)
        self.write_bool(128, 1 if value < 0 else 0)

    def write_tree(self, tree, probs, symbol: int, start: int = 0) -> None:
        # walk from `start`, choosing the branch whose subtree holds symbol
        path = _tree_path(tree, symbol, start)
        for node, bit in path:
            self.write_bool(probs[node >> 1], bit)

    def finish(self) -> bytes:
        c = self.bit_count
        v = self.bottom
        if v & (1 << (32 - c)):
            self._carry()
        v <<= c & 7
        c >>= 3
        while c > 0:
            v <<= 8
            c -= 1
        for _ in range(4):
            self.out.append((v >> 24) & 0xFF)
            v = (v << 8) & 0xFFFFFFFF
        return bytes(self.out)


_TREE_PATH_CACHE: dict = {}


def _tree_path(tree, symbol: int, start: int = 0):
    key = (id(tree), start)
    got = _TREE_PATH_CACHE.get(key)
    if got is None:
        paths = {}

        def walk(i, acc):
            for bit in (0, 1):
                t = tree[i + bit]
                if t > 0:
                    walk(t, acc + ((i, bit),))
                else:
                    paths.setdefault(-t, acc + ((i, bit),))

        walk(start, ())
        _TREE_PATH_CACHE[key] = paths
        got = paths
    return got[symbol]


# ---------------------------------------------------------------------------
# Frame parsing (RFC 6386 §9, §11, §13)
# ---------------------------------------------------------------------------


class _FrameHeader:
    __slots__ = (
        "width", "height", "mb_cols", "mb_rows",
        "filter_type", "filter_level", "sharpness",
        "segmentation_enabled", "update_mb_segmentation_map",
        "segment_abs", "segment_quant", "segment_lf", "segment_tree_probs",
        "lf_delta_enabled", "ref_lf_deltas", "mode_lf_deltas",
        "q_index", "y1dc_delta", "y2dc_delta", "y2ac_delta",
        "uvdc_delta", "uvac_delta",
        "coeff_probs", "mb_no_coeff_skip", "prob_skip_false",
        "refresh_entropy",
    )


def _parse_header(bd: BoolDecoder, hdr: _FrameHeader) -> None:
    """Compressed keyframe header, after color space bits (§9.2-9.11)."""
    bd.read_literal(1)  # color_space (keyframe)
    bd.read_literal(1)  # clamping_type

    hdr.segmentation_enabled = bd.read_literal(1)
    hdr.update_mb_segmentation_map = 0
    hdr.segment_abs = 0
    hdr.segment_quant = [0, 0, 0, 0]
    hdr.segment_lf = [0, 0, 0, 0]
    hdr.segment_tree_probs = [255, 255, 255]
    if hdr.segmentation_enabled:
        hdr.update_mb_segmentation_map = bd.read_literal(1)
        update_data = bd.read_literal(1)
        if update_data:
            hdr.segment_abs = bd.read_literal(1)
            for i in range(4):
                if bd.read_literal(1):
                    hdr.segment_quant[i] = bd.read_signed(7)
            for i in range(4):
                if bd.read_literal(1):
                    hdr.segment_lf[i] = bd.read_signed(6)
        if hdr.update_mb_segmentation_map:
            for i in range(3):
                if bd.read_literal(1):
                    hdr.segment_tree_probs[i] = bd.read_literal(8)

    hdr.filter_type = bd.read_literal(1)  # 0 = normal, 1 = simple
    hdr.filter_level = bd.read_literal(6)
    hdr.sharpness = bd.read_literal(3)

    hdr.lf_delta_enabled = bd.read_literal(1)
    hdr.ref_lf_deltas = [0, 0, 0, 0]
    hdr.mode_lf_deltas = [0, 0, 0, 0]
    if hdr.lf_delta_enabled:
        if bd.read_literal(1):  # mode_ref_lf_delta_update
            for i in range(4):
                if bd.read_literal(1):
                    hdr.ref_lf_deltas[i] = bd.read_signed(6)
            for i in range(4):
                if bd.read_literal(1):
                    hdr.mode_lf_deltas[i] = bd.read_signed(6)


def _parse_quant(bd: BoolDecoder, hdr: _FrameHeader) -> None:
    hdr.q_index = bd.read_literal(7)

    def delta():
        return bd.read_signed(4) if bd.read_literal(1) else 0

    hdr.y1dc_delta = delta()
    hdr.y2dc_delta = delta()
    hdr.y2ac_delta = delta()
    hdr.uvdc_delta = delta()
    hdr.uvac_delta = delta()


def _parse_coeff_probs(bd: BoolDecoder, hdr: _FrameHeader) -> None:
    probs = [[[list(DEFAULT_COEFF_PROBS[i][j][k]) for k in range(3)]
              for j in range(8)] for i in range(4)]
    for i in range(4):
        for j in range(8):
            for k in range(3):
                row = probs[i][j][k]
                upd = COEFF_UPDATE_PROBS[i][j][k]
                for t in range(11):
                    if bd.read_bool(upd[t]):
                        row[t] = bd.read_literal(8)
    hdr.coeff_probs = probs


def _quant_factors(hdr: _FrameHeader, segment: int):
    """(y1dc, y1ac, y2dc, y2ac, uvdc, uvac) for one segment (§14.1)."""
    q = hdr.q_index
    if hdr.segmentation_enabled:
        q = (hdr.segment_quant[segment] if hdr.segment_abs
             else q + hdr.segment_quant[segment])

    def clamp_q(v):
        return max(0, min(127, v))

    y1dc = DC_QLOOKUP[clamp_q(q + hdr.y1dc_delta)]
    y1ac = AC_QLOOKUP[clamp_q(q)]
    y2dc = DC_QLOOKUP[clamp_q(q + hdr.y2dc_delta)] * 2
    y2ac = AC_QLOOKUP[clamp_q(q + hdr.y2ac_delta)] * 155 // 100
    if y2ac < 8:
        y2ac = 8
    uvdc = DC_QLOOKUP[clamp_q(q + hdr.uvdc_delta)]
    if uvdc > 132:
        uvdc = 132
    uvac = AC_QLOOKUP[clamp_q(q + hdr.uvac_delta)]
    return y1dc, y1ac, y2dc, y2ac, uvdc, uvac


def _decode_mb_modes(bd: BoolDecoder, hdr: _FrameHeader,
                     mb_rows: int, mb_cols: int):
    """First-partition per-MB records (keyframe): segment, skip, modes.

    Returns (segments, skips, ymodes, bmodes, uvmodes): bmodes is a
    (mb_rows*4, mb_cols*4) int8 grid of subblock modes (implied modes
    for non-B_PRED MBs) used both for B-mode contexts and prediction."""
    segments = np.zeros((mb_rows, mb_cols), np.uint8)
    skips = np.zeros((mb_rows, mb_cols), np.uint8)
    ymodes = np.zeros((mb_rows, mb_cols), np.uint8)
    uvmodes = np.zeros((mb_rows, mb_cols), np.uint8)
    # subblock-mode grid with a 1-cell border (B_DC_PRED off-frame)
    bgrid = np.full((mb_rows * 4 + 1, mb_cols * 4 + 1), B_DC_PRED, np.int8)

    for mr in range(mb_rows):
        for mc in range(mb_cols):
            if hdr.update_mb_segmentation_map:
                segments[mr, mc] = bd.read_tree(
                    MB_SEGMENT_TREE, hdr.segment_tree_probs)
            if hdr.mb_no_coeff_skip:
                skips[mr, mc] = bd.read_bool(hdr.prob_skip_false)
            ym = bd.read_tree(KF_YMODE_TREE, KF_YMODE_PROB)
            ymodes[mr, mc] = ym
            r0, c0 = mr * 4 + 1, mc * 4 + 1
            if ym == B_PRED:
                for sr in range(4):
                    for sc in range(4):
                        above = bgrid[r0 + sr - 1, c0 + sc]
                        left = bgrid[r0 + sr, c0 + sc - 1]
                        sub = bd.read_tree(
                            BMODE_TREE, KF_BMODE_PROB[above][left])
                        bgrid[r0 + sr, c0 + sc] = sub
            else:
                bgrid[r0:r0 + 4, c0:c0 + 4] = _MODE_TO_BMODE[ym]
            uvmodes[mr, mc] = bd.read_tree(UV_MODE_TREE, KF_UV_MODE_PROB)
    return segments, skips, ymodes, uvmodes, bgrid[1:, 1:]


def _decode_block_coeffs(bd: BoolDecoder, plane_probs, ctx: int,
                         first: int, qdc: int, qac: int,
                         out: np.ndarray) -> bool:
    """One block's tokens (§13.3). Writes dequantized coefficients into
    `out` (natural 4x4 order, flat 16) and returns the nonzero flag."""
    i = first
    start = 0  # tree start node: 2 right after a ZERO token (no EOB)
    nz = False
    while i < 16:
        pr = plane_probs[COEFF_BANDS[i]][ctx]
        tok = bd.read_tree(COEFF_TREE, pr, start)
        if tok == DCT_EOB:
            break
        if tok == ZERO_TOKEN:
            ctx = 0
            start = 2
            i += 1
            continue
        nz = True
        start = 0
        if tok <= FOUR_TOKEN:
            val = tok  # tokens ONE..FOUR carry their value
        else:
            extra = 0
            for p in CAT_PROBS[tok]:
                extra = (extra << 1) | bd.read_bool(p)
            val = CAT_BASE[tok] + extra
        ctx = 1 if val == 1 else 2
        if bd.read_bool(128):
            val = -val
        out[ZIGZAG[i]] = val * (qdc if i == 0 else qac)
        i += 1
    return nz


# ---------------------------------------------------------------------------
# Transforms (RFC 6386 §14.3-14.4) — exact integer arithmetic
# ---------------------------------------------------------------------------

_COS = 20091   # cospi8sqrt2 - 1, Q16
_SIN = 35468   # sinpi8sqrt2, Q16


def idct4x4(block: np.ndarray) -> np.ndarray:
    """LLM inverse DCT of 16 coefficients (natural order) → 4x4 int."""
    ip = block.reshape(4, 4).astype(np.int64)
    if not ip[1:].any() and not ip[0, 1:].any():
        # DC-only fast path: every output is (dc + 4) >> 3
        return np.full((4, 4), int(ip[0, 0] + 4) >> 3, np.int64)
    # pass 1: columns
    t = np.empty((4, 4), np.int64)
    a1 = ip[0] + ip[2]
    b1 = ip[0] - ip[2]
    c1 = ((ip[1] * _SIN) >> 16) - (ip[3] + ((ip[3] * _COS) >> 16))
    d1 = (ip[1] + ((ip[1] * _COS) >> 16)) + ((ip[3] * _SIN) >> 16)
    t[0] = a1 + d1
    t[3] = a1 - d1
    t[1] = b1 + c1
    t[2] = b1 - c1
    # pass 2: rows, with final rounding
    ip = t.T
    a1 = ip[0] + ip[2]
    b1 = ip[0] - ip[2]
    c1 = ((ip[1] * _SIN) >> 16) - (ip[3] + ((ip[3] * _COS) >> 16))
    d1 = (ip[1] + ((ip[1] * _COS) >> 16)) + ((ip[3] * _SIN) >> 16)
    out = np.empty((4, 4), np.int64)
    out[:, 0] = (a1 + d1 + 4) >> 3
    out[:, 3] = (a1 - d1 + 4) >> 3
    out[:, 1] = (b1 + c1 + 4) >> 3
    out[:, 2] = (b1 - c1 + 4) >> 3
    return out


def iwht4x4(block: np.ndarray) -> np.ndarray:
    """Inverse Walsh-Hadamard for the Y2 block → 16 luma DCs (raster)."""
    ip = block.reshape(4, 4).astype(np.int64)
    t = np.empty((4, 4), np.int64)
    a1 = ip[0] + ip[3]
    b1 = ip[1] + ip[2]
    c1 = ip[1] - ip[2]
    d1 = ip[0] - ip[3]
    t[0] = a1 + b1
    t[1] = c1 + d1
    t[2] = a1 - b1
    t[3] = d1 - c1
    ip = t.T
    a1 = ip[0] + ip[3]
    b1 = ip[1] + ip[2]
    c1 = ip[1] - ip[2]
    d1 = ip[0] - ip[3]
    out = np.empty((4, 4), np.int64)
    out[:, 0] = (a1 + b1 + 3) >> 3
    out[:, 1] = (c1 + d1 + 3) >> 3
    out[:, 2] = (a1 - b1 + 3) >> 3
    out[:, 3] = (d1 - c1 + 3) >> 3
    return out.reshape(16)


# ---------------------------------------------------------------------------
# Intra prediction (RFC 6386 §12). Planes are int32 arrays padded with a
# 1-px top/left border (top row 127 incl. corner, left col 129) and an
# 8-px right pad (127 on row 0; replicated rightmost pixel below —
# libvpx's border-extension convention for above-right reads).
# ---------------------------------------------------------------------------


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred_square(P, y0, x0, n, mode, has_above, has_left):
    """16x16 (n=16) or chroma 8x8 (n=8) prediction → (n, n) int array."""
    above = P[y0 - 1, x0:x0 + n]
    left = P[y0:y0 + n, x0 - 1]
    if mode == DC_PRED:
        if not (has_above or has_left):
            return np.full((n, n), 128, np.int32)
        s = 0
        shift = (1 if n == 16 else 0) + 2
        if has_above:
            s += int(above.sum())
            shift += 1
        if has_left:
            s += int(left.sum())
            shift += 1
        dc = (s + (1 << (shift - 1))) >> shift
        return np.full((n, n), dc, np.int32)
    if mode == V_PRED:
        return np.repeat(above[None, :], n, axis=0).astype(np.int32)
    if mode == H_PRED:
        return np.repeat(left[:, None], n, axis=1).astype(np.int32)
    # TM_PRED
    corner = int(P[y0 - 1, x0 - 1])
    out = left[:, None].astype(np.int32) + above[None, :] - corner
    return np.clip(out, 0, 255)


def _pred_b(P, y, x, mode, mb_top_y):
    """4x4 subblock prediction at padded coords (y, x) (§12.3)."""
    A = P[y - 1, x:x + 4].astype(np.int64)
    AL = int(P[y - 1, x - 1])
    L = P[y:y + 4, x - 1].astype(np.int64)
    # above-right: right-edge subblocks (c == 3) read the row above the
    # MB (libvpx convention) — the in-MB upper-right isn't decoded yet
    AR = P[mb_top_y - 1, x + 4:x + 8].astype(np.int64) \
        if ((x - 1) % 16) == 12 else P[y - 1, x + 4:x + 8].astype(np.int64)
    out = np.empty((4, 4), np.int64)
    if mode == B_DC_PRED:
        out[:] = (int(A.sum()) + int(L.sum()) + 4) >> 3
    elif mode == B_TM_PRED:
        out[:] = np.clip(L[:, None] + A[None, :] - AL, 0, 255)
    elif mode == B_VE_PRED:
        e = np.concatenate(([AL], A, AR[:1]))
        row = _avg3(e[:4], e[1:5], e[2:6])
        out[:] = row[None, :]
    elif mode == B_HE_PRED:
        e = np.array([AL, L[0], L[1], L[2], L[3], L[3]], np.int64)
        col = _avg3(e[:4], e[1:5], e[2:6])
        out[:] = col[:, None]
    elif mode == B_LD_PRED:
        a = np.concatenate((A, AR))
        d = np.empty(7, np.int64)
        d[:6] = _avg3(a[:6], a[1:7], a[2:8])
        d[6] = _avg3(a[6], a[7], a[7])
        for r in range(4):
            out[r] = d[r:r + 4]
    elif mode in (B_RD_PRED, B_VR_PRED, B_HD_PRED):
        pp = np.array([L[3], L[2], L[1], L[0], AL,
                       A[0], A[1], A[2], A[3]], np.int64)
        if mode == B_RD_PRED:
            d = _avg3(pp[:7], pp[1:8], pp[2:9])  # d[i] for e-offset i
            for r in range(4):
                out[r] = d[3 - r:7 - r]
        elif mode == B_VR_PRED:
            row0 = _avg2(pp[4:8], pp[5:9])
            row1 = _avg3(pp[3:7], pp[4:8], pp[5:9])
            out[0] = row0
            out[1] = row1
            out[2, 0] = _avg3(pp[2], pp[3], pp[4])
            out[2, 1:] = row0[:3]
            out[3, 0] = _avg3(pp[1], pp[2], pp[3])
            out[3, 1:] = row1[:3]
        else:  # B_HD_PRED
            out[3, 0] = _avg2(pp[0], pp[1])
            out[3, 1] = _avg3(pp[0], pp[1], pp[2])
            out[2, 0] = _avg2(pp[1], pp[2])
            out[2, 1] = _avg3(pp[1], pp[2], pp[3])
            out[1, 0] = _avg2(pp[2], pp[3])
            out[1, 1] = _avg3(pp[2], pp[3], pp[4])
            out[0, 0] = _avg2(pp[3], pp[4])
            out[0, 1] = _avg3(pp[3], pp[4], pp[5])
            out[0, 2] = _avg3(pp[4], pp[5], pp[6])
            out[0, 3] = _avg3(pp[5], pp[6], pp[7])
            for r in range(1, 4):
                out[r, 2] = out[r - 1, 0]
                out[r, 3] = out[r - 1, 1]
    elif mode == B_VL_PRED:
        a = np.concatenate((A, AR))
        out[0] = _avg2(a[:4], a[1:5])
        out[1] = _avg3(a[:4], a[1:5], a[2:6])
        out[2, :3] = out[0, 1:]
        out[2, 3] = _avg3(a[4], a[5], a[6])
        out[3, :3] = out[1, 1:]
        out[3, 3] = _avg3(a[5], a[6], a[7])
    else:  # B_HU_PRED
        out[0, 0] = _avg2(L[0], L[1])
        out[0, 1] = _avg3(L[0], L[1], L[2])
        out[0, 2] = _avg2(L[1], L[2])
        out[0, 3] = _avg3(L[1], L[2], L[3])
        out[1, :2] = out[0, 2:]
        out[1, 2] = _avg2(L[2], L[3])
        out[1, 3] = _avg3(L[2], L[3], L[3])
        out[2, :2] = out[1, 2:]
        out[2, 2:] = L[3]
        out[3, :] = L[3]
    return out


# ---------------------------------------------------------------------------
# Frame reconstruction — shared by decoder and fixture encoder
# ---------------------------------------------------------------------------


def _new_plane(h: int, w: int) -> np.ndarray:
    """Padded int32 plane: top border 127 (incl. corner), left 129,
    8-px right pad (127 on the border row, extended per MB row)."""
    P = np.zeros((h + 1, w + 9), np.int32)
    P[0, :] = 127
    P[1:, 0] = 129
    return P


def _extend_right(P: np.ndarray, y0: int, y1: int, w: int) -> None:
    P[y0:y1, w + 1:] = P[y0:y1, w:w + 1]


def _add_block(P: np.ndarray, y: int, x: int, residual: np.ndarray) -> None:
    pred = P[y:y + 4, x:x + 4]
    P[y:y + 4, x:x + 4] = np.clip(pred + residual, 0, 255)


def _reconstruct(hdr, mb_rows, mb_cols, ymodes, uvmodes, bmodes,
                 ycoef, y2coef, ucoef, vcoef, has_y2):
    """Raster-order intra reconstruction → (Y, U, V) padded planes."""
    W, H = mb_cols * 16, mb_rows * 16
    Y = _new_plane(H, W)
    U = _new_plane(H // 2, W // 2)
    V = _new_plane(H // 2, W // 2)
    for mr in range(mb_rows):
        y0 = mr * 16 + 1
        cy0 = mr * 8 + 1
        for mc in range(mb_cols):
            x0 = mc * 16 + 1
            cx0 = mc * 8 + 1
            ym = int(ymodes[mr, mc])
            has_above = mr > 0
            has_left = mc > 0
            if ym != B_PRED:
                blockdc = None
                if has_y2[mr, mc]:
                    blockdc = iwht4x4(y2coef[mr, mc])
                pred = _pred_square(Y, y0, x0, 16, ym, has_above, has_left)
                Y[y0:y0 + 16, x0:x0 + 16] = pred
                for b in range(16):
                    coeffs = ycoef[mr, mc, b]
                    if blockdc is not None:
                        coeffs = coeffs.copy()
                        coeffs[0] = blockdc[b]
                    if coeffs.any():
                        _add_block(Y, y0 + (b >> 2) * 4, x0 + (b & 3) * 4,
                                   idct4x4(coeffs))
            else:
                for b in range(16):
                    sy = y0 + (b >> 2) * 4
                    sx = x0 + (b & 3) * 4
                    mode = int(bmodes[mr * 4 + (b >> 2), mc * 4 + (b & 3)])
                    pred = _pred_b(Y, sy, sx, mode, y0)
                    coeffs = ycoef[mr, mc, b]
                    if coeffs.any():
                        Y[sy:sy + 4, sx:sx + 4] = np.clip(
                            pred + idct4x4(coeffs), 0, 255)
                    else:
                        Y[sy:sy + 4, sx:sx + 4] = pred
            uvm = int(uvmodes[mr, mc])
            for plane, coef in ((U, ucoef), (V, vcoef)):
                pred = _pred_square(plane, cy0, cx0, 8, uvm,
                                    has_above, has_left)
                plane[cy0:cy0 + 8, cx0:cx0 + 8] = pred
                for b in range(4):
                    coeffs = coef[mr, mc, b]
                    if coeffs.any():
                        _add_block(plane, cy0 + (b >> 1) * 4,
                                   cx0 + (b & 1) * 4, idct4x4(coeffs))
        _extend_right(Y, y0, y0 + 16, W)
        _extend_right(U, cy0, cy0 + 8, W // 2)
        _extend_right(V, cy0, cy0 + 8, W // 2)
    return Y, U, V


# ---------------------------------------------------------------------------
# Loop filter (RFC 6386 §15) — normal and simple, applied per MB in
# raster order on the padded planes after full-frame reconstruction
# (intra prediction uses unfiltered pixels; output is filtered).
# ---------------------------------------------------------------------------


def _c(v):
    return np.clip(v, -128, 127)


def _filter_mask(limit, interior, p3, p2, p1, p0, q0, q1, q2, q3):
    m = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= limit
    m &= np.abs(p3 - p2) <= interior
    m &= np.abs(p2 - p1) <= interior
    m &= np.abs(p1 - p0) <= interior
    m &= np.abs(q1 - q0) <= interior
    m &= np.abs(q2 - q1) <= interior
    m &= np.abs(q3 - q2) <= interior
    return m


def _hev_mask(thresh, p1, p0, q0, q1):
    return (np.abs(p1 - p0) > thresh) | (np.abs(q1 - q0) > thresh)


def _normal_filter_edge(P, pos, axis, span, limit, interior, hev_t,
                        mb_edge):
    """Filter one vertical (axis=1) or horizontal (axis=0) edge of
    `span` pixels starting at padded row/col 1 + offset handled by
    caller; `pos` is the padded index of the first pixel on the q side."""

    def get(off):
        sl = (slice(span[0], span[1]), pos + off) if axis == 1 \
            else (pos + off, slice(span[0], span[1]))
        return P[sl].astype(np.int64) - 128

    def put(off, v):
        sl = (slice(span[0], span[1]), pos + off) if axis == 1 \
            else (pos + off, slice(span[0], span[1]))
        P[sl] = np.clip(v + 128, 0, 255)

    p3, p2, p1, p0 = get(-4), get(-3), get(-2), get(-1)
    q0, q1, q2, q3 = get(0), get(1), get(2), get(3)
    mask = _filter_mask(limit, interior, p3, p2, p1, p0, q0, q1, q2, q3)
    if not mask.any():
        return
    hev = _hev_mask(hev_t, p1, p0, q0, q1)
    if mb_edge:
        # high-variance pixels get the short filter; the rest the wide one
        w = _c(_c(p1 - q1) + 3 * (q0 - p0))
        a27 = _c((w * 27 + 63) >> 7)
        a18 = _c((w * 18 + 63) >> 7)
        a9 = _c((w * 9 + 63) >> 7)
        wide = mask & ~hev
        nq0 = np.where(wide, q0 - a27, q0)
        np0 = np.where(wide, p0 + a27, p0)
        nq1 = np.where(wide, q1 - a18, q1)
        np1 = np.where(wide, p1 + a18, p1)
        nq2 = np.where(wide, q2 - a9, q2)
        np2 = np.where(wide, p2 + a9, p2)
        short = mask & hev
        a = _c(_c(p1 - q1) + 3 * (q0 - p0))
        F = _c(a + 4) >> 3
        E = _c(a + 3) >> 3
        nq0 = np.where(short, _c(nq0 - F), nq0)
        np0 = np.where(short, _c(np0 + E), np0)
        put(-3, np.where(mask, np2, p2))
        put(-2, np.where(mask, np1, p1))
        put(-1, np.where(mask, np0, p0))
        put(0, np.where(mask, nq0, q0))
        put(1, np.where(mask, nq1, q1))
        put(2, np.where(mask, nq2, q2))
    else:
        a = _c(np.where(hev, _c(p1 - q1), 0) + 3 * (q0 - p0))
        F = _c(a + 4) >> 3
        E = _c(a + 3) >> 3
        nq0 = np.where(mask, _c(q0 - F), q0)
        np0 = np.where(mask, _c(p0 + E), p0)
        G = (F + 1) >> 1
        upd = mask & ~hev
        nq1 = np.where(upd, _c(q1 - G), q1)
        np1 = np.where(upd, _c(p1 + G), p1)
        put(-2, np1)
        put(-1, np0)
        put(0, nq0)
        put(1, nq1)


def _simple_filter_edge(P, pos, axis, span, limit):
    def get(off):
        sl = (slice(span[0], span[1]), pos + off) if axis == 1 \
            else (pos + off, slice(span[0], span[1]))
        return P[sl].astype(np.int64) - 128

    def put(off, v):
        sl = (slice(span[0], span[1]), pos + off) if axis == 1 \
            else (pos + off, slice(span[0], span[1]))
        P[sl] = np.clip(v + 128, 0, 255)

    p1, p0, q0, q1 = get(-2), get(-1), get(0), get(1)
    mask = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= limit
    a = _c(_c(p1 - q1) + 3 * (q0 - p0))
    F = _c(a + 4) >> 3
    E = _c(a + 3) >> 3
    put(0, np.where(mask, _c(q0 - F), q0))
    put(-1, np.where(mask, _c(p0 + E), p0))


def _loop_filter(hdr, Y, U, V, mb_rows, mb_cols, segments, ymodes,
                 mb_has_coeffs):
    if hdr.filter_level == 0:
        return
    for mr in range(mb_rows):
        for mc in range(mb_cols):
            level = hdr.filter_level
            if hdr.segmentation_enabled:
                seg = int(segments[mr, mc])
                level = (hdr.segment_lf[seg] if hdr.segment_abs
                         else level + hdr.segment_lf[seg])
            if hdr.lf_delta_enabled:
                level += hdr.ref_lf_deltas[0]  # intra frame
                if int(ymodes[mr, mc]) == B_PRED:
                    level += hdr.mode_lf_deltas[0]
            level = max(0, min(63, level))
            if level == 0:
                continue
            interior = level
            if hdr.sharpness:
                interior >>= 2 if hdr.sharpness > 4 else 1
                if interior > 9 - hdr.sharpness:
                    interior = 9 - hdr.sharpness
            if interior < 1:
                interior = 1
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            mb_lim = (level + 2) * 2 + interior
            sub_lim = level * 2 + interior
            inner = bool(mb_has_coeffs[mr, mc]) or \
                int(ymodes[mr, mc]) == B_PRED
            y0, x0 = mr * 16 + 1, mc * 16 + 1
            cy0, cx0 = mr * 8 + 1, mc * 8 + 1
            if hdr.filter_type == 1:  # simple: luma only
                if mc > 0:
                    _simple_filter_edge(Y, x0, 1, (y0, y0 + 16), mb_lim)
                if inner:
                    for dx in (4, 8, 12):
                        _simple_filter_edge(Y, x0 + dx, 1,
                                            (y0, y0 + 16), sub_lim)
                if mr > 0:
                    _simple_filter_edge(Y, y0, 0, (x0, x0 + 16), mb_lim)
                if inner:
                    for dy in (4, 8, 12):
                        _simple_filter_edge(Y, y0 + dy, 0,
                                            (x0, x0 + 16), sub_lim)
                continue
            if mc > 0:
                _normal_filter_edge(Y, x0, 1, (y0, y0 + 16), mb_lim,
                                    interior, hev_t, True)
                _normal_filter_edge(U, cx0, 1, (cy0, cy0 + 8), mb_lim,
                                    interior, hev_t, True)
                _normal_filter_edge(V, cx0, 1, (cy0, cy0 + 8), mb_lim,
                                    interior, hev_t, True)
            if inner:
                for dx in (4, 8, 12):
                    _normal_filter_edge(Y, x0 + dx, 1, (y0, y0 + 16),
                                        sub_lim, interior, hev_t, False)
                _normal_filter_edge(U, cx0 + 4, 1, (cy0, cy0 + 8),
                                    sub_lim, interior, hev_t, False)
                _normal_filter_edge(V, cx0 + 4, 1, (cy0, cy0 + 8),
                                    sub_lim, interior, hev_t, False)
            if mr > 0:
                _normal_filter_edge(Y, y0, 0, (x0, x0 + 16), mb_lim,
                                    interior, hev_t, True)
                _normal_filter_edge(U, cy0, 0, (cx0, cx0 + 8), mb_lim,
                                    interior, hev_t, True)
                _normal_filter_edge(V, cy0, 0, (cx0, cx0 + 8), mb_lim,
                                    interior, hev_t, True)
            if inner:
                for dy in (4, 8, 12):
                    _normal_filter_edge(Y, y0 + dy, 0, (x0, x0 + 16),
                                        sub_lim, interior, hev_t, False)
                _normal_filter_edge(U, cy0 + 4, 0, (cx0, cx0 + 8),
                                    sub_lim, interior, hev_t, False)
                _normal_filter_edge(V, cy0 + 4, 0, (cx0, cx0 + 8),
                                    sub_lim, interior, hev_t, False)


# ---------------------------------------------------------------------------
# Top-level decode
# ---------------------------------------------------------------------------


def _frame_rgb(Y, U, V, w, h):
    """Crop the bordered planes to the frame, then the BT.601 map the
    HEVC route uses (kernels/hevc.py::_yuv_to_rgb)."""
    ch, cw = (h + 1) // 2, (w + 1) // 2
    return hevc._yuv_to_rgb(Y[1:h + 1, 1:w + 1], U[1:ch + 1, 1:cw + 1],
                            V[1:ch + 1, 1:cw + 1])


def _decode_residuals(parts, hdr, mb_rows, mb_cols, ymodes, skips,
                      segments):
    """Token partitions → dequantized coefficient arrays + nz flags."""
    ycoef = np.zeros((mb_rows, mb_cols, 16, 16), np.int32)
    y2coef = np.zeros((mb_rows, mb_cols, 16), np.int32)
    ucoef = np.zeros((mb_rows, mb_cols, 4, 16), np.int32)
    vcoef = np.zeros((mb_rows, mb_cols, 4, 16), np.int32)
    has_y2 = np.zeros((mb_rows, mb_cols), bool)
    mb_has = np.zeros((mb_rows, mb_cols), bool)

    # nonzero contexts: above per MB column (4 Y, 2 U, 2 V, 1 Y2)
    above = {
        "y": np.zeros((mb_cols, 4), np.int8),
        "u": np.zeros((mb_cols, 2), np.int8),
        "v": np.zeros((mb_cols, 2), np.int8),
        "y2": np.zeros(mb_cols, np.int8),
    }
    quants = [_quant_factors(hdr, s) for s in range(4)]

    for mr in range(mb_rows):
        bd = parts[mr % len(parts)]
        left = {
            "y": np.zeros(4, np.int8),
            "u": np.zeros(2, np.int8),
            "v": np.zeros(2, np.int8),
            "y2": np.int8(0),
        }
        for mc in range(mb_cols):
            ym = int(ymodes[mr, mc])
            y2 = ym != B_PRED
            has_y2[mr, mc] = y2
            if skips[mr, mc]:
                # reset contexts (Y2 context only when the MB has Y2)
                above["y"][mc] = 0
                above["u"][mc] = 0
                above["v"][mc] = 0
                left["y"][:] = 0
                left["u"][:] = 0
                left["v"][:] = 0
                if y2:
                    above["y2"][mc] = 0
                    left["y2"] = np.int8(0)
                continue
            y1dc, y1ac, y2dc, y2ac, uvdc, uvac = \
                quants[int(segments[mr, mc])]
            probs = hdr.coeff_probs
            mb_nz = False
            if y2:
                ctx = int(above["y2"][mc]) + int(left["y2"])
                nz = _decode_block_coeffs(
                    bd, probs[1], ctx, 0, y2dc, y2ac, y2coef[mr, mc])
                above["y2"][mc] = left["y2"] = np.int8(nz)
                mb_nz |= nz
                plane, first = 0, 1
            else:
                plane, first = 3, 0
            for b in range(16):
                sr, sc = b >> 2, b & 3
                ctx = int(above["y"][mc, sc]) + int(left["y"][sr])
                nz = _decode_block_coeffs(
                    bd, probs[plane], ctx, first, y1dc, y1ac,
                    ycoef[mr, mc, b])
                above["y"][mc, sc] = left["y"][sr] = np.int8(nz)
                mb_nz |= nz
            for key, coef in (("u", ucoef), ("v", vcoef)):
                for b in range(4):
                    sr, sc = b >> 1, b & 1
                    ctx = int(above[key][mc, sc]) + int(left[key][sr])
                    nz = _decode_block_coeffs(
                        bd, probs[2], ctx, 0, uvdc, uvac, coef[mr, mc, b])
                    above[key][mc, sc] = left[key][sr] = np.int8(nz)
                    mb_nz |= nz
            mb_has[mr, mc] = mb_nz
    return ycoef, y2coef, ucoef, vcoef, has_y2, mb_has


def decode_vp8(data: bytes) -> np.ndarray:
    """Raw ``VP8 `` chunk payload (RFC 6386 keyframe) → HxW gray /
    HxWx3 RGB, same return convention as decode_vp8l. Interframes need
    reference state that this keyframe decoder does not keep: they
    raise ValueError."""
    _hdr, Y, U, V, w, h, _r, _c2 = _decode_keyframe(data)
    return _frame_rgb(Y, U, V, w, h)


def _decode_keyframe(data: bytes):
    """Keyframe decode core: returns (hdr, Y, U, V, w, h, mb_rows,
    mb_cols) with the loop-filtered padded planes, before the RGB map
    (the libwebp cross-check compares these planes directly)."""
    if len(data) < 10:
        raise ValueError("truncated VP8 frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8 interframe without a keyframe")
    first_part_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    w = (data[6] | (data[7] << 8)) & 0x3FFF
    h = (data[8] | (data[9] << 8)) & 0x3FFF
    if w == 0 or h == 0:
        raise ValueError("empty VP8 frame")
    if w * h > VP8_MAX_PIXELS:
        raise ValueError("VP8 frame too large for the pure-Python decoder")
    mb_cols = (w + 15) // 16
    mb_rows = (h + 15) // 16

    part1 = data[10:10 + first_part_size]
    if len(part1) < first_part_size:
        raise ValueError("truncated VP8 first partition")
    bd = BoolDecoder(part1)
    hdr = _FrameHeader()
    _parse_header(bd, hdr)
    nparts = 1 << bd.read_literal(2)
    _parse_quant(bd, hdr)
    hdr.refresh_entropy = bd.read_literal(1)
    _parse_coeff_probs(bd, hdr)
    hdr.mb_no_coeff_skip = bd.read_literal(1)
    hdr.prob_skip_false = bd.read_literal(8) if hdr.mb_no_coeff_skip else 0

    # token partitions: (nparts-1) 3-byte sizes, then the partitions
    rest = data[10 + first_part_size:]
    sizes = []
    off = (nparts - 1) * 3
    for i in range(nparts - 1):
        sizes.append(rest[3 * i] | (rest[3 * i + 1] << 8)
                     | (rest[3 * i + 2] << 16))
    parts = []
    for i in range(nparts):
        if i < nparts - 1:
            parts.append(BoolDecoder(rest[off:off + sizes[i]]))
            off += sizes[i]
        else:
            parts.append(BoolDecoder(rest[off:]))

    segments, skips, ymodes, uvmodes, bmodes = _decode_mb_modes(
        bd, hdr, mb_rows, mb_cols)
    if not hdr.mb_no_coeff_skip:
        skips[:] = 0
    ycoef, y2coef, ucoef, vcoef, has_y2, mb_has = _decode_residuals(
        parts, hdr, mb_rows, mb_cols, ymodes, skips, segments)
    # Post-decode desync sanity gate: a bool-decoder desync usually
    # consumes a wrong number of tokens, leaving a partition with a
    # large unread tail (an overrun already raises in BoolDecoder).
    # Real encoders — libwebp and ours — end each partition within the
    # bool coder's ~4-byte flush slack, but partition sizes are
    # explicit and trailing pad bytes are legal (ADVICE r04), so the
    # slack here is generous: 16 bytes or 1/8 of the partition,
    # whichever is larger. With the exact RFC tables in place this is
    # pure belt-and-braces against corrupt streams, no longer a
    # compensator for table uncertainty.
    for i, p in enumerate([bd] + parts):
        unread = len(p.data) - p.pos
        if unread > max(16, len(p.data) >> 3):
            raise ValueError(
                f"VP8 bitstream desync suspected: partition {i} left "
                f"{unread} of {len(p.data)} bytes unread"
            )
    Y, U, V = _reconstruct(hdr, mb_rows, mb_cols, ymodes, uvmodes, bmodes,
                           ycoef, y2coef, ucoef, vcoef, has_y2)
    _loop_filter(hdr, Y, U, V, mb_rows, mb_cols, segments, ymodes, mb_has)
    return hdr, Y, U, V, w, h, mb_rows, mb_cols


# ---------------------------------------------------------------------------
# Fixture encoder — keyframe, no segmentation, single token partition,
# no probability updates. Mirrors the decoder's context bookkeeping
# exactly and returns both the bitstream and the expected reconstruction
# (computed via the same _reconstruct/_loop_filter/_frame_rgb path).
# ---------------------------------------------------------------------------


def _token_for(mag: int) -> int:
    if mag <= 4:
        return mag  # ZERO..FOUR tokens carry their value
    for tok in (CAT1, CAT2, CAT3, CAT4, CAT5):
        hi = CAT_BASE[tok] + (1 << len(CAT_PROBS[tok])) - 1
        if mag <= hi:
            return tok
    if mag <= CAT_BASE[CAT6] + (1 << len(CAT_PROBS[CAT6])) - 1:
        return CAT6
    raise ValueError(f"coefficient magnitude {mag} exceeds cat6")


def _encode_block_tokens(be: BoolEncoder, plane_probs, ctx: int,
                         first: int, levels) -> bool:
    """Mirror of _decode_block_coeffs: levels are zigzag-scan ints."""
    last = -1
    for i in range(first, 16):
        if levels[i]:
            last = i
    i = first
    start = 0
    while i <= last:
        v = int(levels[i])
        pr = plane_probs[COEFF_BANDS[i]][ctx]
        mag = abs(v)
        tok = _token_for(mag)
        be.write_tree(COEFF_TREE, pr, tok, start)
        if tok == ZERO_TOKEN:
            ctx = 0
            start = 2
            i += 1
            continue
        if tok > FOUR_TOKEN:
            extra = mag - CAT_BASE[tok]
            probs = CAT_PROBS[tok]
            for k, p in enumerate(probs):
                be.write_bool(p, (extra >> (len(probs) - 1 - k)) & 1)
        ctx = 1 if mag == 1 else 2
        be.write_bool(128, 1 if v < 0 else 0)
        start = 0
        i += 1
    if last < 15:
        pr = plane_probs[COEFF_BANDS[min(i, 15)]][ctx]
        be.write_tree(COEFF_TREE, pr, DCT_EOB, start)
    return last >= first


def encode_vp8_frame(w: int, h: int, mbs, q_index: int = 0,
                     filter_level: int = 0, filter_type: int = 0,
                     sharpness: int = 0, prob_skip: int = 200):
    """Encode a keyframe; returns (vp8_chunk_bytes, expected_rgb).

    `mbs` is a raster list of per-MB dicts (one per macroblock):
      ymode:    DC_PRED/V_PRED/H_PRED/TM_PRED or B_PRED
      bmodes:   16 subblock modes (raster), required iff ymode==B_PRED
      uvmode:   DC_PRED/V_PRED/H_PRED/TM_PRED
      y:        16 blocks x 16 zigzag-scan levels (or None = all zero)
      y2:       16 zigzag-scan levels (non-B_PRED only; None = zero)
      u, v:     4 blocks x 16 zigzag-scan levels (or None)
    """
    mb_cols = (w + 15) // 16
    mb_rows = (h + 15) // 16
    if len(mbs) != mb_rows * mb_cols:
        raise ValueError("mbs length != mb grid")

    hdr = _FrameHeader()
    hdr.width, hdr.height = w, h
    hdr.segmentation_enabled = 0
    hdr.update_mb_segmentation_map = 0
    hdr.segment_abs = 0
    hdr.segment_quant = [0, 0, 0, 0]
    hdr.segment_lf = [0, 0, 0, 0]
    hdr.segment_tree_probs = [255, 255, 255]
    hdr.filter_type = filter_type
    hdr.filter_level = filter_level
    hdr.sharpness = sharpness
    hdr.lf_delta_enabled = 0
    hdr.ref_lf_deltas = [0, 0, 0, 0]
    hdr.mode_lf_deltas = [0, 0, 0, 0]
    hdr.q_index = q_index
    hdr.y1dc_delta = hdr.y2dc_delta = hdr.y2ac_delta = 0
    hdr.uvdc_delta = hdr.uvac_delta = 0
    hdr.coeff_probs = DEFAULT_COEFF_PROBS
    hdr.mb_no_coeff_skip = 1
    hdr.prob_skip_false = prob_skip

    # --- decide skip per MB and build coefficient arrays -------------
    ymodes = np.zeros((mb_rows, mb_cols), np.uint8)
    uvmodes = np.zeros((mb_rows, mb_cols), np.uint8)
    skips = np.zeros((mb_rows, mb_cols), np.uint8)
    bgrid = np.full((mb_rows * 4, mb_cols * 4), B_DC_PRED, np.int8)
    ycoef = np.zeros((mb_rows, mb_cols, 16, 16), np.int32)
    y2coef = np.zeros((mb_rows, mb_cols, 16), np.int32)
    ucoef = np.zeros((mb_rows, mb_cols, 4, 16), np.int32)
    vcoef = np.zeros((mb_rows, mb_cols, 4, 16), np.int32)
    has_y2 = np.zeros((mb_rows, mb_cols), bool)
    mb_has = np.zeros((mb_rows, mb_cols), bool)
    y1dc, y1ac, y2dc, y2ac, uvdc, uvac = _quant_factors(hdr, 0)

    def scan_to_natural(levels, qdc, qac, out):
        any_nz = False
        for i in range(16):
            li = int(levels[i])
            if li:
                out[ZIGZAG[i]] = li * (qdc if i == 0 else qac)
                any_nz = True
        return any_nz

    for idx, spec in enumerate(mbs):
        mr, mc = divmod(idx, mb_cols)
        ym = spec["ymode"]
        ymodes[mr, mc] = ym
        uvmodes[mr, mc] = spec.get("uvmode", DC_PRED)
        if ym == B_PRED:
            sub = spec["bmodes"]
            for b in range(16):
                bgrid[mr * 4 + (b >> 2), mc * 4 + (b & 3)] = sub[b]
        else:
            bgrid[mr * 4:mr * 4 + 4, mc * 4:mc * 4 + 4] = _MODE_TO_BMODE[ym]
            has_y2[mr, mc] = True
        nz = False
        yl = spec.get("y")
        if yl is not None:
            for b in range(16):
                nz |= scan_to_natural(yl[b], y1dc, y1ac, ycoef[mr, mc, b])
        y2l = spec.get("y2")
        if y2l is not None:
            if ym == B_PRED:
                raise ValueError("y2 levels on a B_PRED macroblock")
            a = False
            for i in range(16):
                li = int(y2l[i])
                if li:
                    y2coef[mr, mc][ZIGZAG[i]] = li * (y2dc if i == 0
                                                      else y2ac)
                    a = True
            nz |= a
        for key, coef in (("u", ucoef), ("v", vcoef)):
            lv = spec.get(key)
            if lv is not None:
                for b in range(4):
                    nz |= scan_to_natural(lv[b], uvdc, uvac,
                                          coef[mr, mc, b])
        mb_has[mr, mc] = nz
        skips[mr, mc] = 0 if nz else 1

    # --- part 1: header + per-MB modes -------------------------------
    be = BoolEncoder()
    be.write_literal(0, 1)  # color space
    be.write_literal(0, 1)  # clamping
    be.write_literal(0, 1)  # segmentation_enabled
    be.write_literal(filter_type, 1)
    be.write_literal(filter_level, 6)
    be.write_literal(sharpness, 3)
    be.write_literal(0, 1)  # lf delta enable
    be.write_literal(0, 2)  # log2 token partitions = 0 → 1
    be.write_literal(q_index, 7)
    for _ in range(5):
        be.write_literal(0, 1)  # no quant deltas
    be.write_literal(1, 1)  # refresh entropy probs
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for t in range(11):
                    be.write_bool(COEFF_UPDATE_PROBS[i][j][k][t], 0)
    be.write_literal(1, 1)  # mb_no_coeff_skip
    be.write_literal(prob_skip, 8)

    # per-MB modes, with the same B-mode context grid the decoder builds
    ctx_grid = np.full((mb_rows * 4 + 1, mb_cols * 4 + 1),
                       B_DC_PRED, np.int8)
    for idx, spec in enumerate(mbs):
        mr, mc = divmod(idx, mb_cols)
        be.write_bool(prob_skip, int(skips[mr, mc]))
        ym = spec["ymode"]
        be.write_tree(KF_YMODE_TREE, KF_YMODE_PROB, ym)
        r0, c0 = mr * 4 + 1, mc * 4 + 1
        if ym == B_PRED:
            sub = spec["bmodes"]
            for b in range(16):
                sr, sc = b >> 2, b & 3
                above = ctx_grid[r0 + sr - 1, c0 + sc]
                left = ctx_grid[r0 + sr, c0 + sc - 1]
                be.write_tree(BMODE_TREE, KF_BMODE_PROB[above][left],
                              sub[b])
                ctx_grid[r0 + sr, c0 + sc] = sub[b]
        else:
            ctx_grid[r0:r0 + 4, c0:c0 + 4] = _MODE_TO_BMODE[ym]
        be.write_tree(UV_MODE_TREE, KF_UV_MODE_PROB,
                      spec.get("uvmode", DC_PRED))
    part1 = be.finish()

    # --- part 2: tokens (mirror of _decode_residuals) ----------------
    te = BoolEncoder()
    above = {
        "y": np.zeros((mb_cols, 4), np.int8),
        "u": np.zeros((mb_cols, 2), np.int8),
        "v": np.zeros((mb_cols, 2), np.int8),
        "y2": np.zeros(mb_cols, np.int8),
    }
    probs = hdr.coeff_probs
    for mr in range(mb_rows):
        left = {
            "y": np.zeros(4, np.int8),
            "u": np.zeros(2, np.int8),
            "v": np.zeros(2, np.int8),
            "y2": np.int8(0),
        }
        for mc in range(mb_cols):
            idx = mr * mb_cols + mc
            spec = mbs[idx]
            ym = spec["ymode"]
            y2 = ym != B_PRED
            if skips[mr, mc]:
                above["y"][mc] = 0
                above["u"][mc] = 0
                above["v"][mc] = 0
                left["y"][:] = 0
                left["u"][:] = 0
                left["v"][:] = 0
                if y2:
                    above["y2"][mc] = 0
                    left["y2"] = np.int8(0)
                continue
            zeros16 = (0,) * 16
            if y2:
                lv = spec.get("y2") or zeros16
                ctx = int(above["y2"][mc]) + int(left["y2"])
                nz = _encode_block_tokens(te, probs[1], ctx, 0, lv)
                above["y2"][mc] = left["y2"] = np.int8(nz)
                plane, first = 0, 1
            else:
                plane, first = 3, 0
            yl = spec.get("y")
            for b in range(16):
                sr, sc = b >> 2, b & 3
                lv = yl[b] if yl is not None else zeros16
                ctx = int(above["y"][mc, sc]) + int(left["y"][sr])
                nz = _encode_block_tokens(te, probs[plane], ctx, first, lv)
                above["y"][mc, sc] = left["y"][sr] = np.int8(nz)
            for key in ("u", "v"):
                pl = spec.get(key)
                for b in range(4):
                    sr, sc = b >> 1, b & 1
                    lv = pl[b] if pl is not None else zeros16
                    ctx = int(above[key][mc, sc]) + int(left[key][sr])
                    nz = _encode_block_tokens(te, probs[2], ctx, 0, lv)
                    above[key][mc, sc] = left[key][sr] = np.int8(nz)
    part2 = te.finish()

    # --- assemble -----------------------------------------------------
    tag = (0  # keyframe
           | (0 << 1)  # version
           | (1 << 4)  # show_frame
           | (len(part1) << 5))
    out = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    out += b"\x9d\x01\x2a"
    out += bytes((w & 0xFF, (w >> 8) & 0x3F, h & 0xFF, (h >> 8) & 0x3F))
    out += part1 + part2

    # --- expected reconstruction (same shared path as the decoder) ---
    Y, U, V = _reconstruct(hdr, mb_rows, mb_cols, ymodes, uvmodes, bgrid,
                           ycoef, y2coef, ucoef, vcoef, has_y2)
    _loop_filter(hdr, Y, U, V, mb_rows, mb_cols,
                 np.zeros((mb_rows, mb_cols), np.uint8), ymodes, mb_has)
    return out, _frame_rgb(Y, U, V, w, h)


def wrap_webp(vp8_payload: bytes) -> bytes:
    """RIFF/WEBP container around a ``VP8 `` chunk."""
    import struct as _struct
    chunk = b"VP8 " + _struct.pack("<I", len(vp8_payload)) + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def encode_vp8_flat_payload(w: int, h: int, yuv=(128, 128, 128)) -> bytes:
    """Raw ``VP8 `` chunk payload of a flat-color keyframe whose decode
    is EXACTLY lossless — the building block for still
    (encode_webp_lossy_flat) and animated (webp.encode_webp_animated)
    closed-form fixtures. See encode_webp_lossy_flat for the analytic
    construction and the built-in reconstruction assert."""
    payload, _ = _encode_flat(w, h, yuv)
    return payload


def _encode_flat(w: int, h: int, yuv) -> tuple[bytes, np.ndarray]:
    yv, uv, vv = yuv
    mb_cols = (w + 15) // 16
    mb_rows = (h + 15) // 16
    ry, ru, rv = yv - 128, uv - 128, vv - 128
    first = {
        "ymode": DC_PRED, "uvmode": DC_PRED,
        # y2 DC level 8*r reconstructs residual r exactly at q_index 0
        "y2": [8 * ry] + [0] * 15 if ry else None,
        "u": [[2 * ru] + [0] * 15] * 4 if ru else None,
        "v": [[2 * rv] + [0] * 15] * 4 if rv else None,
    }
    rest = {"ymode": DC_PRED, "uvmode": DC_PRED}
    mbs = [first] + [rest] * (mb_rows * mb_cols - 1)
    payload, rgb = encode_vp8_frame(w, h, mbs, q_index=0)
    # sanity: the analytic construction must reconstruct the target
    c = 298 * (yv - 16)
    exp_r = min(255, max(0, (c + 409 * (vv - 128) + 128) >> 8))
    exp_g = min(255, max(0, (c - 100 * (uv - 128)
                             - 208 * (vv - 128) + 128) >> 8))
    exp_b = min(255, max(0, (c + 516 * (uv - 128) + 128) >> 8))
    if rgb.ndim == 2:
        assert exp_r == exp_g == exp_b and (rgb == exp_r).all()
    else:
        assert ((rgb[..., 0] == exp_r).all() and (rgb[..., 1] == exp_g).all()
                and (rgb[..., 2] == exp_b).all())
    return payload, rgb


def encode_webp_lossy_flat(w: int, h: int, yuv=(128, 128, 128)) -> bytes:
    """Flat-color lossy WebP whose decode is EXACTLY lossless (the
    oracle construction): only MB (0,0) carries DC levels that
    reconstruct the target value with zero rounding error at
    q_index=0; every other MB skips and inherits via DC prediction."""
    payload, _rgb = _encode_flat(w, h, yuv)
    return wrap_webp(payload)
