"""Lossless JPEG (SOF3, ITU-T T.81 Annex H): Huffman-coded predictive
coding, no DCT. Closes a named still-image rejection (JPEG 2000 is
closed too, kernels/jpeg2000) — the reference accepts any
cv2-decodable payload
(``/root/reference/ocr/operators.py:41-46``); note the sandbox's
libjpeg62 does NOT decode SOF3, so this coverage is strictly wider
than the reference's on this host (libjpeg-turbo only added lossless
in 3.0). No system validator exists here, so correctness is pinned by
hand-built T.81 vectors, full-parameter round-trips, and the fuzz
corpus — the same tier as the arithmetic (SOF9/SOF10) coder before
its cross-validation.

Semantics implemented (T.81 H.1-H.2):
- predictors 1-7 (scan header Ss), point transform Pt (scan header
  Al): samples are coded in the >>Pt domain and the decoder output is
  <<Pt;
- diff categories SSSS 0-16 via a DC Huffman table; SSSS 16 carries
  no appended bits and means +32768 (Table H.2); all reconstruction
  is modulo 2^16 (H.2.1);
- prediction context (H.2.2): first sample of the scan and of each
  restart interval predicts 2^(P-Pt-1); the remainder of that first
  line uses Ra (the left neighbour); later lines use Rb at the start
  of the line and the scan's selected predictor elsewhere. Mid-row
  restarts are underspecified by T.81 — this module applies the rule
  at the exact sample where the reset lands (deterministic, and the
  in-repo encoder mirrors it bit-for-bit);
- sample precision P = 2..16 (the frame, not the entropy coder,
  carries P);
- both directions walk ``imgcodecs.scan_units`` over sample grids:
  interleaved MCUs are one h×v sample group per component,
  non-interleaved scans raster one component, and a restart marker
  comes every Ri MCUs (an MCU is ONE sample group here, not an 8x8
  block). The encoder's marker segments come from the
  ``imgcodecs`` writers.

Decode output is uint8 like every other codec in the stack: P == 8
passes through exactly; other precisions map by round(v*255/(2^P-1))
(monotone, endpoint-exact — documented substitution, same contract
as the 16-bit-PNG narrowing).

Untrusted-input budget: the entropy decode is an irreducibly
sequential per-sample Python loop (~1-2M Huffman symbols/s), so a
64 MPix header would be a multi-minute task straggler — lossless
frames are capped at 8 MPix (named ValueError), far above any real
SOF3 payload (medical/DNG tiles), while the DCT families keep the
shared 64 MPix ceiling.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.imgcodecs import (
    _BitWriter,
    _bits,
    _build_huff_codes,
    _huff,
    _jpeg_headers,
    _rst_marker,
    _sos_segment,
    scan_units,
)

# sequential per-sample Python decode: ~8 s worst case at this cap
MAX_LOSSLESS_PIXELS = 1 << 23


def _predict(samples: np.ndarray, r: int, c: int, sel: int) -> int:
    """T.81 Table H.1 predictors over the reconstructed (Pt-domain)
    sample array. Callers guarantee r > first line and c > 0."""
    ra = int(samples[r, c - 1])
    rb = int(samples[r - 1, c])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    rc = int(samples[r - 1, c - 1])
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # sel == 7


def decode_scan(
    br,
    scan,
    huff_dc: dict,
    predictor: int,
    pt: int,
    precision: int,
    restart_interval: int,
    mcus_x: int,
    mcus_y: int,
) -> None:
    """Entropy-decode one lossless scan into each component's
    ``samples`` array (allocated by the SOF3 branch of
    ``imgcodecs.decode_jpeg``), in ``imgcodecs.scan_units`` order.
    ``br`` is an ``imgcodecs._BitReader`` positioned at the scan's
    entropy data; restart markers advance its segment list exactly
    like the DCT scans."""
    default = 1 << (precision - pt - 1)
    comps = [s["_comp"] for s in scan]
    plan = []
    for s, c in zip(scan, comps):
        tbl = huff_dc.get(s["dc"])
        if tbl is None:
            raise ValueError("lossless scan references undefined DC table")
        plan.append((c["samples"], *tbl))
    # per-component walk state: fresh-reset flag and the row the
    # current restart interval started on (H.2.2 first-line rule)
    fresh = [True] * len(comps)
    fresh_row = [0] * len(comps)
    buf, p = br.buf, br.pos
    nbits_total = br.nbits_total
    for rst, units in scan_units(
        [c["grid"] for c in comps], mcus_x, mcus_y, restart_interval
    ):
        if rst >= 0:
            br.align_to_marker()
            buf, p = br.buf, br.pos
            nbits_total = br.nbits_total
            fresh = [True] * len(comps)
        if p >= nbits_total:
            raise ValueError("truncated lossless JPEG scan")
        for ci, r, c_ in units:
            samples, valt, lent = plan[ci]
            # _huff inlined: this is the per-sample hot loop
            b = p >> 3
            peek = (int.from_bytes(buf[b : b + 4], "big") >> (16 - (p & 7))) & 0xFFFF
            if lent[peek] == 0:
                raise ValueError("bad JPEG huffman code")
            ssss = valt[peek]
            p += lent[peek]
            if ssss > 16:
                raise ValueError("bad lossless diff category")
            if ssss == 16:
                diff = 32768
            elif ssss:
                bits, p = _bits(buf, p, ssss)
                diff = bits if bits >= (1 << (ssss - 1)) else bits - (1 << ssss) + 1
            else:
                diff = 0
            if fresh[ci]:
                px = default
                fresh[ci] = False
                fresh_row[ci] = r
            elif r == fresh_row[ci]:
                px = int(samples[r, c_ - 1])
            elif c_ == 0:
                px = int(samples[r - 1, c_])
            else:
                px = _predict(samples, r, c_, predictor)
            samples[r, c_] = (px + diff) & 0xFFFF
    br.pos = p


# ------------------------------------------------------------ encoder

# fixed DHT covering every diff category 0-16 (no standard table is
# defined for lossless; this canonical assignment favours the small
# categories real image diffs land in). bits[i] = #codes of length i+1.
_LL_BITS = [0, 0, 6, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 0, 0, 0]
_LL_VALS = list(range(17))


def _diff_category(diff: int) -> tuple[int, int]:
    """(SSSS, appended-bit value) for a mod-2^16 difference
    represented in [-32767, 32768]."""
    if diff == 32768:
        return 16, 0
    mag = diff if diff >= 0 else -diff
    ssss = mag.bit_length()
    if diff >= 0:
        return ssss, diff
    return ssss, diff + (1 << ssss) - 1


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 1,
    point_transform: int = 0,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """HxW (gray) or HxWx3 uint8 — or uint16 when ``precision`` > 8 —
    → SOF3 lossless JPEG. Components are stored untransformed (lossless
    JPEG defines no colour space; 3-component frames are RGB here and
    on decode), sampling is 1x1 everywhere, scans are interleaved when
    multi-component. Exists to generate fixtures that exercise every
    decoder path: all 7 predictors, Pt, restarts, 2..16-bit precision."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    if not 0 <= point_transform < precision:
        raise ValueError("point transform must be < precision")
    gray = img.ndim == 2
    h, w = img.shape[:2]
    planes = (
        [img.astype(np.int64)]
        if gray
        else [img[..., i].astype(np.int64) for i in range(img.shape[2])]
    )
    nc = len(planes)
    maxval = (1 << precision) - 1
    planes = [np.clip(p, 0, maxval) >> point_transform for p in planes]

    frame = [(1, 1, 0)] * nc  # 1x1 sampling; Tq ignored
    out = _jpeg_headers(
        0xC3, h, w, frame, huff=[(0, 0, (_LL_BITS, _LL_VALS))],
        precision=precision, restart_interval=restart_interval,
    )
    out += _sos_segment(frame, range(nc), predictor, 0, 0, point_transform)

    codes = _build_huff_codes(_LL_BITS, _LL_VALS)
    bw = _BitWriter()
    default = 1 << (precision - point_transform - 1)
    fresh = [True] * nc
    fresh_row = [0] * nc
    for rst, units in scan_units([(1, 1, h, w)] * nc, w, h, restart_interval):
        if rst >= 0:
            bw.flush()
            bw.buf += _rst_marker(rst)
            fresh = [True] * nc
        for ci, r, c_ in units:
            samples = planes[ci]
            if fresh[ci]:
                px = default
                fresh[ci] = False
                fresh_row[ci] = r
            elif r == fresh_row[ci]:
                px = int(samples[r, c_ - 1])
            elif c_ == 0:
                px = int(samples[r - 1, c_])
            else:
                px = _predict(samples, r, c_, predictor)
            diff = (int(samples[r, c_]) - px) & 0xFFFF
            if diff >= 32769:
                diff -= 65536  # representative in [-32767, 32768]
            ssss, extra = _diff_category(diff)
            code, ln = codes[ssss]
            bw.write(code, ln)
            if ssss and ssss != 16:
                bw.write(extra, ssss)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)
