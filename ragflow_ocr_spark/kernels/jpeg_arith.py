"""Arithmetic-coded JPEG entropy layer (ITU T.81 Annexes D and F).

Sequential DCT with arithmetic coding (SOF9) shares everything with
baseline JPEG except the entropy coder: instead of Huffman codes, a
binary QM arithmetic coder with an adaptive 113-state probability
estimation machine codes a tree of binary decisions per coefficient
(zero/nonzero, sign, log2 magnitude category, magnitude bits), with
conditioning contexts selected by the previous DC difference (DC) and
the coefficient index (AC). kernels/imgcodecs.py dispatches SOF9 and
SOF10 scans here and supplies the rest: the unit order and restart
points of each scan (``imgcodecs.scan_units``), the RSTn writer, the
marker segments and the DCT/quantization.

The state-transition table QM_TABLE is public spec data (T.81 Table
D.3: Qe value, next-index-after-LPS/MPS, MPS-switch flag per state);
tests/test_jpeg_arith.py pins the transcription byte-for-byte against
the system libjpeg's exported `jpeg_aritab` when the library is
present, and the encoder's output is cross-validated through the
system decoder (gdk-pixbuf/libjpeg) in the same test file — the same
validation tier as the libwebp/libpng cross-checks.

Decision-tree statistics bins follow the spec layout (Table F.4): DC
uses 64 bins per table (contexts 0/4/8/12/16 of four decisions each,
then X/M magnitude areas from bin 20); AC uses 256 bins per table
(3 bins per coefficient index, X areas at 189/217 split by the Kx
conditioning bound, M areas 14 past the X position). Conditioning
bounds (DC L/U, AC Kx) come from the DAC marker; defaults 0/1/5.

Error contract: ValueError on malformed input (via the
``pngcodec.codec_errors`` wrapper at the decode_jpeg boundary).

Reference behavior: /root/reference/ocr/operators.py:41-46 accepts
any payload cv2/libjpeg understands, which includes SOF9;
SURVEY.md §2.3 S3 / PARITY.md S3 exotica seam.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.imgcodecs import _rst_marker, scan_units

# T.81 Table D.3: (Qe, next-state after LPS, next-state after MPS,
# switch-MPS flag). State 113 is the non-adapting "fixed 0.5" bin
# used for AC sign decisions.
QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)

FIXED_BIN = 113  # non-adapting equiprobable state

_MAX_DECISIONS_PER_BLOCK = 4096  # decision-count backstop per 8x8 block

# T.81's default conditioning (F.1.4.4.1.4, F.1.4.4.2.1), used when no
# DAC segment sets a table's: DC bounds (L, U) and the AC bound Kx
_DC_COND = (0, 1)
_AC_KX = 5


class QMDecoder:
    """T.81 F.2 binary arithmetic decoder over one scan's byte span.

    State bins are single bytes: bit 7 = current MPS sense, bits 0-6 =
    probability-estimation state index. A marker (or end of data) in
    the scan is legal mid-decode: zero bytes are supplied until the
    MCU loop completes, and the marker position is reported back."""

    __slots__ = ("data", "pos", "end", "c", "a", "ct", "marker_pos")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.end = len(data)
        self.marker_pos = None  # byte offset of the 0xFF of a marker
        self.c = 0
        self.a = 0
        self.ct = -16  # forces two initial byte fetches

    def _byte_in(self) -> int:
        if self.marker_pos is not None:
            return 0  # feed zeros after a marker / end of data
        if self.pos >= self.end:
            self.marker_pos = self.pos
            return 0
        b = self.data[self.pos]
        self.pos += 1
        if b != 0xFF:
            return b
        # 0xFF: stuffed zero byte means a literal 0xFF; anything else
        # is a marker — stop consuming and feed zeros from here on
        nxt = self.data[self.pos] if self.pos < self.end else None
        if nxt == 0x00:
            self.pos += 1
            return 0xFF
        self.marker_pos = self.pos - 1
        return 0

    def decode(self, st: bytearray, i: int) -> int:
        # renormalization + byte feed (lazy-C formulation: C holds raw
        # bytes, ct tracks the shift needed to align A against it)
        a = self.a
        while a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._byte_in()) & 0xFFFFFFFFFF
                self.ct += 8
                if self.ct < 0:
                    self.ct += 1
                    if self.ct == 0:
                        a = 0x8000  # two initial bytes loaded
            a <<= 1
        sv = st[i]
        qe, nl, nm, sw = QM_TABLE[sv & 0x7F]
        a -= qe
        temp = a << self.ct
        if self.c < temp:
            # MPS sub-interval
            if a < 0x8000:
                if a < qe:  # conditional exchange: the symbol is LPS
                    st[i] = (sv & 0x80) ^ ((sw << 7) | nl)
                    sv ^= 0x80
                else:
                    st[i] = (sv & 0x80) | nm
        else:
            self.c -= temp
            if a < qe:  # conditional exchange: the symbol is MPS
                st[i] = (sv & 0x80) | nm
            else:
                st[i] = (sv & 0x80) ^ ((sw << 7) | nl)
                sv ^= 0x80
            a = qe
        self.a = a
        return sv >> 7

    def consumed(self) -> int:
        """Bytes of scan data consumed (up to a marker if one was hit)."""
        return (self.marker_pos if self.marker_pos is not None else self.pos)


class QMEncoder:
    """T.81 D.1 binary arithmetic encoder (carry via 0xFF stacking,
    trailing zero suppression, 0xFF00 byte stuffing)."""

    __slots__ = ("out", "c", "a", "ct", "buffer", "sc", "zc")

    def __init__(self):
        self.out = bytearray()
        self.c = 0
        self.a = 0x10000
        self.ct = 11
        self.buffer = -1  # pending byte (-1: none yet)
        self.sc = 0       # stacked 0xFF-candidate bytes
        self.zc = 0       # pending zero bytes (suppressed if trailing)

    def _emit(self, b: int):
        self.out.append(b)

    def _byte_out(self):
        temp = self.c >> 19
        if temp > 0xFF:
            # carry propagates into the pending byte and turns the
            # stacked 0xFF bytes into zeros
            if self.buffer >= 0:
                if self.zc:
                    self.out += b"\x00" * self.zc
                    self.zc = 0
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)
            self.zc += self.sc
            self.sc = 0
            self.buffer = temp & 0xFF
        elif temp == 0xFF:
            self.sc += 1  # might still be hit by a carry
        else:
            # stacked bytes can no longer overflow: flush them
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    self.out += b"\x00" * self.zc
                    self.zc = 0
                self._emit(self.buffer)
            if self.sc:
                if self.zc:
                    self.out += b"\x00" * self.zc
                    self.zc = 0
                self.out += b"\xff\x00" * self.sc
                self.sc = 0
            self.buffer = temp
        self.c &= 0x7FFFF
        self.ct += 8

    def _renorm(self):
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byte_out()

    def encode(self, st: bytearray, i: int, bit: int):
        sv = st[i]
        qe, nl, nm, sw = QM_TABLE[sv & 0x7F]
        self.a -= qe
        if bit != (sv >> 7):
            # LPS: gets the bottom subinterval unless conditional
            # exchange gives it the (larger) top one
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            st[i] = (sv & 0x80) ^ ((sw << 7) | nl)
            self._renorm()
        else:
            if self.a >= 0x8000:
                return
            if self.a < qe:
                self.c += self.a
                self.a = qe
            st[i] = (sv & 0x80) | nm
            self._renorm()

    def flush(self) -> bytes:
        """Terminate (T.81 D.1.8): pick the in-interval code value
        with the most trailing zeros, emit remaining bytes, suppress
        trailing zeros (the EOI marker implies them)."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        if temp < self.c:
            self.c = temp + 0x8000
        else:
            self.c = temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # final carry
            if self.buffer >= 0:
                if self.zc:
                    self.out += b"\x00" * self.zc
                    self.zc = 0
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    self.out += b"\x00" * self.zc
                    self.zc = 0
                self._emit(self.buffer)
            if self.sc:
                if self.zc:
                    self.out += b"\x00" * self.zc
                    self.zc = 0
                self.out += b"\xff\x00" * self.sc
                self.sc = 0
        # last two code bytes, only if nonzero (trailing-zero rule)
        if self.c & 0x7FFF800:
            if self.zc:
                self.out += b"\x00" * self.zc
                self.zc = 0
            b = (self.c >> 19) & 0xFF
            self._emit(b)
            if b == 0xFF:
                self._emit(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self._emit(b)
                if b == 0xFF:
                    self._emit(0x00)
        return bytes(self.out)


# --------------------------------------------------------------- scans
#
# Statistics layout per T.81 Table F.4. DC (64 bins per table):
# contexts at 0/4/8/12/16 (zero / small± / large± previous diff),
# each holding S0, SS, SP, SN; X (category) area from bin 20; M
# (magnitude bits) area 14 past the X position. AC (256 bins per
# table): S0/SS-equivalent at 3*(k-1), X areas at 189 (k <= Kx) and
# 217, M areas 14 past.
#
# The same statistics/decision trees serve sequential (SOF9) AND
# progressive (SOF10) scans — progressive adds the point transform
# (values << Al), spectral band bounds (Ss..Se), and the successive-
# approximation refinement procedures (T.81 G.2: DC correction bits
# from the fixed bin, AC correction via the 3*(k-1)+2 bin). Every
# scan starts a fresh decoder with zeroed statistics, and restart
# markers re-zero them mid-scan (T.81 F.2.1.3.1 / G.2).


def _find_marker(data: bytes, p: int) -> int:
    """Next real marker at/after p: skips entropy slack, stuffed
    FF00 pairs (data) and FF fill bytes. Returns the 0xFF offset."""
    n = len(data)
    while p + 1 < n:
        if data[p] != 0xFF:
            p += 1
            continue
        nxt = data[p + 1]
        if nxt == 0x00:
            p += 2  # stuffed data byte
        elif nxt == 0xFF:
            p += 1  # fill byte
        else:
            return p
    raise ValueError("truncated JPEG entropy stream")


def decode_scan(
    data: bytes,
    pos: int,
    scan_comps: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
    mcus_x: int,
    mcus_y: int,
    dc_cond: dict[int, tuple[int, int]],
    ac_cond: dict[int, int],
    restart_interval: int = 0,
    sequential: bool = True,
) -> int:
    """One arithmetic entropy scan → fills each comp's ``coefs``
    (natural-raster (by, bx, 64) zigzag-indexed layout, the same
    contract as the Huffman scans).

    Handles sequential full scans (Ss=0 Se=63 Ah=Al=0), progressive
    DC first/refinement (Ss=0) and progressive AC first/refinement
    bands (single component), interleaved (Ns>1, MCU grid) and
    non-interleaved (Ns=1, the component's own ceil block grid), and
    restart intervals (statistics + contexts re-zeroed, fresh decoder
    after the RSTn). Returns the absolute offset of the terminating
    marker's 0xFF byte."""
    fixed = bytearray([FIXED_BIN])
    dc_stats: dict[int, bytearray] = {}
    ac_stats: dict[int, bytearray] = {}

    def _reset():
        dc_stats.clear()
        ac_stats.clear()
        for c in scan_comps:
            if sequential or ss == 0:
                dc_stats.setdefault(c["dc_tbl_a"], bytearray(64))
                c["_dc_context"] = 0
                c["_last_dc"] = 0
            if sequential or ss > 0:
                ac_stats.setdefault(c["ac_tbl_a"], bytearray(256))

    _reset()
    dec = QMDecoder(data, pos)
    for rst, units in scan_units(
        [c["grid"] for c in scan_comps], mcus_x, mcus_y, restart_interval
    ):
        if rst >= 0:
            p = _find_marker(data, dec.consumed())
            if not 0xD0 <= data[p + 1] <= 0xD7:
                raise ValueError("JPEG restart marker expected")
            dec = QMDecoder(data, p + 2)
            _reset()
        for ci, r, col in units:
            c = scan_comps[ci]
            blk = c["coefs"][r, col]
            if sequential:
                _decode_dc(dec, c, blk, dc_stats, dc_cond, 0)
                _decode_ac_first(dec, c, blk, ac_stats, fixed, ac_cond,
                                 1, 63, 0)
            elif ss == 0:
                if ah == 0:
                    _decode_dc(dec, c, blk, dc_stats, dc_cond, al)
                elif dec.decode(fixed, 0):  # DC refinement (T.81 G.2.1)
                    blk[0] |= 1 << al
            elif ah == 0:
                _decode_ac_first(dec, c, blk, ac_stats, fixed, ac_cond,
                                 ss, se, al)
            else:
                _decode_ac_refine(dec, c, blk, ac_stats, fixed, ss, se, al)
    return _find_marker(data, dec.consumed())


def _decode_dc(dec, c, blk, dc_stats, dc_cond, al):
    """DC difference (T.81 F.2.4.1), value point-transformed << al
    (G.1.2.1 applies the shift to the reconstructed value)."""
    budget = _MAX_DECISIONS_PER_BLOCK
    tbl = c["dc_tbl_a"]
    st = dc_stats[tbl]
    L, U = dc_cond.get(tbl, _DC_COND)
    s0 = c["_dc_context"]
    if dec.decode(st, s0) == 0:
        c["_dc_context"] = 0
    else:
        sign = dec.decode(st, s0 + 1)
        base = s0 + 2 + sign
        m = dec.decode(st, base)
        xpos = base
        if m:
            xpos = 20
            while dec.decode(st, xpos):
                m <<= 1
                if m == 0x8000:
                    raise ValueError("arith JPEG DC magnitude overflow")
                xpos += 1
        if m < (1 << L) >> 1:
            c["_dc_context"] = 0
        elif m > (1 << U) >> 1:
            c["_dc_context"] = 12 + sign * 4
        else:
            c["_dc_context"] = 4 + sign * 4
        v = m
        mpos = xpos + 14
        while m := m >> 1:
            budget -= 1
            if budget < 0:
                raise ValueError("arith JPEG decision budget exceeded")
            if dec.decode(st, mpos):
                v |= m
        v += 1
        c["_last_dc"] += -v if sign else v
    blk[0] = c["_last_dc"] << al


def _decode_ac_first(dec, c, blk, ac_stats, fixed, ac_cond, ss, se, al):
    """AC coefficients, first pass (T.81 F.2.4.2 / G.2: sequential is
    the Ss=1 Se=63 Al=0 case)."""
    budget = _MAX_DECISIONS_PER_BLOCK
    tbl = c["ac_tbl_a"]
    st = ac_stats[tbl]
    kx = ac_cond.get(tbl, _AC_KX)
    k = ss
    while k <= se:
        s0 = 3 * (k - 1)
        if dec.decode(st, s0):
            break  # EOB
        while dec.decode(st, s0 + 1) == 0:
            s0 += 3
            k += 1
            if k > se:
                raise ValueError("arith JPEG AC index overflow")
        sign = dec.decode(fixed, 0)
        base = s0 + 2
        m = dec.decode(st, base)
        xpos = base
        if m:
            if dec.decode(st, base):
                m = 2
                xpos = 189 if k <= kx else 217
                while dec.decode(st, xpos):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("arith JPEG AC magnitude overflow")
                    xpos += 1
        v = m
        mpos = xpos + 14
        while m := m >> 1:
            budget -= 1
            if budget < 0:
                raise ValueError("arith JPEG decision budget exceeded")
            if dec.decode(st, mpos):
                v |= m
        v += 1
        blk[k] = (-v if sign else v) << al  # zigzag-indexed layout
        k += 1


def _decode_ac_refine(dec, c, blk, ac_stats, fixed, ss, se, al):
    """AC successive-approximation refinement (T.81 G.2.2): one
    correction bit per previously-nonzero coefficient (bin 3(k-1)+2),
    newly-nonzero arrivals as ±1<<al, EOB decision at 3(k-1) once past
    the previous stage's end-of-block index."""
    st_all = ac_stats[c["ac_tbl_a"]]
    p1 = 1 << al
    kex = se
    while kex > 0 and blk[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        s0 = 3 * (k - 1)
        if k > kex and dec.decode(st_all, s0):
            break  # EOB
        while True:
            if blk[k] != 0:  # previously nonzero: correction bit
                if dec.decode(st_all, s0 + 2):
                    blk[k] += p1 if blk[k] >= 0 else -p1
                break
            if dec.decode(st_all, s0 + 1):  # newly nonzero
                blk[k] = -p1 if dec.decode(fixed, 0) else p1
                break
            s0 += 3
            k += 1
            if k > se:
                raise ValueError("arith JPEG AC refinement overflow")
        k += 1


def encode_scan(
    comps: list[tuple[np.ndarray, tuple[int, int, int, int], int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    mcus_x: int,
    mcus_y: int,
    restart_interval: int = 0,
    sequential: bool = True,
) -> bytes:
    """One arithmetic entropy scan from quantized zigzag blocks
    (including RSTn markers when restart_interval > 0 — each restart
    segment is an independently terminated QM stream with re-zeroed
    statistics, mirroring decode_scan).

    ``comps`` holds each scan component as ``(blocks, grid, table)``:
    its (rows, cols, 64) zigzag blocks (the decode-side coefs layout),
    its ``imgcodecs.scan_units`` grid and its DC/AC table index, coded
    with T.81's default conditioning (DC L=0 U=1, AC Kx=5). Handles the
    same scan shapes decode_scan does: sequential, DC first/refine, AC
    first/refine bands."""
    fixed = bytearray([FIXED_BIN])
    dc_stats: dict[int, bytearray] = {}
    ac_stats: dict[int, bytearray] = {}
    state = [{"ctx": 0, "last": 0} for _ in comps]

    def _reset():
        dc_stats.clear()
        ac_stats.clear()
        for ci, (_blocks, _grid, t) in enumerate(comps):
            if sequential or ss == 0:
                dc_stats.setdefault(t, bytearray(64))
                state[ci]["ctx"] = 0
                state[ci]["last"] = 0
            if sequential or ss > 0:
                ac_stats.setdefault(t, bytearray(256))

    _reset()
    enc = QMEncoder()
    out = bytearray()
    for rst, units in scan_units(
        [grid for _blocks, grid, _t in comps], mcus_x, mcus_y, restart_interval
    ):
        if rst >= 0:
            out += enc.flush()
            out += _rst_marker(rst)
            enc = QMEncoder()
            _reset()
        for ci, r, col in units:
            blocks, _grid, t = comps[ci]
            zz = blocks[r, col]
            if sequential:
                _encode_dc(enc, t, state[ci], zz, dc_stats, 0)
                _encode_ac_first(enc, t, zz, ac_stats, fixed, 1, 63, 0)
            elif ss == 0:
                if ah == 0:
                    _encode_dc(enc, t, state[ci], zz, dc_stats, al)
                else:  # DC refinement: one raw-ish bit per block
                    enc.encode(fixed, 0, (int(zz[0]) >> al) & 1)
            elif ah == 0:
                _encode_ac_first(enc, t, zz, ac_stats, fixed, ss, se, al)
            else:
                _encode_ac_refine(enc, t, zz, ac_stats, fixed, ss, se, ah, al)
    out += enc.flush()
    return bytes(out)


def _encode_dc(enc, tbl, stt, zz, dc_stats, al):
    """DC difference (T.81 F.1.4.1) over point-transformed values
    (arithmetic shift >> al, G.1.2.1 — floor semantics like libjpeg's
    IRIGHT_SHIFT)."""
    st = dc_stats[tbl]
    L, U = _DC_COND
    s0 = stt["ctx"]
    cur = int(zz[0]) >> al
    diff = cur - stt["last"]
    stt["last"] = cur
    if diff == 0:
        enc.encode(st, s0, 0)
        stt["ctx"] = 0
    else:
        enc.encode(st, s0, 1)
        if diff > 0:
            enc.encode(st, s0 + 1, 0)
            sign = 0
        else:
            enc.encode(st, s0 + 1, 1)
            sign = 1
            diff = -diff
        base = s0 + 2 + sign
        v = diff - 1
        m = 0
        xpos = base
        if v:
            enc.encode(st, base, 1)
            m = 1
            xpos = 20
            v2 = v
            while v2 := v2 >> 1:
                enc.encode(st, xpos, 1)
                m <<= 1
                xpos += 1
        enc.encode(st, xpos, 0)
        if m < (1 << L) >> 1:
            stt["ctx"] = 0
        elif m > (1 << U) >> 1:
            stt["ctx"] = 12 + sign * 4
        else:
            stt["ctx"] = 4 + sign * 4
        mpos = xpos + 14
        while m := m >> 1:
            enc.encode(st, mpos, 1 if (m & v) else 0)


def _encode_ac_first(enc, tbl, zz, ac_stats, fixed, ss, se, al):
    """AC coefficients, first pass (T.81 F.1.4.2 / G.1.2.2):
    magnitudes are point-transformed |v| >> al, sign kept."""
    st = ac_stats[tbl]
    kx = _AC_KX
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1
    k = ss
    while k <= ke:
        s0 = 3 * (k - 1)
        enc.encode(st, s0, 0)  # not EOB
        while (abs(int(zz[k])) >> al) == 0:
            enc.encode(st, s0 + 1, 0)
            s0 += 3
            k += 1
        enc.encode(st, s0 + 1, 1)
        v = int(zz[k])
        if v > 0:
            enc.encode(fixed, 0, 0)
        else:
            enc.encode(fixed, 0, 1)
            v = -v
        v >>= al
        base = s0 + 2
        v -= 1
        m = 0
        xpos = base
        if v:
            enc.encode(st, base, 1)
            m = 1
            if v >> 1:
                enc.encode(st, base, 1)
                m = 2
                xpos = 189 if k <= kx else 217
                v2 = v >> 1
                while v2 := v2 >> 1:
                    enc.encode(st, xpos, 1)
                    m <<= 1
                    xpos += 1
        enc.encode(st, xpos, 0)
        mpos = xpos + 14
        while m := m >> 1:
            enc.encode(st, mpos, 1 if (m & v) else 0)
        k += 1
    if k <= se:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def _encode_ac_refine(enc, tbl, zz, ac_stats, fixed, ss, se, ah, al):
    """AC successive-approximation refinement (T.81 G.1.2.3 arithmetic
    form, mirroring _decode_ac_refine): correction bit |v|>>al & 1 for
    coefficients already nonzero at the previous stage (|v|>>ah != 0),
    newly-nonzero arrivals coded via the 3(k-1)+1 bin + fixed-bin
    sign, EOB decision once past both stages' end-of-block indices."""
    st_all = ac_stats[tbl]
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1
    kex = ke
    while kex >= ss and (abs(int(zz[kex])) >> ah) == 0:
        kex -= 1
    k = ss
    while k <= ke:
        s0 = 3 * (k - 1)
        if k > kex:
            enc.encode(st_all, s0, 0)  # not EOB yet
        while True:
            v = int(zz[k])
            t = abs(v) >> al
            if t:
                if t >> 1:  # previously nonzero: correction bit
                    enc.encode(st_all, s0 + 2, t & 1)
                else:  # newly nonzero
                    enc.encode(st_all, s0 + 1, 1)
                    enc.encode(fixed, 0, 1 if v < 0 else 0)
                break
            enc.encode(st_all, s0 + 1, 0)
            s0 += 3
            k += 1
        k += 1
    if k <= se:
        enc.encode(st_all, 3 * (k - 1), 1)  # EOB
