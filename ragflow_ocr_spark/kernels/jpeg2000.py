"""JPEG 2000 (ISO/IEC 15444-1 / ITU-T T.800) — the last named
still-image seam from VERDICT r04 §"What's missing" #5. The reference
accepts any cv2-decodable payload (``/root/reference/ocr/
operators.py:41-46``) and cv2 links OpenJPEG; this sandbox has no
OpenJPEG/Jasper, so the codec is from scratch like the VP8 and HEVC
decoders, and validation is in-repo (spec-worked vectors, layer-by-layer
round-trips, fuzz) — the same tier the arithmetic JPEG coder started
at before its system cross-check.

Scope (documented substitution):
- containers: raw codestream (SOC..EOC) and JP2 boxes (signature +
  ftyp + jp2h/ihdr + jp2c); magic sniffing lives in pngcodec.
- SIZ: 8-bit unsigned components (1 or 3), no subsampling, zero
  image/tile offsets; general tile grids.
- COD: LRCP progression, whole-subband precincts (PPx=PPy=15),
  default code-block style, 0-32 decomposition levels, code-block
  sizes 4..64, with or without the multiple-component transform
  (RCT for 5/3, ICT for 9/7); one quality layer on encode, N on
  decode; SOP/EPH markers tolerated.
- transforms: reversible 5/3 (lossless end-to-end) and irreversible
  9/7 with scalar quantization (expounded or derived).
- tier-1: full three-pass EBCOT (significance propagation, magnitude
  refinement, cleanup with run-length), MQ coder per Annex C with
  the 47-state Qe table, default single codeword segment.
- tier-2: packet headers with inclusion/zero-bitplane tag trees,
  Lblock length coding, header bit-stuffing, multiple layers and
  tile-parts on decode.
- named rejections: >8-bit or subsampled components, non-LRCP
  progressions, custom precincts, bypass/termall/causal/segsym
  code-block styles, RGN, POC, PPM/PPT packed headers.

Untrusted-input budget: tier-1 is a per-coefficient Python loop like
the SOF3 decoder — frames are capped at 8 MPix and code-block counts
derive from the header before any allocation.

Error contract: ValueError on malformed input (the Spark media stages
map it to a per-row error status, never a task failure).
"""

from __future__ import annotations

import struct

import numpy as np

MAX_J2K_PIXELS = 1 << 23

# ---------------------------------------------------------------- MQ coder
# Annex C Table C.2: (Qe, NMPS, NLPS, SWITCH) — the same table as
# JBIG2/T.88; states 0-46.
_MQ_TABLE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)

# EBCOT context ids (D.3): 0-8 zero coding, 9-13 sign, 14-16 magnitude
# refinement, 17 run-length, 18 uniform
N_CTX = 19
CTX_RL = 17
CTX_UNI = 18


def _fresh_contexts() -> list[list[int]]:
    """[state_index, mps] per context, D.3 initial states."""
    ctx = [[0, 0] for _ in range(N_CTX)]
    ctx[0] = [4, 0]
    ctx[CTX_RL] = [3, 0]
    ctx[CTX_UNI] = [46, 0]
    return ctx


class MQDecoder:
    """Annex C.3 arithmetic decoder over one codeword segment."""

    __slots__ = ("data", "bp", "c", "a", "ct", "ctx")

    def __init__(self, data: bytes, ctx: list[list[int]]) -> None:
        self.data = data
        self.ctx = ctx
        self.bp = 0
        b = data[0] if data else 0xFF
        self.c = b << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        data, bp = self.data, self.bp
        b = data[bp] if bp < len(data) else 0xFF
        if b == 0xFF:
            b1 = data[bp + 1] if bp + 1 < len(data) else 0xFF
            if b1 > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            b1 = data[bp + 1] if bp + 1 < len(data) else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, cx: int) -> int:
        st = self.ctx[cx]
        qe, nmps, nlps, switch = _MQ_TABLE[st[0]]
        self.a -= qe
        if (self.c >> 16) < qe:
            # LPS exchange path (conditional exchange when A < Qe)
            if self.a < qe:
                d = st[1]
                st[0] = nmps
            else:
                d = 1 - st[1]
                if switch:
                    st[1] = 1 - st[1]
                st[0] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return st[1]
            if self.a < qe:
                d = 1 - st[1]
                if switch:
                    st[1] = 1 - st[1]
                st[0] = nlps
            else:
                d = st[1]
                st[0] = nmps
        # RENORMD
        while True:
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


class MQEncoder:
    """Annex C.2 arithmetic encoder (one codeword segment)."""

    __slots__ = ("out", "b", "c", "a", "ct", "ctx", "_started")

    def __init__(self, ctx: list[list[int]]) -> None:
        self.ctx = ctx
        self.out = bytearray()
        self.b = -1  # no byte emitted yet
        self.c = 0
        self.a = 0x8000
        self.ct = 12
        self._started = False

    def _byteout(self) -> None:
        if self.b == 0xFF:
            self._stuff()
        elif self.c < 0x8000000:
            self._nostuff()
        else:
            self.b += 1
            if self._started:
                self.out[-1] = self.b & 0xFF
            if self.b == 0xFF:
                self.c &= 0x7FFFFFF
                self._stuff()
            else:
                self._nostuff()

    def _stuff(self) -> None:
        self.b = (self.c >> 20) & 0xFF
        self.out.append(self.b)
        self._started = True
        self.c &= 0xFFFFF
        self.ct = 7

    def _nostuff(self) -> None:
        self.b = (self.c >> 19) & 0xFF
        self.out.append(self.b)
        self._started = True
        self.c &= 0x7FFFF
        self.ct = 8

    def encode(self, cx: int, d: int) -> None:
        st = self.ctx[cx]
        qe, nmps, nlps, switch = _MQ_TABLE[st[0]]
        if d == st[1]:  # CODEMPS
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            st[0] = nmps
        else:  # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                st[1] = 1 - st[1]
            st[0] = nlps
        while True:
            if self.ct == 0:
                self._byteout()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break

    def flush(self) -> bytes:
        # SETBITS (openjpeg form): force the final interval bits high
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        # drop a trailing 0xFF (the decoder's BYTEIN feeds 1-bits past
        # the segment anyway)
        if self.out and self.out[-1] == 0xFF:
            del self.out[-1]
        return bytes(self.out)


# ------------------------------------------------------------- tag trees
class TagTree:
    """B.10.2 tag tree over a w x h leaf grid: hierarchical coding of
    per-leaf minima. Decoder and encoder share the node layout (leaf
    level 0, each level halving, single root)."""

    def __init__(self, w: int, h: int) -> None:
        self.levels = [(w, h)]
        while w > 1 or h > 1:
            w, h = (w + 1) // 2, (h + 1) // 2
            self.levels.append((w, h))
        # per level: low bound and known flag arrays
        self.low = [np.zeros((lh, lw), dtype=np.int32) for lw, lh in self.levels]
        self.known = [
            np.zeros((lh, lw), dtype=bool) for lw, lh in self.levels
        ]
        self.value = [
            np.zeros((lh, lw), dtype=np.int32) for lw, lh in self.levels
        ]

    def set_values(self, vals: np.ndarray) -> None:
        """Encoder: fill leaves and min-reduce up the pyramid."""
        self.value[0][:, :] = vals
        for li in range(1, len(self.levels)):
            prev = self.value[li - 1]
            lw, lh = self.levels[li]
            cur = np.full((lh, lw), 2**30, dtype=np.int32)
            ph, pw = prev.shape
            for y in range(ph):
                for x in range(pw):
                    yy, xx = y // 2, x // 2
                    if prev[y, x] < cur[yy, xx]:
                        cur[yy, xx] = prev[y, x]
            self.value[li] = cur

    def _path(self, x: int, y: int):
        out = []
        for li in range(len(self.levels) - 1, -1, -1):
            shift = li
            out.append((li, y >> shift, x >> shift))
        return out

    def decode(self, x: int, y: int, threshold: int, readbit) -> bool:
        """True iff leaf value < threshold is established; consumes
        bits per the B.10.2 procedure."""
        low = 0
        for li, yy, xx in self._path(x, y):
            if self.low[li][yy, xx] < low:
                self.low[li][yy, xx] = low
            while (not self.known[li][yy, xx]
                   and self.low[li][yy, xx] < threshold):
                if readbit():
                    self.known[li][yy, xx] = True
                    self.value[li][yy, xx] = self.low[li][yy, xx]
                else:
                    self.low[li][yy, xx] += 1
            if self.known[li][yy, xx]:
                low = self.value[li][yy, xx]
                if low >= threshold:
                    return False
            else:
                low = self.low[li][yy, xx]
                return False  # only know value >= threshold
        return True

    def encode(self, x: int, y: int, threshold: int, writebit) -> None:
        """Emit the bits decode() would consume for this leaf and
        threshold (set_values must have run)."""
        low = 0
        for li, yy, xx in self._path(x, y):
            if self.low[li][yy, xx] < low:
                self.low[li][yy, xx] = low
            val = self.value[li][yy, xx]
            while (not self.known[li][yy, xx]
                   and self.low[li][yy, xx] < threshold):
                if self.low[li][yy, xx] == val:
                    writebit(1)
                    self.known[li][yy, xx] = True
                else:
                    writebit(0)
                    self.low[li][yy, xx] += 1
            if self.known[li][yy, xx]:
                low = val
                if low >= threshold:
                    return
            else:
                return


class _PacketBitReader:
    """Packet-header bit reader with B.10.1 bit-stuffing: after a 0xFF
    byte only 7 bits of the following byte are used."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bits = 0
        self.acc = 0
        self.last = 0

    def read(self) -> int:
        if self.bits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG 2000 packet header")
            b = self.data[self.pos]
            self.pos += 1
            self.bits = 7 if self.last == 0xFF else 8
            self.acc = b
            self.last = b
        self.bits -= 1
        return (self.acc >> self.bits) & 1

    def readn(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read()
        return v

    def align(self) -> int:
        """End of packet header: discard partial byte (and the stuffed
        zero bit after a 0xFF), return the byte position of the body."""
        self.bits = 0
        if self.last == 0xFF:
            if self.pos < len(self.data):
                self.pos += 1  # stuffing byte (must be <= 0x7F)
            self.last = 0
        return self.pos


class _PacketBitWriter:
    """Mirror of _PacketBitReader for the encoder."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.bits = 0

    def _cap(self) -> int:
        return 7 if (self.out and self.out[-1] == 0xFF) else 8

    def write(self, bit: int) -> None:
        self.acc = (self.acc << 1) | (bit & 1)
        self.bits += 1
        if self.bits == self._cap():
            self.out.append(self.acc)
            self.acc = 0
            self.bits = 0

    def writen(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.write((v >> i) & 1)

    def flush(self) -> bytes:
        if self.bits:
            cap = self._cap()
            self.out.append(self.acc << (cap - self.bits))
            self.acc = 0
            self.bits = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)  # terminal stuffing
        return bytes(self.out)


# ------------------------------------------------------------- wavelets
# 1-D lifting on interleaved signals with explicit start parity: a
# subband pair (L at even global indices, H at odd) reconstructs a
# segment [g0, g0+n) of the parent signal. General tile grids produce
# odd band origins at deeper levels (600-wide tiles: 600 -> 300 -> 150
# -> 75), so parity is a first-class input, not an assumption.
# Extension is whole-sample symmetric (period 2(n-1), T.800 F.3.7),
# built via an index map so it stays correct when the extension is
# longer than the signal itself.

_E53 = 2
_E97 = 4

# 9/7 lifting constants (T.800 Table F.4) and the scaling factor K.
_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _reflect_indices(n: int, e: int) -> np.ndarray:
    g = np.arange(-e, n + e)
    if n == 1:
        return np.zeros_like(g)
    period = 2 * (n - 1)
    j = np.mod(g, period)
    return np.where(j >= n, period - j, j)


def _n_low(g0: int, n: int) -> int:
    """Count of even global indices in [g0, g0+n)."""
    return (n + 1 - (g0 & 1)) // 2


def _inv1d(L: np.ndarray, H: np.ndarray, g0: int, n: int,
           reversible: bool) -> np.ndarray:
    """Batched 1-D synthesis along axis 0: L (n_low, m) low-pass rows
    at even global indices, H at odd -> (n, m) over [g0, g0+n)."""
    dt = np.int64 if reversible else np.float64
    L = np.asarray(L, dtype=dt)
    H = np.asarray(H, dtype=dt)
    if L.shape[0] != _n_low(g0, n) or H.shape[0] != n - _n_low(g0, n):
        raise ValueError("JPEG 2000 subband geometry mismatch")
    if n == 0:
        return np.empty((0, L.shape[1]), dtype=dt)
    if n == 1:
        if (g0 & 1) == 0:
            return L.copy()
        return H // 2 if reversible else H * 0.5
    m = L.shape[1]
    e = _E53 if reversible else _E97
    Z = np.empty((n, m), dtype=dt)
    if (g0 & 1) == 0:
        ev, od = slice(0, None, 2), slice(1, None, 2)
    else:
        ev, od = slice(1, None, 2), slice(0, None, 2)
    if reversible:
        Z[ev] = L
        Z[od] = H
    else:
        Z[ev] = L * _K97
        Z[od] = H * (1.0 / _K97)
    Zp = Z[_reflect_indices(n, e)]
    tot = n + 2 * e
    gpar = (g0 - e) & 1  # parity of padded row 0
    ie = np.arange(gpar, tot, 2)
    io = np.arange(1 - gpar, tot, 2)
    ie = ie[(ie >= 1) & (ie < tot - 1)]
    io = io[(io >= 1) & (io < tot - 1)]
    if reversible:
        Zp[ie] -= (Zp[ie - 1] + Zp[ie + 1] + 2) // 4
        Zp[io] += (Zp[io - 1] + Zp[io + 1]) // 2
    else:
        Zp[ie] -= _D97 * (Zp[ie - 1] + Zp[ie + 1])
        Zp[io] -= _G97 * (Zp[io - 1] + Zp[io + 1])
        Zp[ie] -= _B97 * (Zp[ie - 1] + Zp[ie + 1])
        Zp[io] -= _A97 * (Zp[io - 1] + Zp[io + 1])
    return Zp[e:e + n]


def _fwd1d(X: np.ndarray, g0: int, reversible: bool):
    """Batched 1-D analysis along axis 0 of the segment at global rows
    [g0, g0+n) -> (L, H)."""
    dt = np.int64 if reversible else np.float64
    X = np.asarray(X, dtype=dt)
    n = X.shape[0]
    if n == 0:
        return X[:0].copy(), X[:0].copy()
    if n == 1:
        if (g0 & 1) == 0:
            return X.copy(), X[:0]
        return X[:0], X * 2
    e = _E53 if reversible else _E97
    Zp = X[_reflect_indices(n, e)].astype(dt)
    tot = n + 2 * e
    gpar = (g0 - e) & 1
    ie = np.arange(gpar, tot, 2)
    io = np.arange(1 - gpar, tot, 2)
    ie = ie[(ie >= 1) & (ie < tot - 1)]
    io = io[(io >= 1) & (io < tot - 1)]
    if reversible:
        Zp[io] -= (Zp[io - 1] + Zp[io + 1]) // 2
        Zp[ie] += (Zp[ie - 1] + Zp[ie + 1] + 2) // 4
    else:
        Zp[io] += _A97 * (Zp[io - 1] + Zp[io + 1])
        Zp[ie] += _B97 * (Zp[ie - 1] + Zp[ie + 1])
        Zp[io] += _G97 * (Zp[io - 1] + Zp[io + 1])
        Zp[ie] += _D97 * (Zp[ie - 1] + Zp[ie + 1])
    Z = Zp[e:e + n]
    if (g0 & 1) == 0:
        L, H = Z[0::2], Z[1::2]
    else:
        L, H = Z[1::2], Z[0::2]
    if not reversible:
        L = L * (1.0 / _K97)
        H = H * _K97
    return np.ascontiguousarray(L), np.ascontiguousarray(H)


def _fwd_2d(a: np.ndarray, u0: int, v0: int, reversible: bool):
    """One decomposition of the region [v0, v0+h) x [u0, u0+w):
    rows (horizontal) then columns (vertical) -> (LL, HL, LH, HH)."""
    L, H = _fwd1d(a.T, u0, reversible)
    L, H = L.T, H.T
    LL, LH = _fwd1d(L, v0, reversible)
    HL, HH = _fwd1d(H, v0, reversible)
    return LL, HL, LH, HH


def _inv_2d(LL, HL, LH, HH, u0: int, v0: int, h: int, w: int,
            reversible: bool):
    """Exact mirror of _fwd_2d: columns first, then rows."""
    L = _inv1d(LL, LH, v0, h, reversible)
    H = _inv1d(HL, HH, v0, h, reversible)
    return _inv1d(L.T, H.T, u0, w, reversible).T


# --------------------------------------------------------------- tier-1
# Context-formation lookup tables (T.800 D.3.1-D.3.3). Zero coding is
# indexed [h][v][d] with h/v in 0..2 (significant horizontal/vertical
# neighbour counts) and d in 0..4 (diagonals); Table D.1 covers LL/LH,
# HL uses it with h and v swapped, HH has its own diagonal-driven map.
def _build_zc_tables():
    ll = [[[0] * 5 for _ in range(3)] for _ in range(3)]
    hh = [[[0] * 5 for _ in range(3)] for _ in range(3)]
    for h in range(3):
        for v in range(3):
            for d in range(5):
                if h == 2:
                    c = 8
                elif h == 1:
                    c = 7 if v >= 1 else (6 if d >= 1 else 5)
                elif v == 2:
                    c = 4
                elif v == 1:
                    c = 3
                else:
                    c = 2 if d >= 2 else (1 if d == 1 else 0)
                ll[h][v][d] = c
                hv = h + v
                if d >= 3:
                    c = 8
                elif d == 2:
                    c = 7 if hv >= 1 else 6
                elif d == 1:
                    c = 5 if hv >= 2 else (4 if hv == 1 else 3)
                else:
                    c = 2 if hv >= 2 else (1 if hv == 1 else 0)
                hh[h][v][d] = c
    hl = [[[ll[v][h][d] for d in range(5)] for v in range(3)]
          for h in range(3)]
    return ll, hl, hh


_ZC_LL, _ZC_HL, _ZC_HH = _build_zc_tables()
# orientation codes: 0=LL, 1=HL, 2=LH, 3=HH
_ZC_BY_ORIENT = (_ZC_LL, _ZC_HL, _ZC_LL, _ZC_HH)

# Sign coding (Table D.4): index (hc+1)*3 + (vc+1) with hc/vc the
# clipped signed neighbour contributions -> (context, xor bit).
_SC = [None] * 9
for _hc, _vc, _cx, _xr in (
    (1, 1, 13, 0), (1, 0, 12, 0), (1, -1, 11, 0),
    (0, 1, 10, 0), (0, 0, 9, 0), (0, -1, 10, 1),
    (-1, 1, 11, 1), (-1, 0, 12, 1), (-1, -1, 13, 1),
):
    _SC[(_hc + 1) * 3 + (_vc + 1)] = (_cx, _xr)
del _hc, _vc, _cx, _xr

_MAX_PLANES = 38  # Mb cap: exponent<=31 + 7 guard bits


def _t1_decode(data: bytes, w: int, h: int, orient: int, planes: int,
               npasses: int):
    """Decode one code-block's coding passes -> (mag, sgn) flat padded
    arrays of size (h+2)*(w+2); callers slice the interior. State
    layout is flat bytearrays (fastest pure-Python indexing)."""
    W2 = w + 2
    size = (h + 2) * W2
    mag = [0] * size
    sgn = bytearray(size)
    if planes <= 0 or npasses <= 0:
        return mag, sgn
    if planes > _MAX_PLANES or npasses > 3 * planes - 2:
        raise ValueError("JPEG 2000 code-block pass count exceeds planes")
    sig = bytearray(size)
    vis = bytearray(size)
    ref = bytearray(size)
    ctx = _fresh_contexts()
    dec = MQDecoder(data, ctx).decode
    zc = _ZC_BY_ORIENT[orient]
    sc = _SC

    def sign_dec(i):
        l, r, u, d2 = i - 1, i + 1, i - W2, i + W2
        hc = ((sig[l] and (1 - 2 * sgn[l]))
              + (sig[r] and (1 - 2 * sgn[r])))
        vc = ((sig[u] and (1 - 2 * sgn[u]))
              + (sig[d2] and (1 - 2 * sgn[d2])))
        if hc > 1:
            hc = 1
        elif hc < -1:
            hc = -1
        if vc > 1:
            vc = 1
        elif vc < -1:
            vc = -1
        c, x = sc[(hc + 1) * 3 + (vc + 1)]
        return dec(c) ^ x

    p = planes - 1
    passno = 0
    kind = 2  # the first pass of a block is a cleanup pass
    while passno < npasses:
        bit = 1 << p
        if kind == 0:  # significance propagation
            for y0 in range(0, h, 4):
                yl = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, yl):
                        i = (y + 1) * W2 + x + 1
                        if sig[i]:
                            continue
                        hs = sig[i - 1] + sig[i + 1]
                        vs = sig[i - W2] + sig[i + W2]
                        ds = (sig[i - W2 - 1] + sig[i - W2 + 1]
                              + sig[i + W2 - 1] + sig[i + W2 + 1])
                        if not (hs or vs or ds):
                            continue
                        vis[i] = 1
                        if dec(zc[hs][vs][ds]):
                            sgn[i] = sign_dec(i)
                            sig[i] = 1
                            mag[i] = bit
        elif kind == 1:  # magnitude refinement
            for y0 in range(0, h, 4):
                yl = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, yl):
                        i = (y + 1) * W2 + x + 1
                        if not sig[i] or vis[i]:
                            continue
                        if ref[i]:
                            c = 16
                        else:
                            nb = (sig[i - 1] + sig[i + 1] + sig[i - W2]
                                  + sig[i + W2] + sig[i - W2 - 1]
                                  + sig[i - W2 + 1] + sig[i + W2 - 1]
                                  + sig[i + W2 + 1])
                            c = 15 if nb else 14
                        if dec(c):
                            mag[i] |= bit
                        ref[i] = 1
        else:  # cleanup with run-length mode
            for y0 in range(0, h, 4):
                yl = min(y0 + 4, h)
                full = (yl - y0) == 4
                for x in range(w):
                    start = y0
                    if full:
                        rl = True
                        for y in range(y0, yl):
                            i = (y + 1) * W2 + x + 1
                            if (sig[i] or vis[i] or sig[i - 1]
                                    or sig[i + 1] or sig[i - W2]
                                    or sig[i + W2] or sig[i - W2 - 1]
                                    or sig[i - W2 + 1] or sig[i + W2 - 1]
                                    or sig[i + W2 + 1]):
                                rl = False
                                break
                        if rl:
                            if not dec(CTX_RL):
                                continue
                            k = (dec(CTX_UNI) << 1) | dec(CTX_UNI)
                            y = y0 + k
                            i = (y + 1) * W2 + x + 1
                            sgn[i] = sign_dec(i)
                            sig[i] = 1
                            mag[i] = bit
                            start = y + 1
                    for y in range(start, yl):
                        i = (y + 1) * W2 + x + 1
                        if sig[i] or vis[i]:
                            continue
                        hs = sig[i - 1] + sig[i + 1]
                        vs = sig[i - W2] + sig[i + W2]
                        ds = (sig[i - W2 - 1] + sig[i - W2 + 1]
                              + sig[i + W2 - 1] + sig[i + W2 + 1])
                        if dec(zc[hs][vs][ds]):
                            sgn[i] = sign_dec(i)
                            sig[i] = 1
                            mag[i] = bit
            vis = bytearray(size)  # plane complete
        passno += 1
        if kind == 2:
            kind = 0
            p -= 1
            if p < 0 and passno < npasses:
                raise ValueError("JPEG 2000 passes extend below plane 0")
        else:
            kind += 1
    return mag, sgn


def _t1_encode(mag: list, sgn: bytearray, w: int, h: int, planes: int,
               orient: int):
    """Encode all coding passes of one code-block. ``mag``/``sgn`` are
    flat padded arrays as produced for _t1_decode. Returns (chunk,
    npasses, pass_ends) where pass_ends[i] is the byte count emitted
    after pass i (used to place layer boundaries)."""
    if planes <= 0:
        return b"", 0, []
    W2 = w + 2
    size = (h + 2) * W2
    sig = bytearray(size)
    vis = bytearray(size)
    ref = bytearray(size)
    ctx = _fresh_contexts()
    mq = MQEncoder(ctx)
    enc = mq.encode
    zc = _ZC_BY_ORIENT[orient]
    sc = _SC

    def sign_enc(i):
        l, r, u, d2 = i - 1, i + 1, i - W2, i + W2
        hc = ((sig[l] and (1 - 2 * sgn[l]))
              + (sig[r] and (1 - 2 * sgn[r])))
        vc = ((sig[u] and (1 - 2 * sgn[u]))
              + (sig[d2] and (1 - 2 * sgn[d2])))
        if hc > 1:
            hc = 1
        elif hc < -1:
            hc = -1
        if vc > 1:
            vc = 1
        elif vc < -1:
            vc = -1
        c, x = sc[(hc + 1) * 3 + (vc + 1)]
        enc(c, sgn[i] ^ x)

    npasses = 3 * planes - 2
    pass_ends = []
    p = planes - 1
    kind = 2
    for _ in range(npasses):
        bit = 1 << p
        if kind == 0:
            for y0 in range(0, h, 4):
                yl = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, yl):
                        i = (y + 1) * W2 + x + 1
                        if sig[i]:
                            continue
                        hs = sig[i - 1] + sig[i + 1]
                        vs = sig[i - W2] + sig[i + W2]
                        ds = (sig[i - W2 - 1] + sig[i - W2 + 1]
                              + sig[i + W2 - 1] + sig[i + W2 + 1])
                        if not (hs or vs or ds):
                            continue
                        vis[i] = 1
                        b = 1 if (mag[i] & bit) else 0
                        enc(zc[hs][vs][ds], b)
                        if b:
                            sign_enc(i)
                            sig[i] = 1
        elif kind == 1:
            for y0 in range(0, h, 4):
                yl = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, yl):
                        i = (y + 1) * W2 + x + 1
                        if not sig[i] or vis[i]:
                            continue
                        if ref[i]:
                            c = 16
                        else:
                            nb = (sig[i - 1] + sig[i + 1] + sig[i - W2]
                                  + sig[i + W2] + sig[i - W2 - 1]
                                  + sig[i - W2 + 1] + sig[i + W2 - 1]
                                  + sig[i + W2 + 1])
                            c = 15 if nb else 14
                        enc(c, 1 if (mag[i] & bit) else 0)
                        ref[i] = 1
        else:
            for y0 in range(0, h, 4):
                yl = min(y0 + 4, h)
                full = (yl - y0) == 4
                for x in range(w):
                    start = y0
                    if full:
                        rl = True
                        for y in range(y0, yl):
                            i = (y + 1) * W2 + x + 1
                            if (sig[i] or vis[i] or sig[i - 1]
                                    or sig[i + 1] or sig[i - W2]
                                    or sig[i + W2] or sig[i - W2 - 1]
                                    or sig[i - W2 + 1] or sig[i + W2 - 1]
                                    or sig[i + W2 + 1]):
                                rl = False
                                break
                        if rl:
                            k = -1
                            for yy in range(4):
                                i = (y0 + yy + 1) * W2 + x + 1
                                if mag[i] & bit:
                                    k = yy
                                    break
                            if k < 0:
                                enc(CTX_RL, 0)
                                continue
                            enc(CTX_RL, 1)
                            enc(CTX_UNI, (k >> 1) & 1)
                            enc(CTX_UNI, k & 1)
                            i = (y0 + k + 1) * W2 + x + 1
                            sign_enc(i)
                            sig[i] = 1
                            start = y0 + k + 1
                    for y in range(start, yl):
                        i = (y + 1) * W2 + x + 1
                        if sig[i] or vis[i]:
                            continue
                        hs = sig[i - 1] + sig[i + 1]
                        vs = sig[i - W2] + sig[i + W2]
                        ds = (sig[i - W2 - 1] + sig[i - W2 + 1]
                              + sig[i + W2 - 1] + sig[i + W2 + 1])
                        b = 1 if (mag[i] & bit) else 0
                        enc(zc[hs][vs][ds], b)
                        if b:
                            sign_enc(i)
                            sig[i] = 1
            vis = bytearray(size)
        pass_ends.append(len(mq.out))
        if kind == 2:
            kind = 0
            p -= 1
        else:
            kind += 1
    chunk = mq.flush()
    pass_ends = [min(e, len(chunk)) for e in pass_ends]
    pass_ends[-1] = len(chunk)
    return chunk, npasses, pass_ends


# ------------------------------------------------- geometry and tier-2
def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _band_indices(n_levels: int):
    """QCD/packet subband order: LL, then (HL, LH, HH) per resolution."""
    out = [(0, 0)]
    for r in range(1, n_levels + 1):
        out.extend([(r, 1), (r, 2), (r, 3)])
    return out


def _band_coords(tx0, ty0, tx1, ty1, n_levels, r, orient):
    """Subband coordinates (B.5 eq. B-15) for a tile-component."""
    if r == 0:
        nb = n_levels
        den = 1 << nb
        return (_ceil_div(tx0, den), _ceil_div(ty0, den),
                _ceil_div(tx1, den), _ceil_div(ty1, den))
    nb = n_levels - r
    xo = 1 if orient in (1, 3) else 0
    yo = 1 if orient in (2, 3) else 0
    den = 1 << (nb + 1)
    off = 1 << nb
    return (_ceil_div(tx0 - off * xo, den), _ceil_div(ty0 - off * yo, den),
            _ceil_div(tx1 - off * xo, den), _ceil_div(ty1 - off * yo, den))


class _Cblk:
    __slots__ = ("gx", "gy", "x0", "y0", "x1", "y1", "seen", "lblock",
                 "npasses", "data", "zbp", "chunk", "pass_ends",
                 "incl_layer", "layer_parts")

    def __init__(self, gx, gy, x0, y0, x1, y1):
        self.gx, self.gy = gx, gy
        self.x0, self.y0, self.x1, self.y1 = x0, y0, x1, y1
        self.seen = False
        self.lblock = 3
        self.npasses = 0
        self.data = bytearray()
        self.zbp = 0
        self.chunk = b""
        self.pass_ends = []
        self.incl_layer = 0
        self.layer_parts = []


class _Band:
    """One subband of one tile-component resolution: coordinates, Mb,
    quantizer step, and the code-block grid with its two tag trees
    (whole-subband precincts -> one precinct == the band)."""

    __slots__ = ("orient", "x0", "y0", "x1", "y1", "mb", "delta",
                 "blocks", "incl_tree", "zbp_tree")

    def __init__(self, orient, coords, mb, delta, cbw, cbh):
        self.orient = orient
        self.x0, self.y0, self.x1, self.y1 = coords
        self.mb = mb
        self.delta = delta
        self.blocks = []
        if self.x1 <= self.x0 or self.y1 <= self.y0:
            self.incl_tree = self.zbp_tree = None
            return
        gx0, gx1 = self.x0 // cbw, _ceil_div(self.x1, cbw)
        gy0, gy1 = self.y0 // cbh, _ceil_div(self.y1, cbh)
        for gy in range(gy0, gy1):
            for gx in range(gx0, gx1):
                self.blocks.append(_Cblk(
                    gx - gx0, gy - gy0,
                    max(self.x0, gx * cbw), max(self.y0, gy * cbh),
                    min(self.x1, (gx + 1) * cbw),
                    min(self.y1, (gy + 1) * cbh)))
        self.incl_tree = TagTree(gx1 - gx0, gy1 - gy0)
        self.zbp_tree = TagTree(gx1 - gx0, gy1 - gy0)


def _read_npasses(br: _PacketBitReader) -> int:
    if not br.read():
        return 1
    if not br.read():
        return 2
    v = br.readn(2)
    if v < 3:
        return 3 + v
    v = br.readn(5)
    if v < 31:
        return 6 + v
    return 37 + br.readn(7)


def _write_npasses(w: _PacketBitWriter, n: int) -> None:
    if n == 1:
        w.write(0)
    elif n == 2:
        w.write(1)
        w.write(0)
    elif n <= 5:
        w.writen(0b11, 2)
        w.writen(n - 3, 2)
    elif n <= 36:
        w.writen(0b1111, 4)
        w.writen(n - 6, 5)
    elif n <= 164:
        w.writen(0b111111111, 9)
        w.writen(n - 37, 7)
    else:
        raise ValueError("JPEG 2000 pass count out of range")


def _read_packet(body: bytes, pos: int, bands, layer: int,
                 use_sop: bool, use_eph: bool) -> int:
    """Parse one packet at ``pos``; appends body bytes to each
    contributing code-block and returns the new position."""
    if use_sop and body[pos:pos + 2] == b"\xff\x91":
        if pos + 6 > len(body):
            raise ValueError("truncated SOP marker")
        pos += 6
    br = _PacketBitReader(body, pos)
    contribs = []
    if br.read():
        for band in bands:
            for blk in band.blocks:
                if not blk.seen:
                    incl = band.incl_tree.decode(
                        blk.gx, blk.gy, layer + 1, br.read)
                else:
                    incl = br.read() == 1
                if not incl:
                    continue
                if not blk.seen:
                    t = 1
                    while not band.zbp_tree.decode(
                            blk.gx, blk.gy, t, br.read):
                        t += 1
                        if t > _MAX_PLANES + 1:
                            raise ValueError(
                                "JPEG 2000 zero-bitplane count too large")
                    blk.zbp = t - 1
                    if blk.zbp > band.mb:
                        raise ValueError(
                            "JPEG 2000 zero bitplanes exceed Mb")
                    blk.seen = True
                    blk.lblock = 3
                np_ = _read_npasses(br)
                while br.read():
                    blk.lblock += 1
                    if blk.lblock > 32:
                        raise ValueError("JPEG 2000 Lblock overflow")
                nbits = blk.lblock + (np_.bit_length() - 1)
                if nbits > 32:
                    raise ValueError("JPEG 2000 segment length too wide")
                ln = br.readn(nbits)
                blk.npasses += np_
                if blk.npasses > 3 * _MAX_PLANES - 2:
                    raise ValueError("JPEG 2000 pass count overflow")
                contribs.append((blk, ln))
    pos = br.align()
    if use_eph:
        if body[pos:pos + 2] != b"\xff\x92":
            raise ValueError("missing EPH marker")
        pos += 2
    for blk, ln in contribs:
        if pos + ln > len(body):
            raise ValueError("JPEG 2000 packet body overruns tile data")
        blk.data += body[pos:pos + ln]
        pos += ln
    return pos


def _write_packet(bands, layer: int, use_sop: bool, use_eph: bool,
                  seq: int) -> bytes:
    w = _PacketBitWriter()
    segs = []
    any_contrib = any(
        blk.layer_parts[layer][0] for band in bands for blk in band.blocks)
    if not any_contrib:
        w.write(0)
    else:
        w.write(1)
        for band in bands:
            for blk in band.blocks:
                np_l, seg = blk.layer_parts[layer]
                if not blk.seen:
                    band.incl_tree.encode(blk.gx, blk.gy, layer + 1, w.write)
                    if not np_l:
                        continue
                    band.zbp_tree.encode(blk.gx, blk.gy, blk.zbp + 1, w.write)
                    blk.seen = True
                    blk.lblock = 3
                else:
                    w.write(1 if np_l else 0)
                    if not np_l:
                        continue
                _write_npasses(w, np_l)
                fl = np_l.bit_length() - 1
                need = max(1, len(seg).bit_length())
                while blk.lblock + fl < need:
                    w.write(1)
                    blk.lblock += 1
                w.write(0)
                w.writen(len(seg), blk.lblock + fl)
                segs.append(seg)
    out = bytearray()
    if use_sop:
        out += b"\xff\x91\x00\x04" + struct.pack(">H", seq & 0xFFFF)
    out += w.flush()
    if use_eph:
        out += b"\xff\x92"
    for seg in segs:
        out += seg
    return bytes(out)


# ---------------------------------------------------------- quantization
_GAIN = (0, 1, 1, 2)  # log2 subband gain by orientation


def _band_quant(qstyle, guard, qvals, n_levels, r, orient, reversible):
    """(Mb, delta) for one subband from the QCD parameters (E.1)."""
    lev = n_levels if r == 0 else n_levels - r + 1
    idx = 0 if r == 0 else 3 * (r - 1) + orient
    rb = 8 + _GAIN[orient]
    if qstyle == 0:
        if idx >= len(qvals):
            raise ValueError("QCD exponent list too short")
        eps = qvals[idx] >> 3
        return guard + eps - 1, None
    if qstyle == 1:
        eps0 = qvals[0] >> 11
        mu0 = qvals[0] & 0x7FF
        eps = eps0 - n_levels + lev
        if eps < 0 or eps > 31:
            raise ValueError("derived quantizer exponent out of range")
        delta = 2.0 ** (rb - eps) * (1.0 + mu0 / 2048.0)
        return guard + eps - 1, delta
    if idx >= len(qvals):
        raise ValueError("QCD value list too short")
    eps = qvals[idx] >> 11
    mu = qvals[idx] & 0x7FF
    delta = 2.0 ** (rb - eps) * (1.0 + mu / 2048.0)
    return guard + eps - 1, delta


def _quant_params_for_delta(delta: float, rb: int):
    """(eps, mu, actual_delta) such that 2^(rb-eps)(1+mu/2048) is the
    closest representable step to the requested one."""
    import math

    t = delta / 2.0 ** rb
    eps = -math.floor(math.log2(t))
    eps = max(0, min(31, eps))
    mu = int(round((t * 2.0 ** eps - 1.0) * 2048.0))
    mu = max(0, min(2047, mu))
    actual = 2.0 ** (rb - eps) * (1.0 + mu / 2048.0)
    return eps, mu, actual


# -------------------------------------------------------------- markers
_SOC = 0xFF4F
_SIZ = 0xFF51
_COD = 0xFF52
_COC = 0xFF53
_TLM = 0xFF55
_PLM = 0xFF57
_PLT = 0xFF58
_QCD = 0xFF5C
_QCC = 0xFF5D
_RGN = 0xFF5E
_POC = 0xFF5F
_PPM = 0xFF60
_PPT = 0xFF61
_CRG = 0xFF63
_COM = 0xFF64
_SOT = 0xFF90
_SOP = 0xFF91
_EPH = 0xFF92
_SOD = 0xFF93
_EOC = 0xFFD9

_REJECT_MAIN = {
    _COC: "COC (per-component coding style)",
    _QCC: "QCC (per-component quantization)",
    _RGN: "RGN (region of interest)",
    _POC: "POC (progression order change)",
    _PPM: "PPM (packed packet headers)",
}


class _Header:
    __slots__ = ("xsiz", "ysiz", "xtsiz", "ytsiz", "ncomp", "levels",
                 "layers", "mct", "cbw", "cbh", "reversible", "use_sop",
                 "use_eph", "qstyle", "guard", "qvals")


def _parse_siz(seg: bytes, hdr: _Header) -> None:
    if len(seg) < 36:
        raise ValueError("SIZ too short")
    (_rsiz, xsiz, ysiz, xosiz, yosiz, xtsiz, ytsiz, xtosiz, ytosiz,
     csiz) = struct.unpack(">HIIIIIIIIH", seg[:36])
    if xosiz or yosiz or xtosiz or ytosiz:
        raise ValueError("JPEG 2000 image/tile offsets unsupported")
    if not (1 <= xsiz and 1 <= ysiz):
        raise ValueError("bad SIZ dimensions")
    if xsiz * ysiz > MAX_J2K_PIXELS:
        raise ValueError("JPEG 2000 image exceeds pixel cap")
    if csiz not in (1, 3):
        raise ValueError("JPEG 2000 component count unsupported (1 or 3)")
    if not (1 <= xtsiz and 1 <= ytsiz):
        raise ValueError("bad SIZ tile size")
    if len(seg) < 36 + 3 * csiz:
        raise ValueError("SIZ component list truncated")
    for c in range(csiz):
        ssiz, xr, yr = seg[36 + 3 * c:39 + 3 * c]
        if ssiz != 7:
            raise ValueError(
                "JPEG 2000 component depth unsupported (8-bit unsigned only)")
        if xr != 1 or yr != 1:
            raise ValueError("JPEG 2000 component subsampling unsupported")
    hdr.xsiz, hdr.ysiz = xsiz, ysiz
    hdr.xtsiz, hdr.ytsiz = xtsiz, ytsiz
    hdr.ncomp = csiz


def _parse_cod(seg: bytes, hdr: _Header) -> None:
    if len(seg) < 10:
        raise ValueError("COD too short")
    scod = seg[0]
    if scod & 0x01:
        raise ValueError("JPEG 2000 custom precincts unsupported")
    hdr.use_sop = bool(scod & 0x02)
    hdr.use_eph = bool(scod & 0x04)
    prog = seg[1]
    if prog != 0:
        raise ValueError("JPEG 2000 progression order unsupported (LRCP only)")
    hdr.layers = struct.unpack(">H", seg[2:4])[0]
    if not (1 <= hdr.layers <= 1000):
        raise ValueError("bad layer count")
    hdr.mct = seg[4]
    if hdr.mct not in (0, 1):
        raise ValueError("bad MCT flag")
    hdr.levels = seg[5]
    if hdr.levels > 32:
        raise ValueError("too many decomposition levels")
    xcb = (seg[6] & 0x0F) + 2
    ycb = (seg[7] & 0x0F) + 2
    if xcb > 10 or ycb > 10 or xcb + ycb > 12:
        raise ValueError("bad code-block size")
    hdr.cbw, hdr.cbh = 1 << xcb, 1 << ycb
    if seg[8] != 0:
        raise ValueError(
            "JPEG 2000 code-block style unsupported (default only)")
    if seg[9] == 0:
        hdr.reversible = False
    elif seg[9] == 1:
        hdr.reversible = True
    else:
        raise ValueError("bad wavelet transform id")


def _parse_qcd(seg: bytes, hdr: _Header) -> None:
    if len(seg) < 1:
        raise ValueError("QCD too short")
    sqcd = seg[0]
    hdr.qstyle = sqcd & 0x1F
    hdr.guard = sqcd >> 5
    if hdr.qstyle == 0:
        hdr.qvals = list(seg[1:])
    elif hdr.qstyle in (1, 2):
        if (len(seg) - 1) % 2:
            raise ValueError("QCD value list truncated")
        hdr.qvals = [struct.unpack(">H", seg[i:i + 2])[0]
                     for i in range(1, len(seg), 2)]
        if hdr.qstyle == 1 and len(hdr.qvals) != 1:
            raise ValueError("derived QCD must carry one value")
    else:
        raise ValueError("unknown quantization style")


def _validate_header(hdr: _Header) -> None:
    for f in ("xsiz", "levels", "qstyle"):
        if not hasattr(hdr, f) or getattr(hdr, f, None) is None:
            raise ValueError("JPEG 2000 main header incomplete")
    if hdr.reversible and hdr.qstyle != 0:
        raise ValueError("5/3 transform requires no-quantization QCD")
    if not hdr.reversible and hdr.qstyle == 0:
        raise ValueError("9/7 transform requires scalar quantization QCD")
    need = 3 * hdr.levels + 1
    if hdr.qstyle in (0, 2) and len(hdr.qvals) < need:
        raise ValueError("QCD list shorter than subband count")


def _parse_codestream(data: bytes):
    """-> (hdr, {tile_index: body bytes})."""
    if len(data) < 4 or struct.unpack(">H", data[:2])[0] != _SOC:
        raise ValueError("not a JPEG 2000 codestream")
    hdr = _Header()
    for f in hdr.__slots__:
        setattr(hdr, f, None)
    pos = 2
    # ---- main header
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated main header")
        marker = struct.unpack(">H", data[pos:pos + 2])[0]
        pos += 2
        if marker == _SOT:
            break
        if marker in _REJECT_MAIN:
            raise ValueError(
                f"JPEG 2000 {_REJECT_MAIN[marker]} unsupported")
        if 0xFF30 <= marker <= 0xFF3F:
            # segmentless reserved markers (T.800 Table A.1): no Lseg
            # follows, so skip BEFORE the length read below
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated marker segment")
        lseg = struct.unpack(">H", data[pos:pos + 2])[0]
        if lseg < 2 or pos + lseg > len(data):
            raise ValueError("bad marker segment length")
        seg = data[pos + 2:pos + lseg]
        pos += lseg
        if marker == _SIZ:
            _parse_siz(seg, hdr)
        elif marker == _COD:
            _parse_cod(seg, hdr)
        elif marker == _QCD:
            _parse_qcd(seg, hdr)
        elif marker in (_COM, _TLM, _PLM, _CRG):
            pass
        else:
            pass  # unknown with explicit length: skip
    _validate_header(hdr)
    ntx = _ceil_div(hdr.xsiz, hdr.xtsiz)
    nty = _ceil_div(hdr.ysiz, hdr.ytsiz)
    ntiles = ntx * nty
    if ntiles > 65535:
        raise ValueError("too many tiles")
    parts: dict[int, list[tuple[int, bytes]]] = {}
    # ---- tile-parts (marker == SOT here)
    while True:
        sot_start = pos - 2
        if pos + 10 > len(data):
            raise ValueError("truncated SOT")
        lsot, isot, psot, tpsot, _tnsot = struct.unpack(
            ">HHIBB", data[pos:pos + 10])
        if lsot != 10:
            raise ValueError("bad Lsot")
        if isot >= ntiles:
            raise ValueError("tile index out of range")
        pos += 10
        # tile-part header: skip COM/PLT, reject style changes
        while True:
            if pos + 2 > len(data):
                raise ValueError("truncated tile-part header")
            marker = struct.unpack(">H", data[pos:pos + 2])[0]
            pos += 2
            if marker == _SOD:
                break
            if marker in (_COD, _COC, _QCD, _QCC, _RGN, _POC):
                raise ValueError(
                    "JPEG 2000 per-tile coding/quantization changes "
                    "unsupported")
            if marker == _PPT:
                raise ValueError("JPEG 2000 PPT packed headers unsupported")
            if 0xFF30 <= marker <= 0xFF3F:
                continue  # segmentless reserved markers: no Lseg
            if pos + 2 > len(data):
                raise ValueError("truncated tile-part marker")
            lseg = struct.unpack(">H", data[pos:pos + 2])[0]
            if lseg < 2 or pos + lseg > len(data):
                raise ValueError("bad tile-part marker length")
            pos += lseg
        if psot == 0:
            if len(data) < 2 or struct.unpack(">H", data[-2:])[0] != _EOC:
                raise ValueError("Psot=0 requires terminal EOC")
            body = data[pos:len(data) - 2]
            parts.setdefault(isot, []).append((tpsot, body))
            pos = len(data) - 2
        else:
            end = sot_start + psot
            if end > len(data) or end < pos:
                raise ValueError("bad Psot")
            parts.setdefault(isot, []).append((tpsot, data[pos:end]))
            pos = end
        if pos + 2 > len(data):
            raise ValueError("missing EOC")
        marker = struct.unpack(">H", data[pos:pos + 2])[0]
        pos += 2
        if marker == _EOC:
            break
        if marker != _SOT:
            raise ValueError("unexpected marker between tile-parts")
    tiles = {}
    for t, lst in parts.items():
        lst.sort(key=lambda e: e[0])
        tiles[t] = b"".join(b for _, b in lst)
    return hdr, tiles


# --------------------------------------------------------------- decode
def _tile_bands(hdr: _Header, tx0, ty0, tx1, ty1):
    """[comp][res] -> [_Band] structure for one tile."""
    comps = []
    for _c in range(hdr.ncomp):
        res = []
        for r in range(hdr.levels + 1):
            bands = []
            orients = (0,) if r == 0 else (1, 2, 3)
            for o in orients:
                coords = _band_coords(tx0, ty0, tx1, ty1, hdr.levels, r, o)
                mb, delta = _band_quant(hdr.qstyle, hdr.guard, hdr.qvals,
                                        hdr.levels, r, o, hdr.reversible)
                if mb < 0 or mb > _MAX_PLANES:
                    raise ValueError("JPEG 2000 Mb out of range")
                bands.append(_Band(o, coords, mb, delta, hdr.cbw, hdr.cbh))
            res.append(bands)
        comps.append(res)
    return comps


def _band_array(band: _Band, reversible: bool) -> np.ndarray:
    h, w = band.y1 - band.y0, band.x1 - band.x0
    dt = np.int64 if reversible else np.float64
    arr = np.zeros((max(h, 0), max(w, 0)), dtype=dt)
    for blk in band.blocks:
        bw, bh = blk.x1 - blk.x0, blk.y1 - blk.y0
        planes = band.mb - blk.zbp if blk.seen else 0
        mag, sgn = _t1_decode(bytes(blk.data), bw, bh, band.orient,
                              planes, blk.npasses)
        m = np.array(mag, dtype=np.int64).reshape(bh + 2, bw + 2)[1:-1, 1:-1]
        s = np.frombuffer(bytes(sgn), dtype=np.uint8).reshape(
            bh + 2, bw + 2)[1:-1, 1:-1].astype(np.int64)
        if reversible:
            vals = m * (1 - 2 * s)
        else:
            # midpoint reconstruction (E.1.1.2 with r = 1/2)
            vals = (m + 0.5 * (m > 0)) * band.delta * (1 - 2 * s)
        arr[blk.y0 - band.y0:blk.y1 - band.y0,
            blk.x0 - band.x0:blk.x1 - band.x0] = vals
    return arr


def _decode_tile(hdr: _Header, body: bytes, tx0, ty0, tx1, ty1):
    comps = _tile_bands(hdr, tx0, ty0, tx1, ty1)
    pos = 0
    for layer in range(hdr.layers):
        for r in range(hdr.levels + 1):
            for c in range(hdr.ncomp):
                pos = _read_packet(body, pos, comps[c][r], layer,
                                   hdr.use_sop, hdr.use_eph)
    planes_out = []
    for c in range(hdr.ncomp):
        a = _band_array(comps[c][0][0], hdr.reversible)
        for r in range(1, hdr.levels + 1):
            lvl = hdr.levels - r  # scale of the synthesized output
            u0, u1 = _ceil_div(tx0, 1 << lvl), _ceil_div(tx1, 1 << lvl)
            v0, v1 = _ceil_div(ty0, 1 << lvl), _ceil_div(ty1, 1 << lvl)
            hl, lh, hh = (_band_array(b, hdr.reversible)
                          for b in comps[c][r])
            a = _inv_2d(a, hl, lh, hh, u0, v0, v1 - v0, u1 - u0,
                        hdr.reversible)
        planes_out.append(a)
    if hdr.ncomp == 3 and hdr.mct:
        y, cb, cr = planes_out
        if hdr.reversible:
            g = y - (cb + cr) // 4
            planes_out = [cr + g, g, cb + g]
        else:
            planes_out = [y + 1.402 * cr,
                          y - 0.344136 * cb - 0.714136 * cr,
                          y + 1.772 * cb]
    out = []
    for p in planes_out:
        if hdr.reversible:
            out.append(np.clip(p + 128, 0, 255).astype(np.uint8))
        else:
            out.append(np.clip(np.rint(p + 128.0), 0, 255).astype(np.uint8))
    return out


_JP2_SIG = b"\x00\x00\x00\x0cjP  \r\n\x87\n"


def _unwrap_jp2(data: bytes) -> bytes:
    """Raw codestream passes through; a JP2 box family is walked to
    its jp2c box (I.5)."""
    if data[:4] == b"\xff\x4f\xff\x51":
        return data
    if data[:12] != _JP2_SIG:
        raise ValueError("not a JPEG 2000 payload")
    pos = 12
    while pos + 8 <= len(data):
        lbox = struct.unpack(">I", data[pos:pos + 4])[0]
        btype = data[pos + 4:pos + 8]
        hdr = 8
        if lbox == 1:
            if pos + 16 > len(data):
                raise ValueError("truncated JP2 XLBox")
            lbox = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
            hdr = 16
        elif lbox == 0:
            lbox = len(data) - pos
        if lbox < hdr or pos + lbox > len(data):
            raise ValueError("bad JP2 box length")
        if btype == b"jp2c":
            return data[pos + hdr:pos + lbox]
        pos += lbox
    raise ValueError("JP2 container has no codestream box")


def decode_jpeg2000(data: bytes) -> np.ndarray:
    """JP2 file or raw codestream -> uint8 image, (H, W) grayscale or
    (H, W, 3) RGB. Reference parity: cv2.imdecode accepts .jp2 via
    OpenJPEG (``/root/reference/ocr/operators.py:41-46``)."""
    cs = _unwrap_jp2(bytes(data))
    hdr, tiles = _parse_codestream(cs)
    ntx = _ceil_div(hdr.xsiz, hdr.xtsiz)
    nty = _ceil_div(hdr.ysiz, hdr.ytsiz)
    out = np.zeros((hdr.ysiz, hdr.xsiz, hdr.ncomp), dtype=np.uint8)
    for t in range(ntx * nty):
        if t not in tiles:
            raise ValueError(f"JPEG 2000 tile {t} missing from codestream")
        px, qy = t % ntx, t // ntx
        tx0, ty0 = px * hdr.xtsiz, qy * hdr.ytsiz
        tx1 = min(tx0 + hdr.xtsiz, hdr.xsiz)
        ty1 = min(ty0 + hdr.ytsiz, hdr.ysiz)
        planes = _decode_tile(hdr, tiles[t], tx0, ty0, tx1, ty1)
        for c, p in enumerate(planes):
            out[ty0:ty1, tx0:tx1, c] = p
    return out[:, :, 0] if hdr.ncomp == 1 else out


# --------------------------------------------------------------- encode
def _split_layers(blk: _Cblk, layers: int) -> None:
    """Assign tier-1 passes/bytes to quality layers. Single layer gets
    everything; with two layers, shallow blocks are first included in
    layer 1 (exercising late first-inclusion on decode) and deep
    blocks split near the byte midpoint. Layer boundaries are
    structural truncation points, not rate-allocated ones."""
    n = blk.npasses
    if n == 0:
        blk.incl_layer = layers
        blk.layer_parts = [(0, b"")] * layers
        return
    if layers == 1:
        blk.incl_layer = 0
        blk.layer_parts = [(n, blk.chunk)]
        return
    if layers == 2:
        if n <= 4:
            blk.incl_layer = 1
            blk.layer_parts = [(0, b""), (n, blk.chunk)]
            return
        half = len(blk.chunk) // 2
        k = min(range(n), key=lambda i: abs(blk.pass_ends[i] - half)) + 1
        k = max(1, min(n - 1, k))
        cut = blk.pass_ends[k - 1]
        blk.incl_layer = 0
        blk.layer_parts = [(k, blk.chunk[:cut]), (n - k, blk.chunk[cut:])]
        return
    # general: first layer carries everything, the rest are empty
    blk.incl_layer = 0
    blk.layer_parts = [(n, blk.chunk)] + [(0, b"")] * (layers - 1)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_jpeg2000(img: np.ndarray, reversible: bool = True,
                    levels: int | None = None,
                    tile_size: tuple[int, int] | None = None,
                    cb_size: tuple[int, int] = (64, 64),
                    layers: int = 1, mct: bool = True,
                    delta: float = 0.5,
                    quant_style: str = "expounded",
                    use_sop: bool = False, use_eph: bool = False) -> bytes:
    """uint8 (H, W) or (H, W, 3) -> raw JPEG 2000 codestream.
    reversible=True is exact (5/3 + RCT); reversible=False uses 9/7 +
    ICT with a uniform per-band step ``delta`` (expounded or derived
    signalling)."""
    img = np.asarray(img)
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_jpeg2000 expects a uint8 image")
    if img.ndim == 3 and img.shape[2] != 3:
        raise ValueError("encode_jpeg2000 expects 1 or 3 channels")
    h, w = img.shape[:2]
    if h < 1 or w < 1 or h * w > MAX_J2K_PIXELS:
        raise ValueError("image size out of range")
    ncomp = 1 if img.ndim == 2 else 3
    comps_full = [img.astype(np.int64) - 128] if ncomp == 1 else [
        img[:, :, c].astype(np.int64) - 128 for c in range(3)]
    use_mct = bool(mct) and ncomp == 3
    if use_mct:
        r_, g_, b_ = comps_full
        if reversible:
            y_ = (r_ + 2 * g_ + b_) // 4
            comps_full = [y_, b_ - g_, r_ - g_]
        else:
            rf, gf, bf = (c.astype(np.float64) for c in comps_full)
            comps_full = [
                0.299 * rf + 0.587 * gf + 0.114 * bf,
                -0.16875 * rf - 0.33126 * gf + 0.5 * bf,
                0.5 * rf - 0.41869 * gf - 0.08131 * bf]
    if not reversible:
        comps_full = [c.astype(np.float64) for c in comps_full]
    xt, yt = tile_size if tile_size else (w, h)
    if xt < 1 or yt < 1:
        raise ValueError("bad tile size")
    if levels is None:
        levels = 5
        while levels > 0 and (1 << levels) > max(1, min(w, h, xt, yt)):
            levels -= 1
    if not (0 <= levels <= 32):
        raise ValueError("bad level count")
    cbw, cbh = cb_size
    xcb, ycb = cbw.bit_length() - 1, cbh.bit_length() - 1
    if (1 << xcb) != cbw or (1 << ycb) != cbh or not (
            2 <= xcb <= 10 and 2 <= ycb <= 10 and xcb + ycb <= 12):
        raise ValueError("bad code-block size")
    if layers not in (1, 2):
        raise ValueError("encoder emits 1 or 2 layers")
    ntx, nty = _ceil_div(w, xt), _ceil_div(h, yt)
    bidx = _band_indices(levels)
    # ---- quantizer steps (data-independent)
    deltas = {}
    if not reversible:
        if quant_style == "expounded":
            qv = []
            for r, o in bidx:
                eps, mu, actual = _quant_params_for_delta(
                    delta, 8 + _GAIN[o])
                deltas[(r, o)] = actual
                qv.append((eps << 11) | mu)
            qstyle = 2
        elif quant_style == "derived":
            eps0, mu0, _ = _quant_params_for_delta(delta, 8)
            for r, o in bidx:
                lev = levels if r == 0 else levels - r + 1
                eps = eps0 - levels + lev
                if eps < 0 or eps > 31:
                    raise ValueError("derived exponent out of range")
                deltas[(r, o)] = 2.0 ** (8 + _GAIN[o] - eps) * (
                    1.0 + mu0 / 2048.0)
            qv = [(eps0 << 11) | mu0]
            qstyle = 1
        else:
            raise ValueError("quant_style must be expounded or derived")
    # ---- pass 1: DWT + quantize every tile, track per-band max bits
    coeff = {}  # (tile, comp, r, o) -> (mag int64, sgn uint8)
    need_bits = [0] * len(bidx)
    for t in range(ntx * nty):
        px, qy = t % ntx, t // ntx
        tx0, ty0 = px * xt, qy * yt
        tx1, ty1 = min(tx0 + xt, w), min(ty0 + yt, h)
        for c in range(ncomp):
            a = comps_full[c][ty0:ty1, tx0:tx1]
            bands = {}
            for l in range(1, levels + 1):
                u0 = _ceil_div(tx0, 1 << (l - 1))
                v0 = _ceil_div(ty0, 1 << (l - 1))
                ll, hl, lh, hh = _fwd_2d(a, u0, v0, reversible)
                r = levels - l + 1
                bands[(r, 1)], bands[(r, 2)], bands[(r, 3)] = hl, lh, hh
                a = ll
            bands[(0, 0)] = a
            for i, (r, o) in enumerate(bidx):
                arr = bands[(r, o)]
                exp_coords = _band_coords(tx0, ty0, tx1, ty1, levels, r, o)
                if arr.shape != (exp_coords[3] - exp_coords[1],
                                 exp_coords[2] - exp_coords[0]):
                    raise AssertionError("band geometry mismatch")
                if reversible:
                    mag = np.abs(arr)
                    sgn = (arr < 0).astype(np.uint8)
                else:
                    mag = np.floor(np.abs(arr) / deltas[(r, o)]).astype(
                        np.int64)
                    sgn = (arr < 0).astype(np.uint8)
                coeff[(t, c, r, o)] = (mag, sgn)
                if mag.size:
                    mx = int(mag.max())
                    need_bits[i] = max(need_bits[i], mx.bit_length())
    # ---- exponents / guard bits
    if reversible:
        guard = 2
        qv = []
        mbs = []
        for i, _ in enumerate(bidx):
            eps = max(1, need_bits[i] - 1)
            if eps > 31:
                raise ValueError("coefficient dynamic range too wide")
            qv.append(eps << 3)
            mbs.append(guard + eps - 1)
        qstyle = 0
    else:
        guard = 2
        for i, (r, o) in enumerate(bidx):
            eps = (qv[i] >> 11) if qstyle == 2 else (
                (qv[0] >> 11) - levels
                + (levels if r == 0 else levels - r + 1))
            guard = max(guard, need_bits[i] - eps + 1)
        if guard > 7:
            raise ValueError("quantizer step too fine for 3-bit guard field")
        mbs = []
        for i, (r, o) in enumerate(bidx):
            eps = (qv[i] >> 11) if qstyle == 2 else (
                (qv[0] >> 11) - levels
                + (levels if r == 0 else levels - r + 1))
            mbs.append(guard + eps - 1)
    # ---- pass 2: tier-1 + packets per tile
    tile_bodies = []
    seq = 0
    for t in range(ntx * nty):
        px, qy = t % ntx, t // ntx
        tx0, ty0 = px * xt, qy * yt
        tx1, ty1 = min(tx0 + xt, w), min(ty0 + yt, h)
        comps = []
        for c in range(ncomp):
            res = []
            for r in range(levels + 1):
                bands = []
                orients = (0,) if r == 0 else (1, 2, 3)
                for o in orients:
                    i = bidx.index((r, o))
                    coords = _band_coords(tx0, ty0, tx1, ty1, levels, r, o)
                    band = _Band(o, coords, mbs[i],
                                 deltas.get((r, o)), cbw, cbh)
                    magf, sgnf = coeff[(t, c, r, o)]
                    for blk in band.blocks:
                        bw_, bh_ = blk.x1 - blk.x0, blk.y1 - blk.y0
                        w2 = bw_ + 2
                        mg = [0] * ((bh_ + 2) * w2)
                        sg = bytearray((bh_ + 2) * w2)
                        sub_m = magf[blk.y0 - band.y0:blk.y1 - band.y0,
                                     blk.x0 - band.x0:blk.x1 - band.x0]
                        sub_s = sgnf[blk.y0 - band.y0:blk.y1 - band.y0,
                                     blk.x0 - band.x0:blk.x1 - band.x0]
                        mx = 0
                        for yy in range(bh_):
                            base = (yy + 1) * w2 + 1
                            mg[base:base + bw_] = [
                                int(v) for v in sub_m[yy]]
                            sg[base:base + bw_] = bytes(
                                int(v) for v in sub_s[yy])
                            rm = int(sub_m[yy].max()) if bw_ else 0
                            mx = rm if rm > mx else mx
                        planes = mx.bit_length()
                        if planes > mbs[i]:
                            raise AssertionError("planes exceed Mb")
                        blk.zbp = mbs[i] - planes
                        blk.chunk, blk.npasses, blk.pass_ends = _t1_encode(
                            mg, sg, bw_, bh_, planes, o)
                        _split_layers(blk, layers)
                    if band.blocks:
                        lw, lh = band.incl_tree.levels[0]
                        incl_vals = np.zeros((lh, lw), np.int32)
                        zbp_vals = np.zeros((lh, lw), np.int32)
                        for blk in band.blocks:
                            incl_vals[blk.gy, blk.gx] = blk.incl_layer
                            zbp_vals[blk.gy, blk.gx] = blk.zbp
                        band.incl_tree.set_values(incl_vals)
                        band.zbp_tree.set_values(zbp_vals)
                    bands.append(band)
                res.append(bands)
            comps.append(res)
        body = bytearray()
        for layer in range(layers):
            for r in range(levels + 1):
                for c in range(ncomp):
                    body += _write_packet(comps[c][r], layer,
                                          use_sop, use_eph, seq)
                    seq += 1
        tile_bodies.append(bytes(body))
    # ---- markers
    out = bytearray(struct.pack(">H", _SOC))
    siz = struct.pack(">HIIIIIIIIH", 0, w, h, 0, 0, xt, yt, 0, 0, ncomp)
    siz += b"\x07\x01\x01" * ncomp
    out += _seg(_SIZ, siz)
    scod = (0x02 if use_sop else 0) | (0x04 if use_eph else 0)
    cod = struct.pack(">BBHBBBBBB", scod, 0, layers,
                      1 if use_mct else 0, levels, xcb - 2, ycb - 2, 0,
                      1 if reversible else 0)
    out += _seg(_COD, cod)
    if qstyle == 0:
        qcd = bytes([(guard << 5) | 0]) + bytes(qv)
    else:
        qcd = bytes([(guard << 5) | qstyle]) + b"".join(
            struct.pack(">H", v) for v in qv)
    out += _seg(_QCD, qcd)
    for t, body in enumerate(tile_bodies):
        psot = 14 + len(body)
        out += struct.pack(">HHHIBB", _SOT, 10, t, psot, 0, 1)
        out += struct.pack(">H", _SOD)
        out += body
    out += struct.pack(">H", _EOC)
    return bytes(out)


def encode_jp2(img: np.ndarray, **kw) -> bytes:
    """Wrap encode_jpeg2000 output in the JP2 box family (I.4)."""
    cs = encode_jpeg2000(img, **kw)
    ncomp = 1 if np.asarray(img).ndim == 2 else 3
    h, w = np.asarray(img).shape[:2]

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + btype + payload

    ftyp = box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    ihdr = box(b"ihdr", struct.pack(">IIHBBBB", h, w, ncomp, 7, 7, 0, 0))
    colr = box(b"colr", struct.pack(">BBBI", 1, 0, 0,
                                    16 if ncomp == 3 else 17))
    jp2h = box(b"jp2h", ihdr + colr)
    return _JP2_SIG + ftyp + jp2h + box(b"jp2c", cs)
