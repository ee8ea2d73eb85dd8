"""Vorbis I audio decode (and a minimal encoder for round trips).

Covers the full audio-packet machinery of the Vorbis I specification:
LSB-first bit unpack, codebook huffman + VQ lookup (types 0/1/2),
floor type 1 (piecewise-linear dB curve with the spec's integer
render_line), residue types 0/1/2, square-polar channel coupling,
window/lap rules for mixed block sizes, and an FFT-based IMDCT.
Floor type 0 (LSP) parses but raises a NAMED NotImplementedError —
no mainstream encoder has emitted it since 2002, and a loud rejection
beats a silently-wrong curve.

Pinning strategy (no reference Vorbis decoder is available to
test against):
- every integer/structural algorithm (codeword assignment, neighbor
  prediction, render_line, residue partitioning) is tested against
  independent direct-from-spec-pseudocode models in tests/test_vorbis.py,
  plus the spec's own worked huffman example as literals;
- the fast IMDCT is asserted equal to the literal spec summation
  formula at every legal block size;
- the in-repo encoder emits real header+audio packets through real
  Ogg framing, and decoded spectra/PCM are compared to an independent
  synthesis model, so the bitstream layer is round-trip-pinned;
- digital silence is a fixed point of the whole linear chain, so
  silence streams have EXACT expected output regardless of float
  detail.

The one literal table the spec carries (floor1's inverse-dB lookup)
is geometric: 256 steps spanning 140 dB, table[i] =
10^(7*(i-255)/256). The spec's printed float32 literals (1.0649863e-07,
1.1341951e-07, ...) were generated with truncated decimal constants
and float arithmetic, so the clean formula lands within a few float32
ULP of them (≤1e-6 relative, pinned in tests) rather than bit-exact;
the table is generated here rather than transcribed from memory.

Reference behavior: /root/reference/ocr/operators.py:41-46 (any
binary payload its decoders accept); SURVEY.md §2.3 S3.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

from ragflow_ocr_spark.kernels.ogg import (
    last_granule,
    parse_ogg_packets,
    write_ogg_pages,
)

MAX_DECODE_SAMPLES = 1 << 26  # same untrusted-payload ceiling as WAV/MP3


class _EOP(Exception):
    """End-of-packet mid-read. Per spec this is NOT an error inside
    floor/residue decode of an audio packet (the remainder is
    unused/zero); anywhere else it becomes a ValueError."""


def _codec_errors(fn):
    @functools.wraps(fn)
    def inner(*a, **kw):
        try:
            return fn(*a, **kw)
        except (
            struct.error,
            IndexError,
            KeyError,
            OverflowError,
            ZeroDivisionError,
            _EOP,
        ) as e:
            raise ValueError(f"malformed vorbis: {e!r}") from e

    return inner


def ilog(x: int) -> int:
    """Spec ilog: bits needed for x (ilog(0)=0, negatives 0)."""
    return max(x, 0).bit_length()


# ---------------------------------------------------------------- bits

class _Bits:
    """LSB-first bit reader over one packet (Vorbis convention:
    fields fill from the LSB of each byte upward)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        pos = self.pos
        if pos + n > self.nbits:
            raise _EOP()
        val = 0
        got = 0
        data = self.data
        while got < n:
            byte = data[pos >> 3]
            off = pos & 7
            take = min(8 - off, n - got)
            val |= ((byte >> off) & ((1 << take) - 1)) << got
            got += take
            pos += take
        self.pos = pos
        return val

    def read_signed32(self) -> int:
        v = self.read(32)
        return v - (1 << 32) if v & (1 << 31) else v


class _BitWriter:
    """LSB-first bit writer (encoder side)."""

    def __init__(self):
        self.buf = bytearray()
        self.bit = 0

    def write(self, val: int, n: int):
        for i in range(n):
            if self.bit == 0:
                self.buf.append(0)
            if (val >> i) & 1:
                self.buf[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_codeword(self, code: int, length: int):
        # huffman codewords are consumed MSB-of-codeword first
        for b in range(length - 1, -1, -1):
            self.write((code >> b) & 1, 1)

    def bytes(self) -> bytes:
        return bytes(self.buf)


# ----------------------------------------------------------- codebooks

def float32_unpack(x: int) -> float:
    """Vorbis custom float: 21-bit mantissa, 10-bit exponent, sign."""
    mantissa = x & 0x1FFFFF
    exponent = (x >> 21) & 0x3FF
    if x & 0x80000000:
        mantissa = -mantissa
    return float(mantissa) * 2.0 ** (exponent - 788)


def float32_pack(v: float) -> int:
    """Inverse of float32_unpack for exactly-representable values
    (encoder side; raises if the value doesn't round-trip)."""
    sign = 1 if v < 0 else 0
    m = abs(v)
    exponent = 788
    while m and m != int(m) and exponent > 0:
        m *= 2.0
        exponent -= 1
    while m and int(m) & 1 == 0 and exponent < 1023 and m >= 2:
        m /= 2.0
        exponent += 1
    mantissa = int(m)
    if mantissa > 0x1FFFFF:
        raise ValueError("float not packable")
    x = (sign << 31) | (exponent << 21) | mantissa
    if float32_unpack(x) != v:
        raise ValueError(f"float {v} does not round-trip")
    return x


def assign_codewords(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Spec codeword assignment: each used entry, in order, takes the
    numerically lowest unused codeword of its length. Returns
    entry -> (codeword, length). Raises on over/under-specified trees
    (except the single-used-entry special case)."""
    used = [(e, l) for e, l in enumerate(lengths) if l > 0]
    if not used:
        raise ValueError("codebook with no used entries")
    if len(used) == 1:
        e, l = used[0]
        return {e: (0, l)}
    # free subtree roots as (value-left-aligned-to-32, depth, code)
    free = [(0, 0, 0)]  # whole tree
    codes: dict[int, tuple[int, int]] = {}
    for e, l in used:
        # smallest left-aligned free root shallow enough for length l
        best = None
        for idx, (la, d, c) in enumerate(free):
            if d <= l and (best is None or la < free[best][0]):
                best = idx
        if best is None:
            raise ValueError("overspecified codebook tree")
        la, d, c = free.pop(best)
        code = c << (l - d)
        codes[e] = (code, l)
        # freed right-siblings along the all-zeros descent path
        for k in range(d + 1, l + 1):
            sib = ((c << (k - d)) | 1) if k == d + 1 else ((code >> (l - k)) | 1)
            free.append((sib << (32 - k), k, sib))
    if free:
        raise ValueError("underspecified codebook tree")
    return codes


class _Codebook:
    __slots__ = ("dims", "entries", "lengths", "decode_map", "vq",
                 "lookup_type", "codes")

    def __init__(self, dims, entries, lengths, lookup_type, vq):
        self.dims = dims
        self.entries = entries
        self.lengths = lengths
        self.lookup_type = lookup_type
        self.vq = vq  # (entries, dims) float array or None
        self.codes = assign_codewords(lengths)
        self.decode_map = {
            (l, code): e for e, (code, l) in self.codes.items()
        }

    def decode_scalar(self, bits: _Bits) -> int:
        acc = 0
        dm = self.decode_map
        for depth in range(1, 33):
            acc = (acc << 1) | bits.read(1)
            hit = dm.get((depth, acc))
            if hit is not None:
                return hit
        raise ValueError("codeword longer than 32 bits")

    def decode_vq(self, bits: _Bits) -> np.ndarray:
        if self.vq is None:
            raise ValueError("codebook used in VQ context without lookup")
        return self.vq[self.decode_scalar(bits)]


def _parse_codebook(bits: _Bits) -> _Codebook:
    if bits.read(24) != 0x564342:
        raise ValueError("codebook sync lost")
    dims = bits.read(16)
    entries = bits.read(24)
    if entries > (1 << 20):
        raise ValueError("codebook entry count exceeds ceiling")
    ordered = bits.read(1)
    lengths = [0] * entries
    if not ordered:
        sparse = bits.read(1)
        for e in range(entries):
            if sparse:
                if bits.read(1):
                    lengths[e] = bits.read(5) + 1
            else:
                lengths[e] = bits.read(5) + 1
    else:
        cur_len = bits.read(5) + 1
        cur = 0
        while cur < entries:
            num = bits.read(ilog(entries - cur))
            if cur + num > entries:
                raise ValueError("ordered codebook overrun")
            for e in range(cur, cur + num):
                lengths[e] = cur_len
            cur += num
            cur_len += 1
            if cur_len > 32:
                raise ValueError("ordered codebook length overflow")
    lookup_type = bits.read(4)
    vq = None
    if lookup_type in (1, 2):
        minimum = float32_unpack(bits.read(32))
        delta = float32_unpack(bits.read(32))
        value_bits = bits.read(4) + 1
        sequence_p = bits.read(1)
        if lookup_type == 1:
            if dims == 0:
                raise ValueError("zero-dimension VQ codebook")
            r = 0
            while (r + 1) ** dims <= entries:
                r += 1
            n_mult = r
        else:
            n_mult = entries * dims
            r = 0
        mults = [bits.read(value_bits) for _ in range(n_mult)]
        vq = np.zeros((entries, dims), dtype=np.float64)
        for e in range(entries):
            last = 0.0
            if lookup_type == 1:
                idiv = 1
                for j in range(dims):
                    off = (e // idiv) % r
                    vq[e, j] = mults[off] * delta + minimum + last
                    if sequence_p:
                        last = vq[e, j]
                    idiv *= r
            else:
                for j in range(dims):
                    vq[e, j] = mults[e * dims + j] * delta + minimum + last
                    if sequence_p:
                        last = vq[e, j]
    elif lookup_type != 0:
        raise ValueError(f"reserved codebook lookup type {lookup_type}")
    return _Codebook(dims, entries, lengths, lookup_type, vq)


# -------------------------------------------------------------- floor1

# 256 geometric steps spanning exactly 140 dB; see module docstring.
INVERSE_DB_TABLE = (10.0 ** (7.0 * (np.arange(256) - 255) / 256.0)).astype(
    np.float64
)

_FLOOR1_RANGES = (256, 128, 86, 64)


class _Floor1:
    __slots__ = (
        "partitions", "class_list", "class_dims", "class_subs",
        "class_masterbooks", "subclass_books", "multiplier",
        "rangebits", "xs", "sorted_idx",
    )

    def __init__(self, bits: _Bits, books: list[_Codebook]):
        self.partitions = bits.read(5)
        self.class_list = [bits.read(4) for _ in range(self.partitions)]
        n_classes = (max(self.class_list) + 1) if self.class_list else 0
        self.class_dims = []
        self.class_subs = []
        self.class_masterbooks = []
        self.subclass_books = []
        for _ in range(n_classes):
            dim = bits.read(3) + 1
            sub = bits.read(2)
            master = bits.read(8) if sub else -1
            if master >= len(books):
                raise ValueError("floor1 masterbook out of range")
            sbooks = []
            for _ in range(1 << sub):
                b = bits.read(8) - 1
                if b >= len(books):
                    raise ValueError("floor1 subclass book out of range")
                sbooks.append(b)
            self.class_dims.append(dim)
            self.class_subs.append(sub)
            self.class_masterbooks.append(master)
            self.subclass_books.append(sbooks)
        self.multiplier = bits.read(2) + 1
        self.rangebits = bits.read(4)
        xs = [0, 1 << self.rangebits]
        for p in range(self.partitions):
            for _ in range(self.class_dims[self.class_list[p]]):
                xs.append(bits.read(self.rangebits))
        if len(set(xs)) != len(xs):
            raise ValueError("floor1 X values not unique")
        if len(xs) > 65:
            raise ValueError("floor1 point count exceeds 65")
        self.xs = xs
        self.sorted_idx = sorted(range(len(xs)), key=lambda i: xs[i])

    def decode(self, bits: _Bits, books: list[_Codebook], n2: int):
        """Audio-packet floor curve for one channel, or None if the
        channel is unused this frame."""
        if not bits.read(1):
            return None
        range_ = _FLOOR1_RANGES[self.multiplier - 1]
        ybits = ilog(range_ - 1)
        ys = [bits.read(ybits), bits.read(ybits)]
        for p in range(self.partitions):
            cls = self.class_list[p]
            cbits = self.class_subs[cls]
            csub = (1 << cbits) - 1
            cval = 0
            if cbits:
                cval = books[self.class_masterbooks[cls]].decode_scalar(bits)
            for _ in range(self.class_dims[cls]):
                b = self.subclass_books[cls][cval & csub]
                cval >>= cbits
                ys.append(books[b].decode_scalar(bits) if b >= 0 else 0)
        return self.synthesize(ys, n2)

    def synthesize(self, ys: list[int], n2: int) -> np.ndarray:
        """Amplitude step2 prediction + integer line render + dB
        lookup (spec floor1 synthesis)."""
        range_ = _FLOOR1_RANGES[self.multiplier - 1]
        xs = self.xs
        n_pts = len(xs)
        final = [0] * n_pts
        step2 = [False] * n_pts
        final[0], final[1] = ys[0], ys[1]
        step2[0] = step2[1] = True
        for i in range(2, n_pts):
            lo = hi = None
            for k in range(i):
                if xs[k] < xs[i] and (lo is None or xs[k] > xs[lo]):
                    lo = k
                if xs[k] > xs[i] and (hi is None or xs[k] < xs[hi]):
                    hi = k
            pred = render_point(xs[lo], final[lo], xs[hi], final[hi], xs[i])
            val = ys[i]
            highroom = range_ - pred
            lowroom = pred
            room = 2 * min(highroom, lowroom)
            if val:
                step2[lo] = step2[hi] = step2[i] = True
                if val >= room:
                    fv = (val - lowroom + pred) if highroom > lowroom \
                        else (pred - val + highroom - 1)
                else:
                    fv = pred - ((val + 1) >> 1) if val & 1 \
                        else pred + (val >> 1)
            else:
                step2[i] = False
                fv = pred
            final[i] = min(max(fv, 0), range_ - 1)
        # render flagged points, sorted by X, at multiplier resolution
        out = np.zeros(n2, dtype=np.int64)
        first = self.sorted_idx[0]  # xs[first] == 0 by construction
        lx, ly = 0, final[first] * self.multiplier
        for i in self.sorted_idx[1:]:
            if not step2[i]:
                continue
            hx = xs[i]
            hy = final[i] * self.multiplier
            render_line(lx, ly, min(hx, n2), hy, hx, out)
            lx, ly = hx, hy
            if lx >= n2:
                break
        if lx < n2:
            out[lx:] = ly
        np.clip(out, 0, 255, out=out)
        return INVERSE_DB_TABLE[out]


def render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    """Spec render_point: truncate-toward-zero linear interpolation."""
    dy = y1 - y0
    adx = x1 - x0
    err = abs(dy) * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def render_line(x0: int, y0: int, x1: int, y1: int, true_x1: int,
                v: np.ndarray):
    """Spec render_line over [x0, x1) into v. The integer
    error-accumulation pseudocode is exactly truncate-toward-zero
    interpolation (pinned against the literal loop in tests), so it
    vectorizes. `true_x1` is the un-clamped segment end (slope
    denominator) — x1 may be clamped to n/2."""
    if x1 <= x0:
        return
    dy = y1 - y0
    adx = true_x1 - x0
    xs = np.arange(0, x1 - x0, dtype=np.int64)
    off = (abs(dy) * xs) // adx
    v[x0:x1] = y0 - off if dy < 0 else y0 + off


# ------------------------------------------------------------- residue

class _Residue:
    __slots__ = ("rtype", "begin", "end", "psize", "classifications",
                 "classbook", "cascade", "books")

    def __init__(self, rtype: int, bits: _Bits, books: list[_Codebook]):
        self.rtype = rtype
        self.begin = bits.read(24)
        self.end = bits.read(24)
        self.psize = bits.read(24) + 1
        self.classifications = bits.read(6) + 1
        self.classbook = bits.read(8)
        if self.classbook >= len(books):
            raise ValueError("residue classbook out of range")
        cb = books[self.classbook]
        if self.classifications ** cb.dims > cb.entries:
            raise ValueError("residue classbook too small")
        self.cascade = []
        for _ in range(self.classifications):
            low = bits.read(3)
            high = bits.read(5) if bits.read(1) else 0
            self.cascade.append((high << 3) | low)
        self.books = []
        for c in range(self.classifications):
            row = []
            for p in range(8):
                if self.cascade[c] & (1 << p):
                    b = bits.read(8)
                    if b >= len(books) or books[b].vq is None:
                        raise ValueError("residue book invalid")
                    row.append(b)
                else:
                    row.append(-1)
            self.books.append(row)

    def decode(self, bits: _Bits, books: list[_Codebook],
               do_decode: list[bool], actual_size: int) -> np.ndarray:
        """Residue vectors, shape (n_ch, actual_size). For type 2 the
        caller passes a single pseudo-channel of size ch*n/2."""
        n_ch = len(do_decode)
        vecs = np.zeros((n_ch, actual_size), dtype=np.float64)
        begin = min(self.begin, actual_size)
        end = min(self.end, actual_size)
        n_to_read = end - begin
        if n_to_read <= 0 or not any(do_decode):
            return vecs
        ptr = n_to_read // self.psize
        cb = books[self.classbook]
        classwords = cb.dims
        classifs = [
            [0] * (ptr + classwords) for _ in range(n_ch)
        ]
        try:
            for pass_ in range(8):
                pcount = 0
                while pcount < ptr:
                    if pass_ == 0:
                        for ch in range(n_ch):
                            if not do_decode[ch]:
                                continue
                            temp = cb.decode_scalar(bits)
                            for i in range(classwords - 1, -1, -1):
                                classifs[ch][pcount + i] = (
                                    temp % self.classifications
                                )
                                temp //= self.classifications
                    for _ in range(classwords):
                        if pcount >= ptr:
                            break
                        for ch in range(n_ch):
                            if not do_decode[ch]:
                                continue
                            c = classifs[ch][pcount]
                            b = self.books[c][pass_]
                            if b >= 0:
                                self._partition(
                                    bits, books[b], vecs[ch],
                                    begin + pcount * self.psize,
                                )
                        pcount += 1
        except _EOP:
            pass  # spec: partial residue stands, remainder is zero
        return vecs

    def _partition(self, bits: _Bits, book: _Codebook,
                   vec: np.ndarray, offset: int):
        dims = book.dims
        if self.rtype == 0:
            step = self.psize // dims
            for i in range(step):
                v = book.decode_vq(bits)
                vec[offset + i : offset + i + dims * step : step] += v
        else:  # types 1 and 2 share the sequential layout
            i = 0
            while i < self.psize:
                v = book.decode_vq(bits)
                vec[offset + i : offset + i + dims] += v
                i += dims


# ------------------------------------------------------ mapping / mode

class _Mapping:
    __slots__ = ("submaps", "coupling", "mux", "submap_floor",
                 "submap_residue")

    def __init__(self, bits: _Bits, channels: int, n_floors: int,
                 n_residues: int):
        self.submaps = (bits.read(4) + 1) if bits.read(1) else 1
        self.coupling = []
        if bits.read(1):
            steps = bits.read(8) + 1
            cbits = ilog(channels - 1)
            for _ in range(steps):
                m = bits.read(cbits)
                a = bits.read(cbits)
                if m == a or m >= channels or a >= channels:
                    raise ValueError("invalid coupling step")
                self.coupling.append((m, a))
        if bits.read(2):
            raise ValueError("mapping reserved bits nonzero")
        if self.submaps > 1:
            self.mux = [bits.read(4) for _ in range(channels)]
            if any(m >= self.submaps for m in self.mux):
                raise ValueError("mapping mux out of range")
        else:
            self.mux = [0] * channels
        self.submap_floor = []
        self.submap_residue = []
        for _ in range(self.submaps):
            bits.read(8)  # unused time configuration placeholder
            f = bits.read(8)
            r = bits.read(8)
            if f >= n_floors or r >= n_residues:
                raise ValueError("submap floor/residue out of range")
            self.submap_floor.append(f)
            self.submap_residue.append(r)


# ------------------------------------------------------------ windows

def vorbis_window(n: int) -> np.ndarray:
    """Full symmetric window for block size n (both slopes n/2)."""
    return _window_slope(n // 2)


@functools.lru_cache(maxsize=32)
def _window_slope(slope_n: int) -> np.ndarray:
    i = np.arange(slope_n, dtype=np.float64)
    return np.sin(
        0.5 * np.pi * np.sin((i + 0.5) / slope_n * 0.5 * np.pi) ** 2
    )


def inverse_couple(
    mv: np.ndarray, av: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Square-polar magnitude/angle inverse (spec §4.3.5):
    M>0,A>0 → (M, M−A); M>0,A≤0 → (M+A, M);
    M≤0,A>0 → (M, M+A); M≤0,A≤0 → (M−A, M)."""
    new_m = mv.copy()
    new_a = av.copy()
    pos_m = mv > 0
    pos_a = av > 0
    sel = pos_m & pos_a
    new_a[sel] = (mv - av)[sel]
    sel = pos_m & ~pos_a
    new_m[sel] = (mv + av)[sel]
    new_a[sel] = mv[sel]
    sel = ~pos_m & pos_a
    new_a[sel] = (mv + av)[sel]
    sel = ~pos_m & ~pos_a
    new_m[sel] = (mv - av)[sel]
    new_a[sel] = mv[sel]
    return new_m, new_a


def lapped_window(n: int, bs0: int, blockflag: int, prev_flag: int,
                  next_flag: int) -> np.ndarray:
    """Block window honoring the mixed-size lap rules: a long block
    next to a short one narrows the shared slope to the short block's
    half and centers it on the quarter points (spec window decode).
    Samples outside the slopes-and-plateau span are zero."""
    n2 = n // 2
    left_n = n2 if (not blockflag or prev_flag) else bs0 // 2
    right_n = n2 if (not blockflag or next_flag) else bs0 // 2
    win = np.zeros(n, dtype=np.float64)
    lstart = n // 4 - left_n // 2
    rstart = 3 * n // 4 - right_n // 2
    win[lstart : lstart + left_n] = _window_slope(left_n)
    win[lstart + left_n : rstart] = 1.0
    win[rstart : rstart + right_n] = _window_slope(right_n)[::-1]
    return win


def imdct_direct(spec: np.ndarray) -> np.ndarray:
    """Literal spec IMDCT summation — the independent model
    (O(n^2); tests assert the fast path matches it)."""
    n = 2 * len(spec)
    j = np.arange(n)[:, None]
    k = np.arange(n // 2)[None, :]
    return (
        spec[None, :]
        * np.cos(np.pi / (2 * n) * (2 * j + 1 + n // 2) * (2 * k + 1))
    ).sum(axis=1)


def imdct(spec: np.ndarray) -> np.ndarray:
    """FFT IMDCT: y[j] = Re S[2j+1+n/2] where S is the positive-
    exponent length-4n DFT of A with A[2k+1] = X[k]."""
    n = 2 * len(spec)
    a = np.zeros(4 * n, dtype=np.complex128)
    a[1 : n : 2] = spec
    s = np.fft.ifft(a) * (4 * n)
    return s[n // 2 + 1 : n // 2 + 1 + 2 * n : 2].real.copy()


# ------------------------------------------------------------- decoder

class _Setup:
    __slots__ = ("channels", "rate", "bs", "books", "floors",
                 "floor_types", "residues", "mappings", "modes")


def _parse_headers(packets: list[bytes]) -> _Setup:
    if len(packets) < 3:
        raise ValueError("fewer than three vorbis header packets")
    ident, comment, setup = packets[0], packets[1], packets[2]
    for pkt, t in ((ident, 1), (comment, 3), (setup, 5)):
        if len(pkt) < 7 or pkt[0] != t or pkt[1:7] != b"vorbis":
            raise ValueError(f"vorbis header type {t} malformed")
    s = _Setup()
    bits = _Bits(ident[7:])
    if bits.read(32) != 0:
        raise ValueError("unsupported vorbis version")
    s.channels = bits.read(8)
    s.rate = bits.read(32)
    if s.channels == 0 or s.rate == 0:
        raise ValueError("vorbis channels/rate zero")
    for _ in range(3):
        bits.read(32)  # bitrate hints
    bs0 = 1 << bits.read(4)
    bs1 = 1 << bits.read(4)
    if not (64 <= bs0 <= bs1 <= 8192):
        raise ValueError("vorbis block sizes out of range")
    if not bits.read(1):
        raise ValueError("identification framing bit unset")
    s.bs = (bs0, bs1)
    # comment header: length-prefixed strings, then framing bit
    cb = _Bits(comment[7:])
    vend = cb.read(32)
    for _ in range(vend):
        cb.read(8)
    for _ in range(cb.read(32)):
        ln = cb.read(32)
        for _ in range(ln):
            cb.read(8)
    if not cb.read(1):
        raise ValueError("comment framing bit unset")
    # setup header
    bits = _Bits(setup[7:])
    s.books = [_parse_codebook(bits) for _ in range(bits.read(8) + 1)]
    for _ in range(bits.read(6) + 1):  # time transforms (placeholder)
        if bits.read(16) != 0:
            raise ValueError("nonzero time transform")
    s.floors = []
    s.floor_types = []
    for _ in range(bits.read(6) + 1):
        ft = bits.read(16)
        if ft == 1:
            s.floors.append(_Floor1(bits, s.books))
        elif ft == 0:
            raise NotImplementedError(
                "vorbis floor type 0 (LSP) not supported"
            )
        else:
            raise ValueError(f"reserved floor type {ft}")
        s.floor_types.append(ft)
    s.residues = []
    for _ in range(bits.read(6) + 1):
        rt = bits.read(16)
        if rt not in (0, 1, 2):
            raise ValueError(f"reserved residue type {rt}")
        s.residues.append(_Residue(rt, bits, s.books))
    s.mappings = [
        (_check_mapping_type(bits), _Mapping(
            bits, s.channels, len(s.floors), len(s.residues)))[1]
        for _ in range(bits.read(6) + 1)
    ]
    s.modes = []
    for _ in range(bits.read(6) + 1):
        blockflag = bits.read(1)
        if bits.read(16) or bits.read(16):
            raise ValueError("nonzero mode window/transform type")
        mapping = bits.read(8)
        if mapping >= len(s.mappings):
            raise ValueError("mode mapping out of range")
        s.modes.append((blockflag, mapping))
    if not bits.read(1):
        raise ValueError("setup framing bit unset")
    return s


def _check_mapping_type(bits: _Bits) -> int:
    mt = bits.read(16)
    if mt != 0:
        raise ValueError(f"reserved mapping type {mt}")
    return mt


def _decode_audio_packet(s: _Setup, pkt: bytes):
    """One audio packet → (windowed_block, n, left_overlap_len).
    Returns None for packets that must be skipped."""
    bits = _Bits(pkt)
    if bits.read(1):
        raise ValueError("header-typed packet in audio stream")
    mode_n = bits.read(ilog(len(s.modes) - 1))
    if mode_n >= len(s.modes):
        raise ValueError("mode number out of range")
    blockflag, mapping_n = s.modes[mode_n]
    n = s.bs[blockflag]
    prev_flag = next_flag = 1
    if blockflag:
        prev_flag = bits.read(1)
        next_flag = bits.read(1)
    mapping = s.mappings[mapping_n]
    n2 = n // 2
    ch = s.channels
    # floors
    floors = []
    no_residue = []
    for c in range(ch):
        fl = s.floors[mapping.submap_floor[mapping.mux[c]]]
        try:
            curve = fl.decode(bits, s.books, n2)
        except _EOP:
            curve = None  # spec: EOP in floor decode → channel unused
        floors.append(curve)
        no_residue.append(curve is None)
    # coupling: a nonzero channel revives its partner's residue decode
    for (m, a) in mapping.coupling:
        if not (no_residue[m] and no_residue[a]):
            no_residue[m] = no_residue[a] = False
    # residues per submap
    residue_vecs = np.zeros((ch, n2), dtype=np.float64)
    for sm in range(mapping.submaps):
        sub_ch = [c for c in range(ch) if mapping.mux[c] == sm]
        res = s.residues[mapping.submap_residue[sm]]
        if res.rtype == 2:
            if all(no_residue[c] for c in sub_ch):
                continue
            vec = res.decode(bits, s.books, [True], len(sub_ch) * n2)[0]
            for i, c in enumerate(sub_ch):
                residue_vecs[c] = vec[i :: len(sub_ch)]
        else:
            do = [not no_residue[c] for c in sub_ch]
            out = res.decode(bits, s.books, do, n2)
            for i, c in enumerate(sub_ch):
                residue_vecs[c] = out[i]
    # inverse coupling (square polar), last step first
    for (m, a) in reversed(mapping.coupling):
        residue_vecs[m], residue_vecs[a] = inverse_couple(
            residue_vecs[m], residue_vecs[a]
        )
    # dot product + IMDCT + window
    win = lapped_window(n, s.bs[0], blockflag, prev_flag, next_flag)
    out = np.zeros((ch, n), dtype=np.float64)
    for c in range(ch):
        if floors[c] is None:
            continue
        spec = floors[c] * residue_vecs[c]
        out[c] = imdct(spec) * win
    return out, n


@_codec_errors
def decode_vorbis(data: bytes) -> tuple[np.ndarray, int]:
    """Ogg Vorbis bytes → (mono float64 PCM in [-1, 1], sample rate).

    Multi-channel streams are mixed down to mono (mean), matching the
    WAV/MP3 routes in ops/multimodal.py. ValueError on malformed
    input; NotImplementedError only for the named floor-0 seam."""
    packets = parse_ogg_packets(data)
    s = _parse_headers(packets)
    ch = s.channels
    # timeline overlap-add; consecutive window CENTERS are spaced
    # n_prev/4 + n_cur/4 apart (the spec's returned-data rule), so
    # start_k = center_k - n_k/2 — a block can begin BEFORE the
    # previous block's center when it is the larger of the pair (its
    # window is zero over that span, so clipping loses nothing)
    acc = np.zeros((ch, 0), dtype=np.float64)
    base = 0  # global sample index of acc[:, 0]
    center = None
    prev_n = None
    first_n = 0  # first block's size (its left half is lap priming)
    emitted: list[np.ndarray] = []
    total = 0
    for pkt in packets[3:]:
        if not pkt:
            continue  # zero-length packets are legal no-ops
        block, n = _decode_audio_packet(s, pkt)
        if prev_n is None:
            first_n = n
            center = n // 2
        else:
            center += prev_n // 4 + n // 4
        prev_n = n
        start = center - n // 2
        end = start + n
        if end - base > acc.shape[1]:
            acc = np.concatenate(
                [acc, np.zeros((ch, end - base - acc.shape[1]))], axis=1
            )
        lo = max(start, base)  # pre-base span is the window's zero lead-in
        acc[:, lo - base : end - base] += block[:, lo - start :]
        # samples final up to the center of this block
        if center > base:
            if total + (center - base) > MAX_DECODE_SAMPLES:
                raise ValueError("vorbis sample count exceeds ceiling")
            emitted.append(acc[:, : center - base].copy())
            total += center - base
            acc = acc[:, center - base :]
            base = center
    pcm = (
        np.concatenate(emitted, axis=1)
        if emitted
        else np.zeros((ch, 0), dtype=np.float64)
    )
    # output starts at the center of the first block (lap priming):
    # the timeline above begins at that block's sample 0, so drop its
    # first half
    pcm = pcm[:, first_n // 2 :]
    granule = last_granule(data)
    if 0 <= granule < pcm.shape[1]:
        pcm = pcm[:, :granule]  # end-of-stream trim per final granule
    return pcm.mean(axis=0), s.rate


# ------------------------------------------------------------- encoder
#
# Minimal-but-legal encoder used for round-trip pinning and the
# audio-stage tests. Base setup: blocksizes 256/256, one
# mode, mono, floor1 with X = {0,16,48,64} at multiplier 4 (range 64),
# residue type 2 over [0,1024) with partition size 8, two classes
# (silent / book-coded) and a 2-dim 16-entry VQ book over
# {-1.5,-0.5,0.5,1.5}^2. encode_vorbis_ex extends the same setup with
# a second long-block mode (256/1024 with window flags — the shape
# every real-world Vorbis stream uses) and 2-channel square-polar
# coupling, so the mixed-size lap rules and the coupling inverse are
# exercised end-to-end through real Ogg framing, not just unit-pinned.

ENC_BLOCK = 256
ENC_LONG_BLOCK = 1024
ENC_N2 = ENC_BLOCK // 2
ENC_FLOOR_XS = (0, 64, 16, 48)  # header order: [0, 2^rangebits, then read]
ENC_MULTIPLIER = 4
ENC_PSIZE = 8
ENC_RES_END = 1024  # residue header end; actual coding caps at ch*n/2
ENC_VQ_VALUES = (-1.5, -0.5, 0.5, 1.5)


def enc_coded_len(channels: int, n: int) -> int:
    """Coefficients the type-2 residue codes for one block: the
    interleaved vector is ch*n/2 long, capped by the header end."""
    return min(ENC_RES_END, channels * (n // 2))


def _enc_codebook_scalar(w: _BitWriter, dims: int, entries: int,
                         length: int):
    w.write(0x564342, 24)
    w.write(dims, 16)
    w.write(entries, 24)
    w.write(0, 1)  # unordered
    w.write(0, 1)  # not sparse
    for _ in range(entries):
        w.write(length - 1, 5)


def _enc_setup_packet(channels: int = 1, mixed: bool = False) -> bytes:
    w = _BitWriter()
    for b in b"\x05vorbis":
        w.write(b, 8)
    w.write(3 - 1, 8)  # three codebooks
    _enc_codebook_scalar(w, 1, 64, 6)   # book 0: floor Y values
    w.write(0, 4)
    _enc_codebook_scalar(w, 4, 16, 4)   # book 1: residue classbook
    w.write(0, 4)
    _enc_codebook_scalar(w, 2, 16, 4)   # book 2: residue VQ
    w.write(1, 4)  # lookup type 1
    w.write(float32_pack(-1.5), 32)
    w.write(float32_pack(1.0), 32)
    w.write(2 - 1, 4)  # 2-bit multiplicands
    w.write(0, 1)  # sequence_p off
    for m in range(4):
        w.write(m, 2)
    w.write(0, 6)  # one time transform
    w.write(0, 16)
    w.write(0, 6)  # one floor
    w.write(1, 16)  # floor type 1
    w.write(1, 5)   # one partition
    w.write(0, 4)   # class 0
    w.write(2 - 1, 3)  # class dims 2
    w.write(0, 2)   # subclass bits 0
    w.write(0 + 1, 8)  # subclass book 0
    w.write(ENC_MULTIPLIER - 1, 2)
    w.write(6, 4)   # rangebits
    w.write(16, 6)
    w.write(48, 6)
    w.write(0, 6)   # one residue
    w.write(2, 16)  # residue type 2
    w.write(0, 24)  # begin
    w.write(ENC_RES_END, 24)  # end (decode caps at ch*n/2)
    w.write(ENC_PSIZE - 1, 24)
    w.write(2 - 1, 6)  # two classifications
    w.write(1, 8)   # classbook = book 1
    w.write(0, 3)   # class 0 cascade low
    w.write(0, 1)
    w.write(1, 3)   # class 1 cascade: pass 0 only
    w.write(0, 1)
    w.write(2, 8)   # class 1 pass-0 book = book 2
    w.write(0, 6)   # one mapping
    w.write(0, 16)
    w.write(0, 1)   # default one submap
    if channels == 2:
        w.write(1, 1)   # coupling present
        w.write(0, 8)   # one step
        w.write(0, 1)   # magnitude channel 0 (ilog(ch-1)=1 bit)
        w.write(1, 1)   # angle channel 1
    else:
        w.write(0, 1)   # no coupling
    w.write(0, 2)   # reserved
    w.write(0, 8)   # time placeholder
    w.write(0, 8)   # floor 0
    w.write(0, 8)   # residue 0
    w.write((2 if mixed else 1) - 1, 6)  # mode count
    w.write(0, 1)   # mode 0: blockflag 0 (short)
    w.write(0, 16)
    w.write(0, 16)
    w.write(0, 8)   # mapping 0
    if mixed:
        w.write(1, 1)   # mode 1: blockflag 1 (long)
        w.write(0, 16)
        w.write(0, 16)
        w.write(0, 8)   # mapping 0
    w.write(1, 1)   # framing
    return w.bytes()


def _enc_id_packet(sample_rate: int, channels: int = 1,
                   mixed: bool = False) -> bytes:
    w = _BitWriter()
    for b in b"\x01vorbis":
        w.write(b, 8)
    w.write(0, 32)
    w.write(channels, 8)
    w.write(sample_rate, 32)
    for _ in range(3):
        w.write(0, 32)
    w.write(8, 4)   # blocksize_0 = 256
    w.write(10 if mixed else 8, 4)  # blocksize_1 = 1024 or 256
    w.write(1, 1)
    return w.bytes()


def _enc_comment_packet() -> bytes:
    w = _BitWriter()
    for b in b"\x03vorbis":
        w.write(b, 8)
    vendor = b"ragflow-ocr-spark test encoder"
    w.write(len(vendor), 32)
    for b in vendor:
        w.write(b, 8)
    w.write(0, 32)
    w.write(1, 1)
    return w.bytes()


def encode_vorbis(
    frames: list[None | tuple[tuple[int, int, int, int], list[None | list[int]]]],
    sample_rate: int = 16000,
) -> bytes:
    """Frames → Ogg Vorbis bytes (mono, 256-sample blocks).

    Each frame is None (unused floor → exact digital silence) or
    (floor_ys, partitions): floor_ys are four Y values in [0, 64)
    for X = 0/64/16/48 (header order), partitions is 16 entries, each
    None (silent class) or a list of four VQ entry ids in [0, 16)
    covering that partition's 8 residue samples."""
    return encode_vorbis_ex(
        [None if f is None else (0, (f[0],), f[1]) for f in frames],
        sample_rate=sample_rate,
    )


def encode_vorbis_ex(
    frames: list[None | tuple[int, tuple, list[None | list[int]]]],
    sample_rate: int = 16000,
    channels: int = 1,
    mixed: bool = False,
) -> bytes:
    """General encoder: mixed 256/1024 block sizes with real window
    flags and optional 2-channel square-polar coupling.

    Each frame is None (all floors unused → exact digital silence,
    short block) or (blockflag, ch_floors, partitions):
    - blockflag 0/1 selects 256/1024 (1 requires mixed=True);
    - ch_floors has one entry per channel: None (unused) or four Y
      values in [0, 64) for X = 0/64/16/48 (header order);
    - partitions covers the channel-interleaved type-2 residue vector:
      enc_coded_len(channels, n)/8 entries, each None (silent class)
      or four VQ ids in [0, 16) for that partition's 8 coefficients.
      Omitted entirely when every floor is unused."""
    if channels not in (1, 2):
        raise ValueError("encoder supports 1 or 2 channels")
    bs = (ENC_BLOCK, ENC_LONG_BLOCK if mixed else ENC_BLOCK)
    packets = [
        _enc_id_packet(sample_rate, channels, mixed),
        _enc_comment_packet(),
        _enc_setup_packet(channels, mixed),
    ]
    flags = [0 if f is None else f[0] for f in frames]
    if not mixed and any(flags):
        raise ValueError("long blocks need mixed=True")
    granules = [0, 0, 0]
    center = 0
    for k, frame in enumerate(frames):
        n = bs[flags[k]]
        # consecutive window centers are n_prev/4 + n_cur/4 apart;
        # granule = samples emitted through this block's center
        center += (bs[flags[k - 1]] // 4 + n // 4) if k else 0
        granules.append(center)
        w = _BitWriter()
        w.write(0, 1)  # audio packet
        if mixed:
            w.write(flags[k], 1)  # mode number (mode i has blockflag i)
        if flags[k]:
            # window flags: true neighbor blockflags (full slope at
            # the stream edges, where no neighbor constrains the lap)
            w.write(flags[k - 1] if k else 1, 1)
            w.write(flags[k + 1] if k + 1 < len(frames) else 1, 1)
        if frame is None:
            for _ in range(channels):
                w.write(0, 1)  # floor nonzero = 0
            packets.append(w.bytes())
            continue
        _, ch_floors, partitions = frame
        if len(ch_floors) != channels:
            raise ValueError("need one floor spec per channel")
        for ys in ch_floors:
            if ys is None:
                w.write(0, 1)
                continue
            w.write(1, 1)
            w.write(ys[0], 6)  # y0 (X=0)
            w.write(ys[1], 6)  # y1 (X=64)
            w.write_codeword(ys[2], 6)  # X=16 via book 0
            w.write_codeword(ys[3], 6)  # X=48 via book 0
        if all(ys is None for ys in ch_floors):
            packets.append(w.bytes())
            continue
        # residue type 2, one pass; classwords of 4 partitions
        n_parts = enc_coded_len(channels, n) // ENC_PSIZE
        if len(partitions) != n_parts:
            raise ValueError(f"need {n_parts} partition specs")
        cls = [0 if p is None else 1 for p in partitions]
        for word in range(n_parts // 4):
            cw = 0
            for i in range(4):
                cw = cw * 2 + cls[word * 4 + i]
            w.write_codeword(cw, 4)  # book 1
            for i in range(4):
                part = partitions[word * 4 + i]
                if part is None:
                    continue
                if len(part) != ENC_PSIZE // 2:
                    raise ValueError("partition needs 4 VQ ids")
                for vq_id in part:
                    w.write_codeword(vq_id, 4)  # book 2
        packets.append(w.bytes())
    return write_ogg_pages(packets, granules=granules)


def encode_vorbis_silence(n_packets: int, sample_rate: int = 16000) -> bytes:
    """All-unused-floor stream: every conformant decoder reconstructs
    exact digital zero; (n_packets - 1) * 128 output samples."""
    return encode_vorbis([None] * n_packets, sample_rate)


def enc_expected_spectra_ex(frame, channels: int, n: int) -> np.ndarray:
    """Per-channel spectra (channels, n/2) the decoder must produce
    for one encode_vorbis_ex frame: residue deinterleave → inverse
    coupling (scalar spec rules, independent of the vectorized
    decoder path) → floor curve × residue."""
    n2 = n // 2
    if frame is None:
        return np.zeros((channels, n2))
    _, ch_floors, partitions = frame
    res = np.zeros(channels * n2)
    if not all(ys is None for ys in ch_floors):
        for p, part in enumerate(partitions):
            if part is None:
                continue
            for k, vq_id in enumerate(part):
                base = p * ENC_PSIZE + k * 2
                res[base] += ENC_VQ_VALUES[vq_id % 4]
                res[base + 1] += ENC_VQ_VALUES[vq_id // 4]
    ch_res = [res[c::channels].copy() for c in range(channels)]
    if channels == 2:
        for i in range(n2):
            m, a = ch_res[0][i], ch_res[1][i]
            if m > 0:
                new = (m, m - a) if a > 0 else (m + a, m)
            else:
                new = (m, m + a) if a > 0 else (m - a, m)
            ch_res[0][i], ch_res[1][i] = new
    out = np.zeros((channels, n2))
    for c, ys in enumerate(ch_floors):
        if ys is None:
            continue
        fl = _Floor1.__new__(_Floor1)
        fl.partitions = 1
        fl.class_list = [0]
        fl.class_dims = [2]
        fl.class_subs = [0]
        fl.class_masterbooks = [-1]
        fl.subclass_books = [[0]]
        fl.multiplier = ENC_MULTIPLIER
        fl.rangebits = 6
        fl.xs = list(ENC_FLOOR_XS)
        fl.sorted_idx = sorted(range(4), key=lambda i: fl.xs[i])
        out[c] = fl.synthesize(list(ys), n2) * ch_res[c]
    return out


def enc_expected_spectrum(frame) -> np.ndarray:
    """Independent model of the spectrum the decoder must produce for
    one encoder frame (floor curve × residue), used by tests."""
    if frame is None:
        return np.zeros(ENC_N2)
    floor_ys, partitions = frame
    # floor: points (0,y0) (16,y2) (48,y3) (64,y1), all step2-flagged
    # only when nonzero deltas — the encoder always codes all four, so
    # synthesize through the real floor path for fidelity:
    fl = _Floor1.__new__(_Floor1)
    fl.partitions = 1
    fl.class_list = [0]
    fl.class_dims = [2]
    fl.class_subs = [0]
    fl.class_masterbooks = [-1]
    fl.subclass_books = [[0]]
    fl.multiplier = ENC_MULTIPLIER
    fl.rangebits = 6
    fl.xs = list(ENC_FLOOR_XS)
    fl.sorted_idx = sorted(range(4), key=lambda i: fl.xs[i])
    curve = fl.synthesize(list(floor_ys), ENC_N2)
    residue = np.zeros(ENC_N2)
    for p, part in enumerate(partitions):
        if part is None:
            continue
        for k, vq_id in enumerate(part):
            # lookup type 1, r=4: dim j uses (entry // r^j) % r, so the
            # FIRST sample of the pair comes from the low digit
            base = p * ENC_PSIZE + k * 2
            residue[base] += ENC_VQ_VALUES[vq_id % 4]
            residue[base + 1] += ENC_VQ_VALUES[vq_id // 4]
    return curve * residue
