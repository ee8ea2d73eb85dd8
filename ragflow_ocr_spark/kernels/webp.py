"""Pure-Python WebP **lossless** (VP8L) codec.

Narrows the multimodal ``webp → error:unsupported_codec`` seam: the
RIFF/WEBP container is parsed for real and VP8L streams decode fully —
canonical prefix codes (simple + normal with 16/17/18 run coding),
LZ77 back-references through the 120-entry 2D distance map, the color
cache, meta prefix (huffman) images, and all four transforms
(predictor, color, subtract-green, color-indexing incl. sub-byte pixel
bundling). Lossy VP8 keyframes decode via kernels/vp8 (RFC 6386
intra path — see that module's probability-table provenance note).

The encoder emits valid VP8L for fixtures: literal pixels with real
Huffman codes, optional subtract-green / fixed-mode predictor / color
transform / palette (color-indexing) forward passes, and run-length
LZ77 — so every decoder path is round-trip tested without libwebp.

Spec: "WebP Lossless Bitstream Specification" (public), mirrored by
libwebp's vp8l_dec.c. All bit packing is LSB-first.
"""

from __future__ import annotations

import struct

import numpy as np

from ragflow_ocr_spark.kernels.pngcodec import codec_errors, riff_chunks

MAX_DECODE_PIXELS = 1 << 26  # same untrusted-payload ceiling as the others
# VP8L-specific ceiling, still tighter than the global one: the entropy
# decode is sequential Python (windowed-peek Huffman + list-slice LZ77,
# ~1 Mpx/s after the round-3 rewrite — was ~0.1-0.6 before), so a
# legal 64 MPix image would stall one Spark task ~a minute. 16 MPix
# (~16 s worst-case, fully-literal stream) keeps the straggler bounded
# while covering effectively all real crawl images; beyond it rows
# become per-row errors, and a native-decoder install can lift this at
# deploy time. Decode memory is O(1 MiB) in stream size (chunked
# windows), so the ceiling is compute-, not memory-, bound.
VP8L_MAX_PIXELS = 1 << 24


# code-length-code symbol order (spec section 6.2.2)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# 2D neighbor offsets for distance codes 1..120 (spec section 5.2.2)
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _Bits:
    """LSB-first bit reader over bytes."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data + b"\x00" * 8  # tail slack; overrun checked via pos
        self.pos = 0
        self.nbits = len(data) * 8


    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        b = p >> 3
        w = int.from_bytes(self.data[b : b + 8], "little")
        self.pos = p + n
        if self.pos > self.nbits:
            raise ValueError("truncated VP8L stream")
        return (w >> (p & 7)) & ((1 << n) - 1)


# Sliding 32-bit little-endian windows over one chunk of the stream:
# W[k] holds bits starting at byte (start+k), so any ≤25-bit peek is
# one C-speed list index instead of int.from_bytes per symbol
# (max code 15 bits + 7-bit phase ≤ 22; max LZ77 extra 18 + 7 ≤ 25).
# 32-bit beats a one-fetch-per-pixel 64-bit window variant in CPython:
# most 64-bit values are multi-digit longs and every shift/mask on
# them allocates. Chunked (1 MiB) because a full-stream list of
# Python ints costs ~28 bytes per stream byte — the chunk bounds
# decode memory to O(_WCHUNK) at any image size. pos is monotonic, so
# a rolling rebuild suffices; rebuilds trigger 16 bytes ahead of the
# chunk end so within-pixel reads (~9-byte overshoot) stay in range.
_WCHUNK = 1 << 20


def _win32(buf: bytes, start: int) -> list:
    seg = buf[start : start + _WCHUNK + 8] + b"\x00" * 8
    a = np.frombuffer(seg, dtype=np.uint8).astype(np.uint32)
    return (a[:-3] | (a[1:-2] << 8) | (a[2:-1] << 16) | (a[3:] << 24)).tolist()


class _Code:
    """Canonical prefix decoder: peek-table over max code length,
    packed as ``(len << 12) | sym`` ints (sym < 4096 for every VP8L
    alphabet: green max 256+24+2048), invalid peeks = -1. A degenerate
    single-symbol code is table ``[sym]`` with mask 0 (zero bits read),
    so the hot loop needs no special case."""

    __slots__ = ("packed", "mask")

    def __init__(self, lengths: list[int]):
        maxlen = max(lengths) if any(lengths) else 0
        nonzero = [(ln, s) for s, ln in enumerate(lengths) if ln]
        if len(nonzero) == 1:
            # degenerate: single symbol, zero bits read
            self.packed = [nonzero[0][1]]
            self.mask = 0
            return
        # kraft check
        if sum(1 << (maxlen - ln) for ln, _ in nonzero) != 1 << maxlen:
            raise ValueError("incomplete VP8L prefix code")
        self.mask = (1 << maxlen) - 1
        size = 1 << maxlen
        packed = [-1] * size
        code = 0
        prev_len = 0
        for ln, sym in sorted(nonzero):
            code <<= ln - prev_len  # canonical: left-shift on length change
            prev_len = ln
            # canonical code `code` of length ln, LSB-first in stream →
            # table index = bit-reversed code, repeated every 2^ln
            rev = int(f"{code:0{ln}b}"[::-1], 2)
            step = 1 << ln
            e = (ln << 12) | sym
            for i in range(rev, size, step):
                packed[i] = e
            code += 1
        self.packed = packed

    def read(self, br: _Bits) -> int:
        p = br.pos
        b = p >> 3
        w = int.from_bytes(br.data[b : b + 4], "little")
        e = self.packed[(w >> (p & 7)) & self.mask]
        if e < 0:
            raise ValueError("bad VP8L prefix code")
        br.pos = p + (e >> 12)
        if br.pos > br.nbits:
            raise ValueError("truncated VP8L stream")
        return e & 0xFFF


def _read_code_lengths(br: _Bits, alphabet: int) -> list[int]:
    """One prefix code, simple or normal form → per-symbol lengths."""
    if br.read(1):  # simple
        num = br.read(1) + 1
        first_8 = br.read(1)
        lengths = [0] * alphabet
        s0 = br.read(8 if first_8 else 1)
        if s0 >= alphabet:
            raise ValueError("VP8L simple-code symbol out of range")
        if num == 1:
            lengths[s0] = 1
        else:
            s1 = br.read(8)
            if s1 >= alphabet or s1 == s0:
                raise ValueError("VP8L simple-code symbols invalid")
            lengths[s0] = lengths[s1] = 1
        return lengths
    # normal: code-length code first
    n_clc = 4 + br.read(4)
    clc_len = [0] * 19
    for i in range(n_clc):
        clc_len[_CLC_ORDER[i]] = br.read(3)
    clc = _Code(clc_len)
    # optional cap on decoded symbols
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        sym = clc.read(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            lengths[i : i + rep] = [prev] * rep
            i += rep
        elif sym == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > alphabet:
            raise ValueError("VP8L code-length overflow")
    return lengths


class _Group:
    __slots__ = ("g", "r", "b", "a", "d")

    def __init__(self, br: _Bits, cache_size: int):
        self.g = _Code(_read_code_lengths(br, 256 + 24 + cache_size))
        self.r = _Code(_read_code_lengths(br, 256))
        self.b = _Code(_read_code_lengths(br, 256))
        self.a = _Code(_read_code_lengths(br, 256))
        self.d = _Code(_read_code_lengths(br, 40))


def _decode_pixels(br: _Bits, w: int, h: int, allow_meta: bool) -> np.ndarray:
    """Spatially-coded image → (h, w, 4) uint8 ARGB-as-[a,r,g,b]."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError("bad VP8L cache bits")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = 2 + br.read(3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_pixels(br, mw, mh, False)
        meta = (
            meta_img[..., 1].astype(np.int32) << 8
        ) | meta_img[..., 2].astype(np.int32)
        n_groups = int(meta.max()) + 1
    groups = [_Group(br, cache_size) for _ in range(n_groups)]

    # Hot loop: locals only — packed (len<<12)|sym tables, one list
    # index per Huffman peek against the chunked 32-bit windows, LZ77
    # copies as C-speed list-slice assignment (chunk-doubling when the
    # reference overlaps). ~5-8× the round-2 int.from_bytes/method-call
    # version; the truncation guard runs once per pixel.
    n = w * h
    out = [0] * n
    buf = br.data
    pos = br.pos
    nbits = br.nbits
    wb = pos >> 3
    W = _win32(buf, wb)
    # rp is the bit position RELATIVE to the chunk base (saves a
    # subtract on every peek). One guard per pixel covers both the
    # chunk rebuild and stream truncation: rlimit stops 16 bytes short
    # of the chunk end (within-pixel reads overshoot ≤ ~9 bytes) and
    # ~67 bits past nbits (a truncated stream decodes ≤ a few pixels
    # of zero slack before raising here or at the final pos check).
    rp = pos & 7
    rlimit = min((_WCHUNK - 16) << 3, nbits + 67 - (wb << 3))
    csh = 32 - cache_bits if cache_bits else 0
    tabs = [
        (
            g.g.packed, g.g.mask, g.r.packed, g.r.mask,
            g.b.packed, g.b.mask, g.a.packed, g.a.mask,
            g.d.packed, g.d.mask,
        )
        for g in groups
    ]
    gtab, gmask, rtab, rmask, btab, bmask, atab, amask, dtab, dmask = tabs[0]
    # with a meta image the group holds only to the end of the current
    # tile row-run; switch_at amortizes the per-pixel divmod+lookup
    switch_at = 0 if meta is not None else n + 1
    i = 0
    while i < n:
        if i >= switch_at:
            y, x = divmod(i, w)
            (
                gtab, gmask, rtab, rmask, btab, bmask,
                atab, amask, dtab, dmask,
            ) = tabs[int(meta[y >> meta_bits, x >> meta_bits])]
            nx = ((x >> meta_bits) + 1) << meta_bits
            switch_at = i + ((w - x) if nx >= w else (nx - x))
        if rp >= rlimit:
            pos = (wb << 3) + rp
            if pos > nbits:
                raise ValueError("truncated VP8L stream")
            wb = pos >> 3
            W = _win32(buf, wb)
            rp = pos & 7
            rlimit = min((_WCHUNK - 16) << 3, nbits + 67 - (wb << 3))
        e = gtab[(W[rp >> 3] >> (rp & 7)) & gmask]
        if e < 0:
            raise ValueError("bad VP8L prefix code")
        rp += e >> 12
        sym = e & 0xFFF
        if sym < 256:
            e = rtab[(W[rp >> 3] >> (rp & 7)) & rmask]
            if e < 0:
                raise ValueError("bad VP8L prefix code")
            rp += e >> 12
            red = e & 0xFFF
            e2 = btab[(W[rp >> 3] >> (rp & 7)) & bmask]
            if e2 < 0:
                raise ValueError("bad VP8L prefix code")
            rp += e2 >> 12
            e3 = atab[(W[rp >> 3] >> (rp & 7)) & amask]
            if e3 < 0:
                raise ValueError("bad VP8L prefix code")
            rp += e3 >> 12
            px = (e3 & 0xFFF) << 24 | (red << 16) | (sym << 8) | (e2 & 0xFFF)
            out[i] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> csh] = px
            i += 1
        elif sym < 280:
            code = sym - 256
            if code < 4:
                length = code + 1
            else:
                extra = (code - 2) >> 1
                length = (
                    ((2 + (code & 1)) << extra)
                    + ((W[rp >> 3] >> (rp & 7)) & ((1 << extra) - 1))
                    + 1
                )
                rp += extra
            e = dtab[(W[rp >> 3] >> (rp & 7)) & dmask]
            if e < 0:
                raise ValueError("bad VP8L prefix code")
            rp += e >> 12
            dcode = e & 0xFFF
            if dcode < 4:
                plane = dcode + 1
            else:
                extra = (dcode - 2) >> 1
                plane = (
                    ((2 + (dcode & 1)) << extra)
                    + ((W[rp >> 3] >> (rp & 7)) & ((1 << extra) - 1))
                    + 1
                )
                rp += extra
            if plane > 120:
                dist = plane - 120
            else:
                dx, dy = _DIST_MAP[plane - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist > i or i + length > n:
                raise ValueError("bad VP8L back-reference")
            s = i - dist
            if dist >= length:
                out[i : i + length] = out[s : s + length]
            else:
                out[i : i + dist] = out[s:i]
                copied = dist
                while copied < length:
                    c = length - copied
                    if c > copied:
                        c = copied
                    out[i + copied : i + copied + c] = out[i : i + c]
                    copied += c
            if cache_size:
                for v in out[i : i + length]:
                    cache[(0x1E35A7BD * v & 0xFFFFFFFF) >> csh] = v
            i += length
        else:
            j = sym - 280
            if j >= cache_size:
                raise ValueError("VP8L cache index out of range")
            out[i] = cache[j]
            i += 1
    pos = (wb << 3) + rp
    br.pos = pos
    if pos > nbits:
        raise ValueError("truncated VP8L stream")
    arr = np.array(out, dtype=np.uint32).reshape(h, w)
    return np.stack(
        [
            (arr >> 24).astype(np.uint8),
            (arr >> 16).astype(np.uint8),
            (arr >> 8).astype(np.uint8),
            arr.astype(np.uint8),
        ],
        axis=-1,
    )  # [a, r, g, b]


# ------------------------------------------------------- transforms (inverse)
def _inv_subtract_green(px: np.ndarray) -> None:
    g = px[..., 2]
    px[..., 1] += g
    px[..., 3] += g


def _inv_color_indexing(px: np.ndarray, palette: np.ndarray, w: int) -> np.ndarray:
    """Green channel carries (possibly bundled) palette indexes."""
    n_colors = len(palette)
    if n_colors > 16:
        ibits = 0
    elif n_colors > 4:
        ibits = 1
    elif n_colors > 2:
        ibits = 2
    else:
        ibits = 3
    idx = px[..., 2]
    if ibits:
        # unbundle: each packed byte holds 2^ibits indexes, LSB first
        per = 1 << ibits
        bw = idx.shape[1]
        sub = 8 >> ibits
        cols = np.arange(w)
        packed = idx[:, cols >> ibits]
        shifts = (cols & (per - 1)) * sub
        idx = (packed >> shifts[None, :]) & ((1 << sub) - 1)
    else:
        idx = idx[:, :w]
    if int(idx.max()) >= n_colors:
        raise ValueError("VP8L palette index out of range")
    return palette[idx]  # (h, w, 4)


def _inv_color_transform(px: np.ndarray, bits: int, data: np.ndarray) -> None:
    h, w = px.shape[:2]
    bs = 1 << bits
    for by in range((h + bs - 1) // bs):
        for bx in range((w + bs - 1) // bs):
            ys, xs = by * bs, bx * bs
            blk = px[ys : ys + bs, xs : xs + bs]
            # spec: green_to_red lives in the BLUE field, green_to_blue
            # in GREEN, red_to_blue in RED of the transform pixel; each
            # delta is int8, applied as (int8(t) * int8(c)) >> 5
            green_to_red = int(np.int8(data[by, bx, 3]))
            green_to_blue = int(np.int8(data[by, bx, 2]))
            red_to_blue = int(np.int8(data[by, bx, 1]))
            g = blk[..., 2].astype(np.int32)
            r = blk[..., 1].astype(np.int32)
            r = (r + ((green_to_red * ((g << 24) >> 24)) >> 5)) & 0xFF
            b = blk[..., 3].astype(np.int32)
            b = (b + ((green_to_blue * ((g << 24) >> 24)) >> 5)) & 0xFF
            b = (b + ((red_to_blue * ((r << 24) >> 24)) >> 5)) & 0xFF
            blk[..., 1] = r.astype(np.uint8)
            blk[..., 3] = b.astype(np.uint8)


_PRED_FAST = True  # test hook: False forces the general scan-order loop


def _inv_predictor(px: np.ndarray, bits: int, modes: np.ndarray) -> None:
    """Per-block spatial prediction, applied progressively in scan
    order (each pixel's prediction uses already-reconstructed
    neighbors). Pixels are packed into one 32-bit int apiece and the
    byte-lane ops run SWAR-style (avg2 = (a&b)+(((a^b)>>1)&0x7F7F7F7F),
    add = masked even/odd-lane adds), so the sequential scan costs a
    handful of int ops per pixel instead of 4-channel numpy scalar
    indexing (~20× the round-2 version). Unpack-per-channel only for
    the rare Select/ClampAddSub modes (11-13)."""
    h, w = px.shape[:2]
    mode_flat = modes[..., 2]
    if (
        _PRED_FAST
        and int(mode_flat.min()) == int(mode_flat.max())
        and int(mode_flat.flat[0]) in (1, 2)
    ):
        # uniform L- or T-prediction (the common single-mode tiling,
        # incl. this module's own encoder output): the whole inverse
        # is two mod-256 prefix sums — np.add.accumulate on uint8
        # wraps exactly like the per-pixel add. Row/col 0 boundary
        # rules (origin=black, first row=L, first col=T) fold in by
        # accumulating the boundary line first.
        m = int(mode_flat.flat[0])
        px[0, 0, 0] += 255  # ARGB black pred: +255 on the alpha lane
        if m == 2:
            np.add.accumulate(px[0], axis=0, out=px[0])  # row 0: L chain
            np.add.accumulate(px, axis=0, out=px)  # pred = T
        else:
            np.add.accumulate(px[:, 0], axis=0, out=px[:, 0])  # col 0: T
            np.add.accumulate(px, axis=1, out=px)  # pred = L
        return
    packed = (
        (px[..., 0].astype(np.uint32) << 24)
        | (px[..., 1].astype(np.uint32) << 16)
        | (px[..., 2].astype(np.uint32) << 8)
        | px[..., 3].astype(np.uint32)
    )
    mode_img = modes[..., 2]  # green field carries the mode
    M = 0x00FF00FF
    H7 = 0x7F7F7F7F
    rows_out = np.empty((h, w), dtype=np.uint32)
    prev: list = []
    for y in range(h):
        res = packed[y].tolist()
        cur = [0] * w
        # x == 0: black at the origin, T elsewhere
        p0 = 0xFF000000 if y == 0 else prev[0]
        v = res[0]
        cur[0] = (
            (((v & M) + (p0 & M)) & M)
            | ((((v >> 8 & M) + (p0 >> 8 & M)) & M) << 8)
        )
        if y == 0:
            # first row: pred = L for every remaining pixel
            left = cur[0]
            for x in range(1, w):
                v = res[x]
                left = cur[x] = (
                    (((v & M) + (left & M)) & M)
                    | ((((v >> 8 & M) + (left >> 8 & M)) & M) << 8)
                )
        else:
            mrow = mode_img[y >> bits].tolist()
            bmask = (1 << bits) - 1
            left = cur[0]
            mode = mrow[0]
            for x in range(1, w):
                if not x & bmask:
                    mode = mrow[x >> bits]
                T = prev[x]
                if mode == 2:
                    pred = T
                elif mode == 1:
                    pred = left
                elif mode == 0:
                    pred = 0xFF000000
                elif mode == 3:
                    # rightmost column: TR wraps to the CURRENT row's
                    # first pixel (linear memory — libwebp reads top[x+1])
                    pred = prev[x + 1] if x + 1 < w else cur[0]
                elif mode == 4:
                    pred = prev[x - 1]
                elif mode == 5:
                    TR = prev[x + 1] if x + 1 < w else cur[0]
                    a = (left & TR) + (((left ^ TR) >> 1) & H7)
                    pred = (a & T) + (((a ^ T) >> 1) & H7)
                elif mode == 6:
                    TL = prev[x - 1]
                    pred = (left & TL) + (((left ^ TL) >> 1) & H7)
                elif mode == 7:
                    pred = (left & T) + (((left ^ T) >> 1) & H7)
                elif mode == 8:
                    TL = prev[x - 1]
                    pred = (TL & T) + (((TL ^ T) >> 1) & H7)
                elif mode == 9:
                    TR = prev[x + 1] if x + 1 < w else cur[0]
                    pred = (T & TR) + (((T ^ TR) >> 1) & H7)
                elif mode == 10:
                    TL = prev[x - 1]
                    TR = prev[x + 1] if x + 1 < w else cur[0]
                    a = (left & TL) + (((left ^ TL) >> 1) & H7)
                    b = (T & TR) + (((T ^ TR) >> 1) & H7)
                    pred = (a & b) + (((a ^ b) >> 1) & H7)
                elif mode == 11:  # Select
                    TL = prev[x - 1]
                    pL = (
                        abs((T >> 24) - (TL >> 24))
                        + abs((T >> 16 & 0xFF) - (TL >> 16 & 0xFF))
                        + abs((T >> 8 & 0xFF) - (TL >> 8 & 0xFF))
                        + abs((T & 0xFF) - (TL & 0xFF))
                    )
                    pT = (
                        abs((left >> 24) - (TL >> 24))
                        + abs((left >> 16 & 0xFF) - (TL >> 16 & 0xFF))
                        + abs((left >> 8 & 0xFF) - (TL >> 8 & 0xFF))
                        + abs((left & 0xFF) - (TL & 0xFF))
                    )
                    pred = left if pL < pT else T
                elif mode == 12:  # ClampAddSubFull per channel
                    TL = prev[x - 1]
                    pred = 0
                    for sh in (24, 16, 8, 0):
                        vc = (
                            (left >> sh & 0xFF)
                            + (T >> sh & 0xFF)
                            - (TL >> sh & 0xFF)
                        )
                        if vc < 0:
                            vc = 0
                        elif vc > 255:
                            vc = 255
                        pred |= vc << sh
                elif mode == 13:  # ClampAddSubHalf per channel
                    TL = prev[x - 1]
                    pred = 0
                    for sh in (24, 16, 8, 0):
                        a = ((left >> sh & 0xFF) + (T >> sh & 0xFF)) // 2
                        d = a - (TL >> sh & 0xFF)
                        # C-style truncation toward zero, NOT Python
                        # floor — differs for negative (a - b) and is
                        # bit-visible in real files
                        vc = a + (d // 2 if d >= 0 else -((-d) // 2))
                        if vc < 0:
                            vc = 0
                        elif vc > 255:
                            vc = 255
                        pred |= vc << sh
                else:
                    raise ValueError(f"bad VP8L predictor mode {mode}")
                v = res[x]
                left = cur[x] = (
                    (((v & M) + (pred & M)) & M)
                    | ((((v >> 8 & M) + (pred >> 8 & M)) & M) << 8)
                )
        rows_out[y] = cur
        prev = cur
    px[..., 0] = (rows_out >> 24).astype(np.uint8)
    px[..., 1] = (rows_out >> 16).astype(np.uint8)
    px[..., 2] = (rows_out >> 8).astype(np.uint8)
    px[..., 3] = rows_out.astype(np.uint8)


def _read_subimage(br: _Bits, w: int, h: int) -> np.ndarray:
    return _decode_pixels(br, w, h, False)


@codec_errors
def decode_vp8l(data: bytes) -> np.ndarray:
    """Raw VP8L payload (inside the RIFF chunk) → HxW gray / HxWx3 RGB
    (alpha dropped, cv2.IMREAD_COLOR-style)."""
    br = _Bits(data)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("bad VP8L version")
    if w * h > VP8L_MAX_PIXELS:
        raise ValueError("VP8L too large for the pure-Python decoder")
    px = _decode_vp8l_body(br, w, h)
    rgb = px[..., 1:4][..., [0, 1, 2]]  # r, g, b
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    if (r == g).all() and (g == b).all():
        return np.ascontiguousarray(r)
    return np.ascontiguousarray(rgb)


def _decode_vp8l_rgba(data: bytes) -> np.ndarray:
    """Signatured VP8L payload → (h, w, 4) [a, r, g, b] — the
    alpha-keeping variant the animated compositor uses."""
    br = _Bits(data)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("bad VP8L version")
    if w * h > VP8L_MAX_PIXELS:
        raise ValueError("VP8L too large for the pure-Python decoder")
    return _decode_vp8l_body(br, w, h)


def _decode_vp8l_body(br: _Bits, w: int, h: int) -> np.ndarray:
    """Headerless VP8L image-stream (transforms + entropy-coded pixels
    + inverse transforms) → (h, w, 4) [a, r, g, b]. Shared by the
    signatured still path (decode_vp8l) and the ALPH lossless path,
    whose stream has IMPLICIT dimensions and no signature/size header
    (container spec "Alpha", compression method 1)."""
    transforms: list[tuple] = []
    seen = set()
    xsize = w  # color-indexing shrinks the coded width
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bits = 2 + br.read(3)
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            transforms.append(("pred", bits, _read_subimage(br, bw, bh)))
        elif ttype == 1:  # color transform
            bits = 2 + br.read(3)
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            transforms.append(("color", bits, _read_subimage(br, bw, bh)))
        elif ttype == 2:  # subtract green
            transforms.append(("sub_green",))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_img = _read_subimage(br, n_colors, 1)
            # palette entries are delta-coded component-wise
            pal = pal_img[0].astype(np.int32)
            pal = np.cumsum(pal, axis=0).astype(np.uint8)
            if n_colors > 16:
                ibits = 0
            elif n_colors > 4:
                ibits = 1
            elif n_colors > 2:
                ibits = 2
            else:
                ibits = 3
            xsize = (xsize + (1 << ibits) - 1) >> ibits
            transforms.append(("palette", pal))

    px = _decode_pixels(br, xsize, h, True)  # (h, xsize, 4) [a,r,g,b]

    for t in reversed(transforms):
        if t[0] == "palette":
            px = _inv_color_indexing(px, t[1], w)
        elif t[0] == "sub_green":
            _inv_subtract_green(px)
        elif t[0] == "pred":
            _inv_predictor(px, t[1], t[2])
        elif t[0] == "color":
            _inv_color_transform(px, t[1], t[2])
    if px.shape[1] != w:
        px = px[:, :w]
    return px


def _unfilter_alpha(plane: np.ndarray, method: int) -> np.ndarray:
    """Inverse of the ALPH per-pixel prediction filters (container spec
    "Alpha filtering method"): 0 none, 1 horizontal (left), 2 vertical
    (above), 3 gradient clamp(left+above−above_left). Border rule
    (mirrors libwebp dsp/filters.c): row 0 unfilters horizontally with
    predictor 0; later rows seed their first pixel from the pixel
    ABOVE it."""
    if method == 0:
        return plane
    h, w = plane.shape
    out = plane.astype(np.int32)
    if method == 1:  # horizontal: per-row cumsum, rows seeded from above
        out[0] = np.cumsum(out[0]) & 0xFF
        for y in range(1, h):
            out[y] = (np.cumsum(out[y]) + out[y - 1, 0]) & 0xFF
    elif method == 2:  # vertical: row 0 horizontal, then column deltas
        out[0] = np.cumsum(out[0]) & 0xFF
        out = np.cumsum(out, axis=0) & 0xFF
    elif method == 3:  # gradient: sequential in x — small planes only
        out[0] = np.cumsum(out[0]) & 0xFF
        for y in range(1, h):
            row = out[y]
            prev = out[y - 1]
            left = prev[0]
            for x in range(w):
                top = int(prev[x])
                top_left = int(prev[x - 1]) if x else int(prev[0])
                if x == 0:
                    top_left = top
                grad = min(255, max(0, left + top - top_left))
                left = (row[x] + grad) & 0xFF
                row[x] = left
    else:
        raise ValueError("bad ALPH filtering method")
    return out.astype(np.uint8)


def decode_alph(payload: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk payload → (h, w) uint8 alpha plane. Header byte
    (LSB-first): bits 0-1 compression (0 raw, 1 lossless), 2-3
    filtering, 4-5 pre-processing (encode-side level reduction — no
    decoder action). The lossless body is a HEADERLESS VP8L
    image-stream of implicit dimension w×h with the alpha values in
    the GREEN channel (container spec; validated against the real
    libwebp ALPH stream in tests/fixtures/python_logo.webp)."""
    if not payload:
        raise ValueError("empty ALPH chunk")
    if w * h > VP8L_MAX_PIXELS:
        raise ValueError("ALPH plane too large for the pure-Python decoder")
    head = payload[0]
    if head & 0xC0:
        raise ValueError("reserved ALPH header bits set")
    compression = head & 0x03
    filtering = (head >> 2) & 0x03
    body = payload[1:]
    if compression == 0:
        if len(body) < w * h:
            raise ValueError("truncated raw ALPH plane")
        plane = np.frombuffer(body[: w * h], dtype=np.uint8).reshape(h, w)
    elif compression == 1:
        px = _decode_vp8l_body(_Bits(body), w, h)
        plane = np.ascontiguousarray(px[..., 2])  # green channel
    else:
        raise ValueError("bad ALPH compression method")
    return _unfilter_alpha(plane, filtering)


def encode_alph(plane: np.ndarray, filtering: int = 0) -> bytes:
    """Fixture/test writer: raw-method ALPH payload (compression 0)
    with an optional forward prediction filter — the exact inverse of
    ``_unfilter_alpha``, so decode(encode(p)) == p by construction."""
    plane = np.asarray(plane, dtype=np.uint8)
    h, w = plane.shape
    if filtering == 0:
        body = plane.tobytes()
    else:
        ref = plane.astype(np.int32)
        res = np.empty_like(ref)
        for y in range(h):
            for x in range(w):
                if y == 0:
                    pred = int(ref[0, x - 1]) if x else 0
                elif filtering == 1:
                    pred = int(ref[y, x - 1]) if x else int(ref[y - 1, 0])
                elif filtering == 2:
                    pred = int(ref[y - 1, x])
                else:  # gradient
                    if x == 0:
                        pred = int(ref[y - 1, 0])
                    else:
                        left, top = int(ref[y, x - 1]), int(ref[y - 1, x])
                        tl = int(ref[y - 1, x - 1])
                        pred = min(255, max(0, left + top - tl))
                res[y, x] = (int(ref[y, x]) - pred) & 0xFF
        body = res.astype(np.uint8).tobytes()
    return bytes([(filtering & 3) << 2]) + body


@codec_errors
def decode_webp(data: bytes) -> np.ndarray:
    """RIFF/WEBP container → image. VP8L (lossless) and VP8 (lossy,
    intra-frame) both decode for real (kernels/vp8.py); an ANIMATED
    container returns its FIRST composited frame and decodes no later
    one (the cv2.imdecode still-image convention — full frame access is
    decode_webp_frames)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    for tag, b, e in riff_chunks(data, 12, len(data)):
        if tag == b"ANMF":
            return next(_webp_frames(data))
        if tag == b"VP8L":
            return decode_vp8l(data[b:e])
        if tag == b"VP8 ":
            from ragflow_ocr_spark.kernels import vp8 as vp8mod

            return vp8mod.decode_vp8(data[b:e])
    raise ValueError("WebP container has no VP8L/VP8/ANMF chunk")


_VP8X_ANIM_FLAG = 0x02


@codec_errors
def decode_webp_frames(data: bytes) -> list[np.ndarray]:
    """Animated RIFF/WEBP (VP8X + ANIM + ANMF chunks) → list of fully
    COMPOSITED canvas frames, HxW gray / HxWx3 RGB per the module's
    decode convention. A still WebP returns a one-frame list.

    Per the container spec, every ANMF frame embeds a complete VP8
    keyframe or VP8L bitstream (temporal compression is frame rects +
    blend/dispose, not inter prediction), so the still decoders carry
    all pixel work. Compositing: the canvas is RGBA (alpha tracked
    internally), starting as the ANIM background color; each frame
    pastes or alpha-blends its rect (ANMF blend flag; ALPH subchunks
    decode for real — decode_alph; a lossy frame's alpha rides ALPH,
    a VP8L frame's alpha rides its own A channel), and
    dispose-to-background restores the rect after the frame is
    emitted. Emitted frames follow the module's RGB convention:
    canvas composited over the ANIM background by canvas alpha, in
    float64 with round-half-even — documented, deterministic
    semantics (libwebp itself blends in fixed-point; sub-LSB
    differences possible on wild files). Reference analogue:
    cv2.imdecode accepts animated WebP and surfaces the first frame
    (/root/reference/ocr/operators.py:41-46); the frame list feeds
    multimodal frame sampling."""
    return list(_webp_frames(data))


def _webp_frames(data: bytes):
    """``decode_webp_frames``' frames, composited one at a time, so
    ``decode_webp`` decodes only the first of an animation."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    vp8x = anim = None
    anmfs: list[tuple[int, int]] = []
    for tag, b, e in riff_chunks(data, 12, len(data)):
        if tag == b"VP8X":
            vp8x = data[b:e]
        elif tag == b"ANIM":
            anim = data[b:e]
        elif tag == b"ANMF":
            anmfs.append((b, e))
    if not anmfs:
        yield decode_webp(data)
        return
    if vp8x is None or len(vp8x) < 10 or not vp8x[0] & _VP8X_ANIM_FLAG:
        raise ValueError("ANMF frames without a VP8X animation flag")
    if anim is None or len(anim) < 6:
        raise ValueError("ANMF frames without an ANIM chunk")
    cw = 1 + int.from_bytes(vp8x[4:7], "little")
    ch = 1 + int.from_bytes(vp8x[7:10], "little")
    if cw * ch > VP8L_MAX_PIXELS:
        raise ValueError("animated WebP canvas too large for the pure-Python decoder")
    # ANIM background color is [B, G, R, A] byte order
    bg = np.array([anim[2], anim[1], anim[0]], dtype=np.uint8)
    bg_a = anim[3]
    canvas = np.empty((ch, cw, 3), dtype=np.uint8)
    canvas[:] = bg
    canvas_a = np.full((ch, cw), bg_a, dtype=np.uint8)
    from ragflow_ocr_spark.kernels import vp8 as vp8mod

    # total-output budget, same rule as the GIF animation decoder
    # (imgcodecs.py): a crafted container with thousands of tiny ANMF
    # frames must become a per-row error, not a task straggler
    if len(anmfs) * cw * ch > MAX_DECODE_PIXELS:
        raise ValueError("animated WebP exceeds the composited-pixel budget")
    for lo, hi in anmfs:
        if hi - lo < 16:
            raise ValueError("truncated ANMF header")
        anmf = data[lo:lo + 16]
        fx = 2 * int.from_bytes(anmf[0:3], "little")
        fy = 2 * int.from_bytes(anmf[3:6], "little")
        fw = 1 + int.from_bytes(anmf[6:9], "little")
        fh = 1 + int.from_bytes(anmf[9:12], "little")
        flags = anmf[15]  # bit 0: dispose-to-background, bit 1: no-blend
        img = None
        alpha = None
        alph_payload = None
        for tag, b, e in riff_chunks(data, lo + 16, hi):
            if tag == b"ALPH":
                # spec: ALPH precedes the VP8 chunk it augments
                alph_payload = data[b:e]
            elif tag == b"VP8 ":
                img = vp8mod.decode_vp8(data[b:e])
                break
            elif tag == b"VP8L":
                # a VP8L frame carries alpha in its own A channel;
                # an ALPH chunk alongside it is ignored per spec
                px = _decode_vp8l_rgba(data[b:e])
                img = np.ascontiguousarray(px[..., 1:4])
                alpha = np.ascontiguousarray(px[..., 0])
                alph_payload = None
                break
        if img is None:
            raise ValueError("ANMF frame without VP8/VP8L data")
        if img.ndim == 2:
            img = np.stack([img] * 3, axis=-1)
        if img.shape[:2] != (fh, fw):
            raise ValueError("ANMF frame size mismatch vs decoded bitstream")
        if fx + fw > cw or fy + fh > ch:
            raise ValueError("ANMF frame rect outside the canvas")
        if alph_payload is not None:
            alpha = decode_alph(alph_payload, fw, fh)
        if alpha is None:
            alpha = np.full((fh, fw), 255, dtype=np.uint8)
        dst = canvas[fy : fy + fh, fx : fx + fw]
        dst_a = canvas_a[fy : fy + fh, fx : fx + fw]
        if flags & 0x02 or (alpha == 255).all():  # no-blend / opaque: overwrite
            dst[:] = img
            dst_a[:] = alpha
        else:
            # container-spec alpha blending, float64 + round-half-even:
            #   out.a   = src.a + dst.a·(1−src.a/255)
            #   out.rgb = (src.rgb·src.a + dst.rgb·dst.a·(1−src.a/255)) / out.a
            sa = alpha.astype(np.float64) / 255.0
            da = dst_a.astype(np.float64) / 255.0
            oa = sa + da * (1.0 - sa)
            num = (img.astype(np.float64) * sa[..., None]
                   + dst.astype(np.float64) * (da * (1.0 - sa))[..., None])
            safe = np.maximum(oa, 1e-12)
            dst[:] = np.rint(num / safe[..., None]).astype(np.uint8)
            dst_a[:] = np.rint(oa * 255.0).astype(np.uint8)
        # emit: canvas over the ANIM background by canvas alpha (RGB
        # output convention — see docstring)
        ca = canvas_a.astype(np.float64)[..., None] / 255.0
        out = np.rint(canvas.astype(np.float64) * ca
                      + bg.astype(np.float64) * (1.0 - ca)).astype(np.uint8)
        r, g, b = out[..., 0], out[..., 1], out[..., 2]
        yield np.ascontiguousarray(r) if (r == g).all() and (g == b).all() else out
        if flags & 0x01:  # dispose to background
            canvas[fy : fy + fh, fx : fx + fw] = bg
            canvas_a[fy : fy + fh, fx : fx + fw] = bg_a


def _riff_chunk_bytes(tag: bytes, payload: bytes) -> bytes:
    out = tag + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        out += b"\x00"
    return out


def encode_webp_animated(
    frames: list[dict],
    canvas_w: int,
    canvas_h: int,
    bg_rgba: tuple = (255, 255, 255, 255),
    loops: int = 0,
) -> bytes:
    """Animated WebP container writer (fixtures/tests — mirror of
    decode_webp_frames). Each frame dict: ``tag`` (b"VP8 "/b"VP8L"),
    ``data`` (raw bitstream, e.g. vp8.encode_vp8_flat_payload or the
    VP8L encoder's chunk payload), ``x``/``y`` (even canvas offsets),
    ``w``/``h`` (must match the bitstream), optional ``duration`` ms,
    ``dispose`` (to background), ``blend``, and optional ``alpha`` —
    an (h, w) uint8 plane emitted as a raw-method ALPH subchunk
    before the VP8 chunk (``alpha_filter`` selects its prediction
    filter, default 0)."""
    body = _riff_chunk_bytes(
        b"VP8X",
        bytes([_VP8X_ANIM_FLAG, 0, 0, 0])
        + (canvas_w - 1).to_bytes(3, "little")
        + (canvas_h - 1).to_bytes(3, "little"),
    )
    r, g, b, a = bg_rgba
    body += _riff_chunk_bytes(
        b"ANIM", bytes([b, g, r, a]) + struct.pack("<H", loops)
    )
    for f in frames:
        x, y = f.get("x", 0), f.get("y", 0)
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets must be even (stored /2)")
        hdr = (
            (x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (f["w"] - 1).to_bytes(3, "little")
            + (f["h"] - 1).to_bytes(3, "little")
            + int(f.get("duration", 40)).to_bytes(3, "little")
            + bytes(
                [
                    (0x02 if not f.get("blend", True) else 0)
                    | (0x01 if f.get("dispose", False) else 0)
                ]
            )
        )
        inner = b""
        if f.get("alpha") is not None:
            if f["tag"] != b"VP8 ":
                raise ValueError("ALPH subchunks only augment lossy VP8 frames")
            inner += _riff_chunk_bytes(
                b"ALPH", encode_alph(f["alpha"], f.get("alpha_filter", 0))
            )
        inner += _riff_chunk_bytes(f["tag"], f["data"])
        body += _riff_chunk_bytes(b"ANMF", hdr + inner)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


# ---------------------------------------------------------------- encoder
class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


def _huffman_lengths(freqs: dict[int, int], maxlen: int = 15) -> dict[int, int]:
    """Package-merge-free simple Huffman with length cap via re-leveling."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if len(syms) <= 1:
        return {s: 1 for s in syms}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(freqs.items()) if f > 0]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for s in syms}
    i = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, i, s1 + s2))
        i += 1
    if max(depth.values()) > maxlen:
        # flatten: assign ceil-balanced lengths (valid, suboptimal)
        k = len(syms)
        bits = max(1, (k - 1).bit_length())
        if bits > maxlen:
            raise ValueError("alphabet too large for cap")
        # complete code: 2^bits slots, k used — pad by shortening none;
        # use canonical complete assignment: all at `bits` except
        # (2^bits - k) promoted one level up pairwise
        depth = {}
        promote = (1 << bits) - k
        for j, s in enumerate(sorted(syms)):
            depth[s] = bits - 1 if j < promote and bits > 1 else bits
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    if len(lengths) == 1:
        # single-symbol code: the decoder reads ZERO bits per symbol
        return {next(iter(lengths)): (0, 0)}
    codes = {}
    code = 0
    prev_len = 0
    for ln, sym in sorted((ln, s) for s, ln in lengths.items()):
        code <<= ln - prev_len
        prev_len = ln
        rev = int(f"{code:0{ln}b}"[::-1], 2) if ln else 0
        codes[sym] = (rev, ln)
        code += 1
    return codes


def _write_prefix_code(bw: _BitWriter, lengths: dict[int, int], alphabet: int) -> None:
    """Emit a prefix code: simple form for 1-2 unit-length symbols,
    else the normal code-length-coded form (zero runs via 17/18; the
    full alphabet is covered so the decoder's read loop terminates)."""
    syms = sorted(lengths)
    if (
        1 <= len(syms) <= 2
        and all(lengths[s] == 1 for s in syms)
        and max(syms) < 256  # simple-form symbols are ≤ 8 bits wide
    ):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        first_8 = 1 if syms[0] > 1 else 0
        bw.write(first_8, 1)
        bw.write(syms[0], 8 if first_8 else 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # normal
    # (symbol, payload) stream covering ALL `alphabet` entries
    seq: list[tuple[int, int | None]] = []
    i = 0
    while i < alphabet:
        ln = lengths.get(i, 0)
        if ln:
            seq.append((ln, None))
            i += 1
            continue
        run = 0
        while i < alphabet and lengths.get(i, 0) == 0:
            run += 1
            i += 1
        while run >= 11:
            r = min(run, 138)
            seq.append((18, r - 11))
            run -= r
        while run >= 3:
            r = min(run, 10)
            seq.append((17, r - 3))
            run -= r
        seq.extend([(0, None)] * run)
    clc_freq: dict[int, int] = {}
    for s, _p in seq:
        clc_freq[s] = clc_freq.get(s, 0) + 1
    clc_len = _huffman_lengths(clc_freq, maxlen=7)
    clc_codes = _canonical_codes(clc_len)
    order_pos = {s: k for k, s in enumerate(_CLC_ORDER)}
    n_clc = max(4, max(order_pos[s] for s in clc_len) + 1)
    bw.write(n_clc - 4, 4)
    for k in range(n_clc):
        bw.write(clc_len.get(_CLC_ORDER[k], 0), 3)
    bw.write(0, 1)  # no max_symbol cap
    for s, p in seq:
        c, ln = clc_codes[s]
        bw.write(c, ln)
        if s == 17:
            bw.write(p, 3)
        elif s == 18:
            bw.write(p, 7)


def _lz77_code(value: int) -> tuple[int, int, int]:
    """value (≥1) → (prefix code, n extra bits, extra value)."""
    if value <= 4:
        return value - 1, 0, 0
    u = value - 1
    for code in range(4, 40):
        extra = (code - 2) >> 1
        offset = (2 + (code & 1)) << extra
        if offset <= u < offset + (1 << extra):
            return code, extra, u - offset
    raise ValueError(f"LZ77 value {value} out of range")


class _Writer:
    """Symbol-level writer for one prefix-code group."""

    def __init__(self, tokens: list[tuple]):
        # tokens: ("lit", a, r, g, b) | ("copy", length, plane)
        self.tokens = tokens
        gf: dict[int, int] = {}
        rf: dict[int, int] = {}
        bf: dict[int, int] = {}
        af: dict[int, int] = {}
        df: dict[int, int] = {}
        for t in tokens:
            if t[0] == "lit":
                _k, a, r, g, b = t
                gf[g] = gf.get(g, 0) + 1
                rf[r] = rf.get(r, 0) + 1
                bf[b] = bf.get(b, 0) + 1
                af[a] = af.get(a, 0) + 1
            else:
                lcode, _e, _v = _lz77_code(t[1])
                gf[256 + lcode] = gf.get(256 + lcode, 0) + 1
                dcode, _e2, _v2 = _lz77_code(t[2])
                df[dcode] = df.get(dcode, 0) + 1
        # every alphabet needs ≥1 symbol for a decodable code
        for f in (gf, rf, bf, af, df):
            if not f:
                f[0] = 1
        self.freqs = (gf, rf, bf, af, df)

    def emit(self, bw: _BitWriter) -> None:
        gl = _huffman_lengths(self.freqs[0])
        rl = _huffman_lengths(self.freqs[1])
        bl = _huffman_lengths(self.freqs[2])
        al = _huffman_lengths(self.freqs[3])
        dl = _huffman_lengths(self.freqs[4])
        _write_prefix_code(bw, gl, 256 + 24)
        _write_prefix_code(bw, rl, 256)
        _write_prefix_code(bw, bl, 256)
        _write_prefix_code(bw, al, 256)
        _write_prefix_code(bw, dl, 40)
        gc, rc, bc, ac, dc = map(
            _canonical_codes, (gl, rl, bl, al, dl)
        )
        for t in self.tokens:
            if t[0] == "lit":
                _k, a, r, g, b = t
                for codes, sym in ((gc, g), (rc, r), (bc, b), (ac, a)):
                    c, ln = codes[sym]
                    bw.write(c, ln)
            else:
                lcode, le, lv = _lz77_code(t[1])
                c, ln = gc[256 + lcode]
                bw.write(c, ln)
                bw.write(lv, le)
                dcode, de, dv = _lz77_code(t[2])
                c, ln = dc[dcode]
                bw.write(c, ln)
                bw.write(dv, de)


def _tokens_from_argb(argb: np.ndarray, rle: bool) -> list[tuple]:
    """(h, w, 4) [a,r,g,b] → literal/copy tokens (row-major). With
    ``rle``, runs of the previous pixel become LZ77 copies at
    distance 1 (plane code 121) — exercising the decoder's
    back-reference path."""
    h, w = argb.shape[:2]
    flat = argb.reshape(-1, 4)
    tokens: list[tuple] = []
    n = len(flat)
    i = 0
    while i < n:
        if rle and i > 0 and (flat[i] == flat[i - 1]).all():
            run = 1
            while i + run < n and run < 4000 and (flat[i + run] == flat[i - 1]).all():
                run += 1
            tokens.append(("copy", run, 121))  # distance 1 → plane 1+120
            i += run
            continue
        a, r, g, b = (int(x) for x in flat[i])
        tokens.append(("lit", a, r, g, b))
        i += 1
    return tokens


def encode_vp8l(
    img: np.ndarray,
    rle: bool = True,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    palette: bool = False,
) -> bytes:
    """uint8 gray / RGB → raw VP8L payload. Optional forward
    transforms exist to round-trip-test the decoder's inverse paths."""
    if img.ndim == 2:
        r = g = b = img
    else:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
    h, w = img.shape[:2]
    argb = np.stack(
        [np.full((h, w), 255, np.uint8), r, g, b], axis=-1
    ).astype(np.uint8)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha hint
    bw.write(0, 3)  # version

    if palette:
        if subtract_green or predictor_mode is not None:
            raise ValueError("palette mode is standalone in this encoder")
        colors, inv = np.unique(
            argb.reshape(-1, 4), axis=0, return_inverse=True
        )
        n_colors = len(colors)
        if n_colors > 256:
            raise ValueError("palette mode needs <=256 colors")
        idx = inv.astype(np.uint8).reshape(h, w)
        bw.write(1, 1)
        bw.write(3, 2)  # color-indexing transform
        bw.write(n_colors - 1, 8)
        # palette subimage: 1 x n_colors, component-wise delta-coded
        deltas = colors.astype(np.int16)
        deltas[1:] -= colors[:-1].astype(np.int16)
        pal_img = (deltas & 0xFF).astype(np.uint8).reshape(1, n_colors, 4)
        bw.write(0, 1)  # subimage: no color cache
        _Writer(_tokens_from_argb(pal_img, rle=False)).emit(bw)
        # pixel bundling: pack 2^ibits indices per green byte
        if n_colors > 16:
            ibits = 0
        elif n_colors > 4:
            ibits = 1
        elif n_colors > 2:
            ibits = 2
        else:
            ibits = 3
        if ibits:
            per = 1 << ibits
            sub = 8 >> ibits
            pw = (w + per - 1) // per
            packed = np.zeros((h, pw), np.uint8)
            for k in range(per):
                cols = np.arange(k, w, per)
                packed[:, : len(cols)] |= (idx[:, cols] << (k * sub)).astype(
                    np.uint8
                )
            idx_img = packed
        else:
            idx_img = idx
        ph, pww = idx_img.shape
        bundled = np.zeros((ph, pww, 4), np.uint8)
        bundled[..., 0] = 255
        bundled[..., 2] = idx_img
        bw.write(0, 1)  # end of transforms
        bw.write(0, 1)  # no color cache
        bw.write(0, 1)  # no meta prefix image
        _Writer(_tokens_from_argb(bundled, rle)).emit(bw)
        return bw.done()

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # transform type 2
        a2 = argb.astype(np.int16)
        a2[..., 1] -= a2[..., 2]
        a2[..., 3] -= a2[..., 2]
        argb = (a2 & 0xFF).astype(np.uint8)
    if predictor_mode is not None:
        bw.write(1, 1)
        bw.write(0, 2)  # transform type 0
        bits = 4  # 16x16 blocks
        bw.write(bits - 2, 3)
        bwid = (w + (1 << bits) - 1) >> bits
        bhei = (h + (1 << bits) - 1) >> bits
        # sub-image of predictor modes (mode in the green field)
        modes = np.zeros((bhei, bwid, 4), np.uint8)
        modes[..., 0] = 255
        modes[..., 2] = predictor_mode
        sub_bw_tokens = _tokens_from_argb(modes, rle=True)
        # forward-predict: residual = px - pred(original neighbors)
        src = argb.astype(np.int32)
        res = src.copy()
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = (255, 0, 0, 0)
                elif y == 0:
                    pred = tuple(src[y, x - 1])
                elif x == 0:
                    pred = tuple(src[y - 1, x])
                else:
                    if predictor_mode == 2:
                        pred = tuple(src[y - 1, x])
                    elif predictor_mode == 1:
                        pred = tuple(src[y, x - 1])
                    elif predictor_mode == 7:
                        L, T = src[y, x - 1], src[y - 1, x]
                        pred = tuple((int(L[c]) + int(T[c])) // 2 for c in range(4))
                    else:
                        raise ValueError(
                            "encoder supports forward predictor modes 1/2/7"
                        )
                for c in range(4):
                    res[y, x, c] = (src[y, x, c] - pred[c]) & 0xFF
        # sub-image: no meta bit (it IS a subimage): cache flag + codes
        bw.write(0, 1)  # no color cache in subimage
        _Writer(sub_bw_tokens).emit(bw)
        argb = res.astype(np.uint8)
    bw.write(0, 1)  # end of transforms

    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix image
    _Writer(_tokens_from_argb(argb, rle)).emit(bw)
    return bw.done()


def encode_webp(img: np.ndarray, **kw) -> bytes:
    payload = encode_vp8l(img, **kw)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
