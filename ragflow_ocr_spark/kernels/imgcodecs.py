"""Stdlib/numpy image codecs beyond PNG: BMP, TIFF, GIF, and
baseline JPEG.

The reference decodes every payload through ``cv2.imdecode``
(``/root/reference/ocr/operators.py:37-46``) and its batch CLI globs
``*.jpg/.png/.bmp/.tiff`` (``examples/batch_processing.py:28-38``).
cv2 is not available in this sandbox, so each format gets a
deterministic pure-Python decoder (and a minimal encoder for test
fixtures) with the same contract as ``pngcodec``: bytes in, HxW or
HxWx3 uint8 out, ``ValueError`` on malformed input (the Spark stage
maps that to a per-row error status, never a task failure).

Scope (documented substitution, like the PNG codec):
- BMP: 1/4/8-bit palette / 24-bit / 32-bit uncompressed (BI_RGB) plus
  RLE8/RLE4 (BI_RLE8/BI_RLE4 with encoded, absolute, delta, EOL and
  EOB ops), both
  row orders.
- GIF: 87a/89a first frame — LZW, global/local color tables,
  interlacing, extension blocks; the encoder emits single-frame
  256-color GIF89a for fixtures.
- TIFF: compression none/LZW (MSB-first, EarlyChange)/Deflate (8 and
  legacy AdobeDeflate 32946)/PackBits with
  the horizontal-differencing predictor, little- or big-endian, gray
  or RGB, chunky, any strip layout.
- JPEG: baseline sequential DCT (SOF0), extended sequential Huffman
  (SOF1 — identical scan syntax at 8-bit) AND progressive DCT (SOF2 —
  spectral selection + successive approximation, EOBn runs, DC/AC
  refinement scans; the most common real-crawl payload after
  baseline), 8-bit, grayscale or YCbCr with arbitrary sampling
  factors (4:4:4, 4:2:0, ...), restart markers, and multi-scan
  sequential files (one non-interleaved scan per component); the
  encoders emit the standard Annex-K tables (progressive script: DC
  first Al=1 → AC first Al=1 per component → AC refine → DC refine).
  Arithmetic coding (T.81 QM coder + DAC conditioning) decodes and
  encodes via kernels/jpeg_arith.py for BOTH sequential (SOF9) and
  progressive (SOF10) frames, with restart intervals and
  non-interleaved scans, cross-validated against the system libjpeg.
  Lossless JPEG (SOF3, T.81 Annex H predictive coding — predictors
  1-7, point transform, 2..16-bit precision, restarts) decodes and
  encodes via kernels/jpeg_lossless.py; the differential/hierarchical
  SOFs and arithmetic-lossless (SOF11) stay named rejections.

Every JPEG scan of the three modules, Huffman, progressive, arithmetic
or lossless, decoded or encoded, visits its units in the order
``scan_units`` yields (T.81 A.2: the MCU grid when interleaved, the
component's own grid when not) and restarts where it says. The
encoders write their marker segments through one writer each:
``_jpeg_headers`` (SOI, APP14, DQT, SOF, DAC, DRI, DHT), ``_sos_segment``
and ``_rst_marker``; ``_quantize`` is the batched DCT and quantizer of
the progressive and arithmetic encoders, and ``_ycc_to_rgb`` /
``_rgb_to_ycc`` the one JFIF colour map each way.
"""

from __future__ import annotations

import struct
import zlib
from itertools import product, repeat

import numpy as np

from ragflow_ocr_spark.kernels.pngcodec import codec_errors


# untrusted-payload ceiling: a ~200-byte JPEG can declare 32768x32768
# and would otherwise allocate GBs of coefficient arrays and iterate
# millions of MCUs in Python. 64 MPix covers any real page scan.
MAX_DECODE_PIXELS = 1 << 26


# ----------------------------------------------------------------- BMP
BMP_MAGIC = b"BM"


def encode_bmp(img: np.ndarray) -> bytes:
    """HxW (gray) or HxWx3 (RGB) uint8 → 24-bit bottom-up BI_RGB BMP."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w, _ = img.shape
    row_len = (w * 3 + 3) & ~3
    px = np.zeros((h, row_len), dtype=np.uint8)
    # BMP stores BGR, bottom-up
    px[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    data = px.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", BMP_MAGIC, off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def _bmp_rle_decode(
    data: bytes, off: int, w: int, h: int, four_bit: bool
) -> np.ndarray:
    """BI_RLE8/BI_RLE4 → (h, w) palette-index matrix, top-down.

    RLE bitmaps are always stored bottom-up; runs past the row width
    clip (writes bounded, cursor still advances), so a malicious
    stream can never write outside the declared h×w allocation. A
    pixel-data offset outside the file, or a stream that ends without
    consuming a single op, raises (the loud-error convention of the
    other truncation paths — ADVICE r04). RLE4 runs are vectorized
    like RLE8: a crafted ~500 KB RLE4 near the pixel ceiling must not
    become a tens-of-millions-iteration task straggler (ADVICE r04)."""
    n = len(data)
    if off >= n:
        raise ValueError("BMP pixel-data offset outside the file")
    idx = np.zeros((h, w), np.uint8)
    x = y = 0
    p = off
    saw_op = False
    while p + 1 < n:
        saw_op = True
        c, v = data[p], data[p + 1]
        p += 2
        if c:  # encoded run: c pixels of v (RLE4: alternating nibbles)
            if y >= h:
                raise ValueError("bad BMP RLE (run past last row)")
            take = min(c, w - x)
            if take > 0:
                if four_bit:
                    pat = np.empty(take, np.uint8)
                    pat[0::2] = v >> 4
                    pat[1::2] = v & 0xF
                    idx[y, x : x + take] = pat
                else:
                    idx[y, x : x + take] = v
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta move
            if p + 2 > n:
                raise ValueError("truncated BMP RLE delta")
            x += data[p]
            y += data[p + 1]
            p += 2
            if y > h or x > w:
                raise ValueError("bad BMP RLE delta")
        else:  # absolute mode: v literal pixels, word-aligned
            cnt = v
            nbytes = (cnt + 1) // 2 if four_bit else cnt
            aligned = (nbytes + 1) & ~1
            if p + aligned > n:
                raise ValueError("truncated BMP RLE absolute run")
            if y >= h:
                raise ValueError("bad BMP RLE (absolute run past last row)")
            take = min(cnt, w - x)
            if take > 0:
                if four_bit:
                    raw = np.frombuffer(data, np.uint8, (take + 1) // 2, p)
                    nibs = np.empty(2 * len(raw), np.uint8)
                    nibs[0::2] = raw >> 4
                    nibs[1::2] = raw & 0xF
                    idx[y, x : x + take] = nibs[:take]
                else:
                    idx[y, x : x + take] = np.frombuffer(data, np.uint8, take, p)
            x += cnt
            p += aligned
    if not saw_op:
        raise ValueError("empty BMP RLE stream")
    return idx[::-1]


def _bmp_palette_map(data: bytes, hdr_size: int, bpp: int, idx: np.ndarray) -> np.ndarray:
    n_colors = struct.unpack_from("<I", data, 46)[0] or (1 << bpp)
    pal = np.frombuffer(data, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size)
    pal = pal.reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRA → RGB
    if int(idx.max()) >= n_colors:
        raise ValueError("BMP palette index out of range")
    rgb = pal[idx]
    if (rgb[..., 0] == rgb[..., 1]).all() and (rgb[..., 1] == rgb[..., 2]).all():
        return np.ascontiguousarray(rgb[..., 0])
    return np.ascontiguousarray(rgb)


@codec_errors
def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes → HxW (if palette is grayscale) or HxWx3 uint8 RGB.

    BI_RGB at 1/4/8/24/32 bpp plus BI_RLE8 and BI_RLE4 — the cv2
    format set for the BMPs that actually occur in crawls."""
    if len(data) < 54 or data[:2] != BMP_MAGIC:
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    rle = (compression, bpp) in ((1, 8), (2, 4))
    if planes != 1 or not (
        rle or (compression == 0 and bpp in (1, 4, 8, 24, 32))
    ):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    if w <= 0 or h_signed == 0 or w > 1 << 16 or abs(h_signed) > 1 << 16:
        raise ValueError("bad BMP dimensions")
    h = abs(h_signed)
    # decompression-bomb guard BEFORE any allocation: the RLE path
    # otherwise allocates h×w from header dims alone (a ~70-byte file
    # declaring 65536×65536 is a 4 GiB index array), and MemoryError is
    # a task failure, not a per-row error
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"BMP too large ({w}x{h} > {MAX_DECODE_PIXELS} px)")
    top_down = h_signed < 0
    if rle:
        if top_down:
            raise ValueError("RLE BMP must be bottom-up")
        return _bmp_palette_map(
            data, hdr_size, bpp, _bmp_rle_decode(data, off, w, h, bpp == 4)
        )
    row_len = ((w * bpp + 31) // 32) * 4
    need = off + row_len * h
    if len(data) < need:
        raise ValueError("truncated BMP")
    rows = np.frombuffer(data, dtype=np.uint8, count=row_len * h, offset=off)
    rows = rows.reshape(h, row_len)
    if not top_down:
        rows = rows[::-1]
    if bpp == 1:
        idx = np.unpackbits(np.ascontiguousarray(rows), axis=1)[:, :w]
        return _bmp_palette_map(data, hdr_size, bpp, idx)
    if bpp == 4:
        idx = np.zeros((h, w), np.uint8)
        half = rows[:, : (w + 1) // 2]
        idx[:, 0::2] = half >> 4
        idx[:, 1::2] = half[:, : w // 2] & 0xF
        return _bmp_palette_map(data, hdr_size, bpp, idx)
    if bpp == 8:
        return _bmp_palette_map(data, hdr_size, bpp, rows[:, :w])
    step = bpp // 8
    px = rows[:, : w * step].reshape(h, w, step)
    return np.ascontiguousarray(px[:, :, 2::-1])  # BGR(A) → RGB


# ---------------------------------------------------------------- TIFF
TIFF_MAGIC_LE = b"II*\x00"
TIFF_MAGIC_BE = b"MM\x00*"


def _tiff_lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF LZW (MSB-first packing, CLEAR=256/EOI=257, 9→12-bit codes
    with the spec's EarlyChange width bump)."""
    CLEAR, EOI = 256, 257
    width = 9
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    i = 0
    n = len(data)
    while True:
        while nbits < width and i < n:
            acc = (acc << 8) | data[i]
            nbits += 8
            i += 1
        if nbits < width:
            break
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if code < len(table) and (code < 256 or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("bad TIFF LZW code")
        out += entry
        if len(out) > max_out:
            raise ValueError("TIFF LZW output exceeds strip size")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        # EarlyChange + the decoder's one-entry lag behind the encoder
        # (an entry is appended only when the NEXT code arrives): grow
        # at size-2 so code widths stay in lockstep — libtiff semantics
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(CLEAR)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code < 4094:
            table[wc] = next_code
            next_code += 1
            if next_code >= (1 << width) - 1 and width < 12:  # EarlyChange
                width += 1
        else:
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_predictor_undo(a: np.ndarray) -> np.ndarray:
    """Undo TIFF tag-317=2 horizontal differencing on (h, w, channels)
    uint8 samples (shared by decode_tiff and the PDF /DecodeParms
    predictor so a fix to one reaches the other)."""
    return (np.cumsum(a.astype(np.int32), axis=1) & 0xFF).astype(np.uint8)


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < max_out:
        b = data[i]
        i += 1
        if b == 128:  # noop
            continue
        if b < 128:  # literal run of b+1
            out += data[i : i + b + 1]
            i += b + 1
        else:  # repeat next byte 257-b times
            if i >= n:
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - b)
            i += 1
    return bytes(out[:max_out])


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 1 < n and i + 2 < n and data[i] == data[i + 1] == data[i + 2])
        ):
            i += 1
        out.append(i - lit - 1)
        out += data[lit:i]
    return bytes(out)


def encode_tiff(
    img: np.ndarray, compression: str = "none", predictor: bool = False
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → little-endian TIFF, single strip,
    chunky. ``compression``: none / lzw / deflate / packbits;
    ``predictor`` applies the horizontal differencing predictor (tag
    317=2, LZW/Deflate) — the layouts real scanner/exporter TIFFs use."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    spp = 1 if gray else 3
    raw = img
    if predictor:
        if compression not in ("lzw", "deflate"):
            raise ValueError("predictor is defined for LZW/Deflate here")
        p = img.reshape(h, w, spp).astype(np.int16)
        p[:, 1:] -= img.reshape(h, w, spp)[:, :-1]
        raw = (p & 0xFF).astype(np.uint8)
    data = raw.tobytes()
    comp_id = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773}[compression]
    if compression == "lzw":
        data = _tiff_lzw_encode(data)
    elif compression == "deflate":
        data = zlib.compress(data)
    elif compression == "packbits":
        data = _packbits_encode(data)
    # IFD after the 8-byte header; pixel data after the IFD
    def tag(tid: int, ttype: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tid, ttype, count, value)

    n_tags = (8 if gray else 9) + (1 if predictor else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + n_tags * 12 + 4
    bps_off = data_off  # for RGB: BitsPerSample needs 3 shorts out-of-line
    extra = b""
    if not gray:
        extra = struct.pack("<HHH", 8, 8, 8) + b"\x00\x00"
    strip_off = data_off + len(extra)
    tags = [
        tag(256, 4, 1, w),                            # ImageWidth
        tag(257, 4, 1, h),                            # ImageLength
        tag(258, 3, 1, 8) if gray else tag(258, 3, 3, bps_off),  # BitsPerSample
        tag(259, 3, 1, comp_id),                      # Compression
        tag(262, 3, 1, 1 if gray else 2),             # Photometric
        tag(273, 4, 1, strip_off),                    # StripOffsets
        tag(278, 4, 1, h),                            # RowsPerStrip
        tag(279, 4, 1, len(data)),                    # StripByteCounts
    ]
    if not gray:
        tags.insert(6, tag(277, 3, 1, spp))           # SamplesPerPixel
    if predictor:
        tags.append(tag(317, 3, 1, 2))                # Predictor: horizontal
    tags.sort(key=lambda t: struct.unpack_from("<H", t)[0])
    ifd = struct.pack("<H", len(tags)) + b"".join(tags) + struct.pack("<I", 0)
    assert len(ifd) == 2 + n_tags * 12 + 4
    return TIFF_MAGIC_LE + struct.pack("<I", ifd_off) + ifd + extra + data


@codec_errors
def decode_tiff(data: bytes) -> np.ndarray:
    """Uncompressed TIFF → HxW or HxWx3 uint8."""
    if data[:4] == TIFF_MAGIC_LE:
        bo = "<"
    elif data[:4] == TIFF_MAGIC_BE:
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF")
    (n_tags,) = struct.unpack_from(bo + "H", data, ifd_off)
    fields: dict[int, tuple[int, int, bytes]] = {}
    type_size = {1: 1, 2: 1, 3: 2, 4: 4}
    for i in range(n_tags):
        ent = ifd_off + 2 + i * 12
        if ent + 12 > len(data):
            raise ValueError("truncated TIFF IFD")
        tid, ttype, count = struct.unpack_from(bo + "HHI", data, ent)
        if ttype not in type_size:
            continue
        nbytes = type_size[ttype] * count
        if nbytes <= 4:
            raw = data[ent + 8 : ent + 8 + nbytes]
        else:
            (voff,) = struct.unpack_from(bo + "I", data, ent + 8)
            if voff + nbytes > len(data):
                raise ValueError("truncated TIFF value")
            raw = data[voff : voff + nbytes]
        fields[tid] = (ttype, count, raw)

    def vals(tid: int, default=None) -> list[int]:
        if tid not in fields:
            if default is None:
                raise ValueError(f"TIFF missing tag {tid}")
            return default
        ttype, count, raw = fields[tid]
        fmt = {1: "B", 3: "H", 4: "I"}[ttype]
        return list(struct.unpack(bo + fmt * count, raw))

    w = vals(256)[0]
    h = vals(257)[0]
    if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16):
        raise ValueError("bad TIFF dimensions")
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"TIFF too large ({w}x{h} > {MAX_DECODE_PIXELS} px)")
    comp = vals(259, [1])[0]
    if comp not in (1, 5, 8, 32773, 32946):
        raise ValueError(f"unsupported TIFF compression {comp}")
    predictor = vals(317, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    spp = vals(277, [1])[0]
    bps = vals(258, [8])
    if any(b != 8 for b in bps) or spp not in (1, 3):
        raise ValueError("unsupported TIFF sample layout")
    offs = vals(273)
    counts = vals(279, [w * h * spp])
    rows_per_strip = vals(278, [h])[0] or h
    need = w * h * spp
    strip_need = min(need, rows_per_strip * w * spp)
    buf = bytearray()
    # strip offsets are attacker-controlled and may alias the same file
    # bytes; cap assembly at `need` so sum(counts) can't amplify a small
    # payload into an unbounded buffer (per-row ValueError, never OOM)
    for o, c in zip(offs, counts):
        if o + c > len(data):
            raise ValueError("truncated TIFF strip")
        if len(buf) >= need:
            break
        raw = data[o : o + c]
        if comp == 5:
            raw = _tiff_lzw_decode(raw, strip_need)
        elif comp in (8, 32946):  # Deflate / legacy AdobeDeflate
            d = zlib.decompressobj()
            try:
                # bounded inflate, same bomb guard as the PNG path
                raw = d.decompress(raw, strip_need)
            except zlib.error as e:
                raise ValueError(f"bad TIFF deflate strip: {e}") from e
        elif comp == 32773:
            raw = _packbits_decode(raw, strip_need)
        buf += raw[: need - len(buf)]
    if len(buf) < need:
        raise ValueError("TIFF pixel data short")
    px = np.frombuffer(bytes(buf[:need]), dtype=np.uint8)
    px = px.reshape(h, w) if spp == 1 else px.reshape(h, w, 3)
    if predictor == 2:  # undo horizontal differencing (per row, per channel)
        px = _tiff_predictor_undo(px.reshape(h, w, spp)).reshape(px.shape)
    return px


# ----------------------------------------------------------------- GIF
GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _lzw_decode(min_code_size: int, data: bytes, max_out: int) -> bytearray:
    """GIF LZW (LSB-first packing, CLEAR/EOI codes, 12-bit cap)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    while bitpos + code_size <= total:
        b = bitpos >> 3
        w = int.from_bytes(data[b : b + 4], "little")
        code = (w >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and code != eoi and code != clear:
            entry = table[code]
            if not entry and code >= clear:
                raise ValueError("bad GIF LZW code")
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("bad GIF LZW code")
        out += entry
        if len(out) > max_out:
            raise ValueError("GIF LZW output exceeds declared pixels")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return out


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for ch in indices:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:  # table full: reset (keeps decoder in lockstep)
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 gray or ≤256-unique-color RGB → single-frame GIF89a
    (fixture-side encoder; the decoder handles the general format)."""
    h, w = img.shape[:2]
    if img.ndim == 2:
        palette = np.arange(256, dtype=np.uint8).repeat(3).reshape(256, 3)
        indices = img
    else:
        colors, inv = np.unique(img.reshape(-1, 3), axis=0, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("GIF encoder supports at most 256 colors")
        palette = np.zeros((256, 3), dtype=np.uint8)
        palette[: len(colors)] = colors
        indices = inv.astype(np.uint8).reshape(h, w)
    if interlace:
        rows = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8), np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        indices = indices[rows]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # global 256-entry table
    out += palette.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    out.append(8)  # LZW min code size
    lzw = _lzw_encode(8, indices.tobytes())
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _gif_screen(data: bytes):
    """Logical screen descriptor → (width, height, background index,
    global color table or None, offset of the first block)."""
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    sw, sh, flags, bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    global_pal = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        global_pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    return sw, sh, bg, global_pal, pos


def _gif_images(data: bytes, pos: int, global_pal):
    """The one GIF block reader: yield (left, top, idx, pal,
    transparent, disposal) for each image from ``pos`` on, where
    ``idx`` is the image's deinterlaced (h, w) index plane, ``pal`` the
    color table it indexes, and the last two come from the Graphic
    Control Extension before the image (-1 and 0 without one). An
    image over the pixel budget raises before its LZW data is
    decoded."""
    transparent = -1
    disposal = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label + sub-blocks
            label = data[pos]
            pos += 1
            if label == 0xF9 and pos < len(data) and data[pos] == 4:
                gce_flags = data[pos + 1]
                disposal = (gce_flags >> 2) & 7
                transparent = data[pos + 4] if gce_flags & 1 else -1
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"bad GIF block 0x{block:02x}")
        left, top, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if not (0 < w and 0 < h and w * h <= MAX_DECODE_PIXELS):
            raise ValueError("bad GIF dimensions")
        pal = global_pal
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF image without a color table")
        if pos >= len(data):
            raise ValueError("truncated GIF")
        min_code = data[pos]
        pos += 1
        if not (2 <= min_code <= 8):
            raise ValueError("bad GIF LZW code size")
        chunks = []
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1  # sub-block terminator
        idx_bytes = _lzw_decode(min_code, b"".join(chunks), w * h)
        if len(idx_bytes) < w * h:
            raise ValueError("short GIF pixel data")
        idx = np.frombuffer(bytes(idx_bytes[: w * h]), np.uint8).reshape(h, w)
        if idx.max() >= len(pal):
            raise ValueError("GIF index out of palette range")
        if iflags & 0x40:  # deinterlace
            rows = np.concatenate(
                [np.arange(0, h, 8), np.arange(4, h, 8), np.arange(2, h, 4), np.arange(1, h, 2)]
            )
            un = np.empty_like(idx)
            un[rows] = idx
            idx = un
        yield left, top, idx, pal, transparent, disposal
        # GIF89a: a GCE governs only the single image that follows it
        transparent = -1
        disposal = 0


@codec_errors
def decode_gif(data: bytes) -> np.ndarray:
    """GIF87a/89a first image → HxW (grayscale palette) or HxWx3 uint8,
    at its own size and uncomposited; the blocks after it are not
    read (decode_gif_frames composites every image)."""
    _sw, _sh, _bg, global_pal, pos = _gif_screen(data)
    for _left, _top, idx, pal, _t, _d in _gif_images(data, pos, global_pal):
        rgb = pal[idx]
        if (rgb[..., 0] == rgb[..., 1]).all() and (rgb[..., 1] == rgb[..., 2]).all():
            return np.ascontiguousarray(rgb[..., 0])
        return np.ascontiguousarray(rgb)
    raise ValueError("GIF has no image block")


def encode_gif_animation(frames: list[np.ndarray], delay_cs: int = 10) -> bytes:
    """Multi-frame GIF89a: every frame full-size gray (256-gray global
    palette), a Graphic Control Extension per frame, and a NETSCAPE
    loop block — the animated-GIF shape real crawls carry."""
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += np.arange(256, dtype=np.uint8).repeat(3).tobytes()
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for img in frames:
        if img.ndim != 2 or img.shape != (h, w):
            raise ValueError("animation frames must be equal-size gray")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        out.append(8)
        lzw = _lzw_encode(8, img.tobytes())
        for i in range(0, len(lzw), 255):
            block = lzw[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


@codec_errors
def decode_gif_frames(data: bytes) -> list[np.ndarray]:
    """All frames of a GIF87a/89a animation, composited onto the
    logical screen (left/top sub-rects drawn in place, GCE transparent
    index skipped, disposal 'restore to background' honored; 'restore
    previous' treated as leave — rare in crawl GIFs). Frames come back
    gray when globally grayscale, else RGB."""
    sw, sh, bg, global_pal, pos = _gif_screen(data)
    if not (0 < sw and 0 < sh and sw * sh <= MAX_DECODE_PIXELS):
        raise ValueError("bad GIF screen size")
    canvas = np.zeros((sh, sw, 3), np.uint8)
    if global_pal is not None and bg < len(global_pal):
        canvas[:] = global_pal[bg]
    frames: list[np.ndarray] = []
    for left, top, idx, pal, transparent, disposal in _gif_images(
            data, pos, global_pal):
        h, w = idx.shape
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame outside logical screen")
        region = canvas[top : top + h, left : left + w]
        if transparent >= 0:
            opaque = idx != transparent
            region[opaque] = pal[idx[opaque]]
        else:
            region[:] = pal[idx]
        frames.append(canvas.copy())
        if disposal == 2:  # restore to background
            bg_rgb = pal[bg] if bg < len(pal) else 0
            canvas[top : top + h, left : left + w] = bg_rgb
        if len(frames) * sw * sh > MAX_DECODE_PIXELS:
            raise ValueError("GIF animation exceeds pixel budget")
    if not frames:
        raise ValueError("GIF has no image block")
    if all(
        (f[..., 0] == f[..., 1]).all() and (f[..., 1] == f[..., 2]).all()
        for f in frames
    ):
        return [np.ascontiguousarray(f[..., 0]) for f in frames]
    return frames


# ---------------------------------------------------------------- JPEG
# Standard Annex-K quantization tables (quality 50 base)
_STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Standard Annex-K Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# 8x8 DCT-II basis (orthonormal), float64 — used by both directions
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0)
_C *= np.sqrt(2.0 / 8.0)
_C[0, :] *= 1.0 / np.sqrt(2.0)


def _dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _build_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """JPEG canonical code assignment: val → (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_huff_decoder(bits: list[int], vals: list[int]) -> tuple[list[int], list[int]]:
    """16-bit-peek lookup tables: peek → (value, code length). Every
    16-bit word whose prefix is a code maps to that code — one table
    lookup decodes any symbol. Plain Python lists: indexed with native
    ints in the hot loop, ~3x faster than numpy scalar indexing."""
    val_t = np.zeros(1 << 16, dtype=np.int32)
    len_t = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            val_t[lo:hi] = vals[k]
            len_t[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    return val_t.tolist(), len_t.tolist()


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _BitReader:
    """Entropy-coded-segment reader: destuffs once (FF00 → FF), splits
    at RSTn markers, then serves O(1) bit reads via 32-bit byte-window
    peeks — no per-bit fill loop. ``align_to_marker`` jumps to the next
    restart segment."""

    def __init__(self, data: bytes) -> None:
        self.segments: list[bytes] = []
        seg = bytearray()
        i = 0
        n = len(data)
        while i < n:
            b = data[i]
            if b != 0xFF:
                seg.append(b)
                i += 1
                continue
            nxt = data[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                seg.append(0xFF)
                i += 2
            elif 0xD0 <= nxt <= 0xD7:
                self.segments.append(bytes(seg))
                seg = bytearray()
                i += 2
            else:  # EOI or next header marker: end of entropy data
                break
        self.segments.append(bytes(seg))
        # source bytes consumed before the terminating marker — the
        # multi-scan (progressive) parser resumes header parsing here
        self.consumed = i
        self.seg_idx = 0
        self._load(0)

    def _load(self, idx: int) -> None:
        # pad with 1-bits so tail peeks are safe (decode stops on count)
        self.buf = self.segments[idx] + b"\xff\xff\xff\xff"
        self.nbits_total = (len(self.buf) - 4) * 8
        self.pos = 0

    def align_to_marker(self) -> None:
        if self.seg_idx + 1 < len(self.segments):
            self.seg_idx += 1
            self._load(self.seg_idx)


def _decode_block(
    buf: bytes,
    pos: int,
    coef,
    dcv: list[int],
    dcl: list[int],
    acv: list[int],
    acl: list[int],
    pred: int,
) -> tuple[int, int]:
    """Entropy-decode one 8x8 block into ``coef`` (zigzag order).
    Everything is a local — this is the page-decode hot loop (~10k
    Huffman symbols per page of text)."""
    b = pos >> 3
    w = int.from_bytes(buf[b : b + 4], "big")
    peek = (w >> (16 - (pos & 7))) & 0xFFFF
    t = dcv[peek]
    ln = dcl[peek]
    if ln == 0:
        raise ValueError("bad JPEG huffman code")
    if t > 11:  # baseline DC categories are 0..11; a crafted DHT can
        raise ValueError("bad JPEG DC category")  # overflow int32 preds
    pos += ln
    if t:
        b = pos >> 3
        w = int.from_bytes(buf[b : b + 4], "big")
        v = (w >> (32 - (pos & 7) - t)) & ((1 << t) - 1)
        pos += t
        pred += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
    coef[0] = pred
    k = 1
    while k < 64:
        b = pos >> 3
        w = int.from_bytes(buf[b : b + 4], "big")
        peek = (w >> (16 - (pos & 7))) & 0xFFFF
        rs = acv[peek]
        ln = acl[peek]
        if ln == 0:
            raise ValueError("bad JPEG huffman code")
        pos += ln
        s = rs & 15
        if s == 0:
            if rs == 0xF0:
                k += 16
                continue
            break  # EOB
        k += rs >> 4
        if k > 63:
            raise ValueError("JPEG AC overflow")
        b = pos >> 3
        w = int.from_bytes(buf[b : b + 4], "big")
        v = (w >> (32 - (pos & 7) - s)) & ((1 << s) - 1)
        pos += s
        coef[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k += 1
    return pos, pred


def _huff(buf: bytes, p: int, valt: list[int], lent: list[int]) -> tuple[int, int]:
    b = p >> 3
    w = int.from_bytes(buf[b : b + 4], "big")
    peek = (w >> (16 - (p & 7))) & 0xFFFF
    ln = lent[peek]
    if ln == 0:
        raise ValueError("bad JPEG huffman code")
    return valt[peek], p + ln


def _bits(buf: bytes, p: int, n: int) -> tuple[int, int]:
    if n == 0:
        return 0, p
    b = p >> 3
    w = int.from_bytes(buf[b : b + 4], "big")
    return (w >> (32 - (p & 7) - n)) & ((1 << n) - 1), p + n


def scan_units(
    comps: list[tuple[int, int, int, int]],
    mcus_x: int,
    mcus_y: int,
    restart_interval: int = 0,
):
    """The data units of one scan in T.81 order (A.2), with its restart
    points; every JPEG scan here, decoded or encoded, walks this.

    ``comps`` holds each scan component as ``(h, v, rows, cols)``: its
    sampling factors and its own unit grid (8x8 blocks for DCT, samples
    for lossless). A scan of several components is interleaved: it
    walks the ``mcus_y`` x ``mcus_x`` MCU grid, and each MCU holds v
    rows of h units of each component in turn. A one-component scan
    walks that component's own ``rows`` x ``cols`` grid, one unit per
    MCU. Yields ``(rst, units)`` per MCU: ``units`` lists its
    ``(component_index, row, col)``, and ``rst`` is the number (0-7)
    of the RSTn marker that precedes it (every ``restart_interval``
    MCUs, B.2.4.4), or -1."""
    if len(comps) > 1:
        offsets = [
            (ci, v, h, dy, dx)
            for ci, (h, v, _rows, _cols) in enumerate(comps)
            for dy in range(v)
            for dx in range(h)
        ]
        mcus = (
            [(ci, my * v + dy, mx * h + dx) for ci, v, h, dy, dx in offsets]
            for my, mx in product(range(mcus_y), range(mcus_x))
        )
    else:
        _h, _v, rows, cols = comps[0]
        mcus = ([(0, r, c)] for r, c in product(range(rows), range(cols)))
    if not restart_interval:
        yield from zip(repeat(-1), mcus)
        return
    for i, units in enumerate(mcus):
        if i and i % restart_interval == 0:
            yield (i // restart_interval - 1) % 8, units
        else:
            yield -1, units


def _sequential_scan(br: "_BitReader", scan_comps: list[dict],
                     restart_interval: int, mcus_x: int, mcus_y: int) -> None:
    """One sequential Huffman scan (T.81 F.2.2), interleaved or one
    component: every unit is one block, decoded with its component's
    ``dc_tbl`` and ``ac_tbl``; restarts zero the DC predictors."""
    plan = [(c, c["coefs"], *c["dc_tbl"], *c["ac_tbl"]) for c in scan_comps]
    buf = br.buf
    p = 0
    for rst, units in scan_units(
        [c["grid"] for c in scan_comps], mcus_x, mcus_y, restart_interval
    ):
        if rst >= 0:
            br.align_to_marker()
            buf = br.buf
            p = 0
            for c in scan_comps:
                c["pred"] = 0
        for ci, r, col in units:
            c, coefs, dcv, dcl, acv, acl = plan[ci]
            p, c["pred"] = _decode_block(
                buf, p, coefs[r, col], dcv, dcl, acv, acl, c["pred"]
            )
        if p > br.nbits_total:
            # ran into the 1-padding: the stream is shorter than the
            # declared MCU count — truncated file. Without this check
            # the padding decodes to near-zero blocks and a mostly-gray
            # image would return status 'ok'.
            raise ValueError("truncated JPEG entropy stream")


def _ac_first_block(buf, p, coef, ss, se, al, acv, acl, eobrun):
    """Progressive AC first pass for one block (T.81 G.1.2.2)."""
    if eobrun > 0:
        return p, eobrun - 1
    k = ss
    while k <= se:
        rs, p = _huff(buf, p, acv, acl)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                v, p = _bits(buf, p, r)
                eobrun += v
            eobrun -= 1  # current block is covered by the EOB run
            break
        k += r
        if k > se:
            raise ValueError("JPEG AC overflow")
        v, p = _bits(buf, p, s)
        val = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        coef[k] = val << al
        k += 1
    return p, eobrun


def _ac_refine_block(buf, p, coef, ss, se, al, acv, acl, eobrun):
    """Progressive AC refinement for one block (T.81 G.1.2.3):
    newly-nonzero coefficients arrive as ±1<<al, coefficients already
    nonzero from earlier passes collect one correction bit each."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs, p = _huff(buf, p, acv, acl)
            r, s = rs >> 4, rs & 15
            s_val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        v, p = _bits(buf, p, r)
                        eobrun += v
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad JPEG refinement symbol")
                bit, p = _bits(buf, p, 1)
                s_val = p1 if bit else -p1
            while k <= se:
                if coef[k] != 0:
                    bit, p = _bits(buf, p, 1)
                    if bit and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else -p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val and k <= se:
                coef[k] = s_val
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                bit, p = _bits(buf, p, 1)
                if bit and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else -p1
            k += 1
        eobrun -= 1
    return p, eobrun


def _progressive_scan(br, scan_comps, scan, huff_dc, huff_ac,
                      ss, se, ah, al, restart_interval, mcus_x, mcus_y):
    """One progressive scan (T.81 G.1.2): DC first or refinement over
    one or more components, or one component's AC band. A DC first
    scan's predictors carry over from the component's previous DC
    scan; restarts zero them and the EOB run."""
    if ss:
        acv, acl = huff_ac[scan[0]["ac"]]
        block_fn = _ac_first_block if ah == 0 else _ac_refine_block
    elif ah == 0:
        for s in scan:
            s["_comp"]["dc_tbl"] = huff_dc[s["dc"]]
    buf = br.buf
    p = 0
    eobrun = 0
    for rst, units in scan_units(
        [c["grid"] for c in scan_comps], mcus_x, mcus_y, restart_interval
    ):
        if rst >= 0:
            br.align_to_marker()
            buf = br.buf
            p = 0
            eobrun = 0
            for c in scan_comps:
                c["pred"] = 0
        for ci, r, col in units:
            c = scan_comps[ci]
            coef = c["coefs"][r, col]
            if ss:
                p, eobrun = block_fn(buf, p, coef, ss, se, al, acv, acl, eobrun)
            elif ah == 0:
                t, p = _huff(buf, p, *c["dc_tbl"])
                if t > 11:
                    raise ValueError("bad JPEG DC category")
                if t:
                    v, p = _bits(buf, p, t)
                    c["pred"] += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
                coef[0] = c["pred"] << al
            else:
                bit, p = _bits(buf, p, 1)
                if bit:
                    coef[0] |= 1 << al
            if p > br.nbits_total:
                raise ValueError("truncated JPEG entropy stream")


@codec_errors
def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JPEG → HxW (grayscale) or
    HxWx3 uint8 RGB."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, tuple] = {}
    huff_ac: dict[int, tuple] = {}
    frame = None
    progressive = False
    arithmetic = False
    lossless = False
    precision = 8
    lossless_pt = 0
    restart_interval = 0
    comps: list[dict] = []
    hmax = vmax = mcus_x = mcus_y = 0
    n_scans = 0
    adobe_transform = None  # APP14: 0=CMYK/RGB, 1=YCbCr, 2=YCCK
    dac_dc: dict[int, tuple[int, int]] = {}
    dac_ac: dict[int, int] = {}
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seg_len,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(seg, np.uint8, 64, i + 1).astype(np.int32)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                tbl = _build_huff_decoder(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = tbl
                i += 17 + n
        # SOF0 baseline / SOF1 extended sequential / SOF2 progressive.
        # SOF1 differs from SOF0 only in the limits it relaxes (12-bit
        # precision, Huffman table ids 2-3); at 8-bit its scan syntax
        # is byte-identical to baseline, and the table dicts here key
        # by id so 2-3 already work — cv2/libjpeg accept it the same
        # way (reference route: /root/reference/ocr/operators.py:41-46).
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            progressive = marker in (0xC2, 0xCA)
            arithmetic = marker in (0xC9, 0xCA)
            lossless = marker == 0xC3
            prec, h, w, nc = seg[0], struct.unpack_from(">H", seg, 1)[0], struct.unpack_from(">H", seg, 3)[0], seg[5]
            if lossless:
                # T.81 B.2.2: lossless precision is 2..16 (the frame
                # carries P; there is no DCT/quantizer to constrain it)
                if not 2 <= prec <= 16:
                    raise ValueError("bad lossless JPEG precision")
                precision = prec
            elif prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if not (0 < h and 0 < w and h * w <= MAX_DECODE_PIXELS):
                raise ValueError("bad JPEG dimensions")
            if lossless:
                from ragflow_ocr_spark.kernels.jpeg_lossless import (
                    MAX_LOSSLESS_PIXELS,
                )

                if h * w > MAX_LOSSLESS_PIXELS:
                    raise ValueError(
                        "lossless JPEG frame exceeds the 8 MPix "
                        "sequential-decode budget"
                    )
            # limits (ITU T.81 B.2.2/B.2.3): ≤4 components, Σ(h·v) ≤ 10
            # per MCU. Without these caps a ~1 KB header declaring 255
            # components × 4×4 sampling allocates tens of GB of
            # coefficient arrays before decoding a single MCU.
            if not (1 <= nc <= 4):
                raise ValueError("bad JPEG component count")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + ci * 3], seg[7 + ci * 3], seg[8 + ci * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            if any(not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4) for c in comps):
                raise ValueError("bad JPEG sampling factors")
            if sum(c["h"] * c["v"] for c in comps) > 10:
                raise ValueError("bad JPEG sampling product")
            frame = (h, w, nc)
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            for c in comps:
                # the component's own sample grid (A.1.1)
                c["sy"] = -(-(h * c["v"]) // vmax)
                c["sx"] = -(-(w * c["h"]) // hmax)
            if lossless:
                # lossless MCUs are h×v SAMPLE groups, not 8x8 blocks
                # (T.81 H.2): per-component sample grids, padded to the
                # MCU grid for interleaved scans, cropped on output
                mcus_x = -(-w // hmax)
                mcus_y = -(-h // vmax)
                for c in comps:
                    c["grid"] = (c["h"], c["v"], c["sy"], c["sx"])
                    c["samples"] = np.zeros(
                        (mcus_y * c["v"], mcus_x * c["h"]), dtype=np.int32
                    )
                pos += seg_len
                continue
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                # actual (ceil) block grid for non-interleaved scans vs
                # MCU-padded grid for interleaved ones; coefficients are
                # stored natural-raster (by, bx, zigzag-64) so the
                # dequant + IDCT runs as ONE batched einsum per
                # component instead of 2 small matmuls per 8x8 block
                c["grid"] = (c["h"], c["v"], (c["sy"] + 7) // 8, (c["sx"] + 7) // 8)
                c["coefs"] = np.zeros(
                    (mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32
                )
                c["pred"] = 0
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only Huffman sequential (SOF0/SOF1) / progressive (SOF2) "
                "/ lossless (SOF3) / arithmetic sequential (SOF9) / "
                "arithmetic progressive (SOF10) JPEG supported "
                "(differential/hierarchical and arithmetic-lossless "
                "variants are not)"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            i = 0
            while i + 1 < len(seg):
                tc, tb = seg[i] >> 4, seg[i] & 0xF
                val = seg[i + 1]
                if tc == 0:
                    dac_dc[tb] = (val & 0xF, val >> 4)  # (L, U)
                    if not (val & 0xF) <= (val >> 4) <= 15:
                        raise ValueError("bad JPEG DAC DC conditioning")
                else:
                    if not 1 <= val <= 63:
                        raise ValueError("bad JPEG DAC AC conditioning")
                    dac_ac[tb] = val
                i += 2
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xEE:  # APP14 (Adobe color-transform tag)
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            by_id = {c["id"]: c for c in comps}
            for ci in range(ns):
                cs, tabs = seg[1 + ci * 2], seg[2 + ci * 2]
                scan.append({"cs": cs, "dc": tabs >> 4, "ac": tabs & 0xF,
                             "_comp": by_id[cs]})
            ss, se, ahal = seg[1 + ns * 2], seg[2 + ns * 2], seg[3 + ns * 2]
            scan_comps = [s["_comp"] for s in scan]
            pos += seg_len
            ah, al = ahal >> 4, ahal & 15
            if lossless:
                # T.81 H: Ss = predictor selector 1..7, Se = 0, Ah = 0,
                # Al = point transform (< P)
                if not (1 <= ss <= 7) or se != 0 or ah != 0:
                    raise ValueError("bad lossless scan parameters")
                if al >= precision:
                    raise ValueError("bad lossless point transform")
                if 1 < len(scan_comps) < len(comps):
                    raise ValueError("bad lossless scan interleave")
                from ragflow_ocr_spark.kernels import jpeg_lossless as _jl

                br = _BitReader(data[pos:])
                _jl.decode_scan(
                    br, scan, huff_dc, ss, al, precision,
                    restart_interval, mcus_x, mcus_y,
                )
                lossless_pt = al
                n_scans += 1
                pos += br.consumed
                continue
            if progressive:
                if ss == 0:
                    if se != 0:
                        raise ValueError("bad progressive spectral selection")
                elif len(scan_comps) != 1 or ss > se or se > 63:
                    raise ValueError("bad progressive AC scan parameters")
            else:
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ValueError("bad sequential scan parameters")
                if 1 < len(scan_comps) < len(comps):
                    # T.81 B.2.3: every component of an interleaved
                    # sequential pass appears in the scan; a partial
                    # interleave has no defined MCU grid
                    raise ValueError("bad sequential scan interleave")
            if arithmetic:
                from ragflow_ocr_spark.kernels import jpeg_arith as _ja

                for s in scan:
                    c = s["_comp"]
                    c["dc_tbl_a"] = s["dc"]
                    c["ac_tbl_a"] = s["ac"]
                    qt[c["tq"]]  # raise now (as ValueError) if missing
                pos = _ja.decode_scan(
                    data, pos, scan_comps, ss, se, ah, al,
                    mcus_x, mcus_y, dac_dc, dac_ac,
                    restart_interval, sequential=not progressive,
                )
                n_scans += 1
                continue
            br = _BitReader(data[pos:])
            if progressive:
                _progressive_scan(
                    br, scan_comps, scan, huff_dc, huff_ac,
                    ss, se, ah, al,
                    restart_interval, mcus_x, mcus_y,
                )
            else:
                for s in scan:
                    c = s["_comp"]
                    c["dc_tbl"] = huff_dc[s["dc"]]
                    c["ac_tbl"] = huff_ac[s["ac"]]
                    c["pred"] = 0
                    qt[c["tq"]]  # raise now (as ValueError) if missing
                _sequential_scan(
                    br, scan_comps, restart_interval, mcus_x, mcus_y
                )
            n_scans += 1
            pos += br.consumed
            continue
        pos += seg_len
    if frame is None or n_scans == 0:
        raise ValueError("JPEG missing SOF/SOS")
    h, w, nc = frame

    if lossless:
        # lossless JPEG defines no colour space: 3-component frames are
        # RGB unless APP14 tags YCbCr
        if not (nc == 1 or (nc == 3 and adobe_transform in (None, 0, 1))):
            raise ValueError("unsupported lossless JPEG component layout")
        if adobe_transform is None:
            adobe_transform = 0
    planes = []
    for c in comps:
        if lossless:
            # no DCT/dequant: samples ARE the image (in the >>Pt
            # domain). Output contract is uint8 like every codec here:
            # P == 8 is exact; other precisions narrow by
            # round(v*255/(2^P-1)) (monotone, endpoint-exact — same
            # substitution class as the 16-bit-PNG narrowing).
            s = c["samples"][: c["sy"], : c["sx"]].astype(np.int64)
            s <<= lossless_pt
            mv = (1 << precision) - 1
            if precision == 8:
                plane = np.clip(s, 0, 255).astype(np.float64)
            else:
                plane = np.round(np.clip(s, 0, mv) * (255.0 / mv))
        else:
            q = qt[c["tq"]]
            coefs = c["coefs"].reshape(-1, 64)
            deq = coefs.astype(np.float64) * q[None, :]
            blocks = np.zeros((len(deq), 64), dtype=np.float64)
            blocks[:, _ZIGZAG] = deq
            blocks = blocks.reshape(-1, 8, 8)
            px = np.einsum("ij,bjk,kl->bil", _C.T, blocks, _C, optimize=True) + 128.0
            by_pad, bx_pad = c["coefs"].shape[:2]
            plane = (
                px.reshape(by_pad, bx_pad, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(by_pad * 8, bx_pad * 8)
            )
        # upsample to full MCU grid resolution, then crop to (h, w)
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        planes.append(plane[:h, :w])
    if nc == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    if nc == 2:
        raise ValueError("2-component JPEG unsupported")
    if nc == 3 and adobe_transform == 0:
        # Adobe transform 0 on 3 components: planes ARE R, G, B
        return np.clip(np.round(np.stack(planes, axis=2)), 0, 255).astype(
            np.uint8
        )
    if nc == 4:
        # Adobe CMYK family. Samples are stored Adobe-INVERTED
        # (sample = 255 − ink), so paper-white is 255 and full ink 0;
        # transform 2 (YCCK, the Photoshop default) additionally runs
        # the inverted CMY through the YCbCr transform. Composite onto
        # white: channel = cmy_sample · k_sample / 255 — the standard
        # screen approximation (no ICC profiles offline).
        t = adobe_transform if adobe_transform is not None else 0
        if t == 2:  # YCCK → inverted-CMY via the YCC inverse, then ·K
            cmy = _ycc_to_rgb(planes[0], planes[1] - 128.0, planes[2] - 128.0)
        elif t == 0:
            cmy = planes[:3]
        else:
            raise ValueError(f"bad Adobe transform {t} for 4-component JPEG")
        k = np.clip(planes[3], 0.0, 255.0)
        rgb = np.stack(
            [np.clip(p, 0.0, 255.0) * k / 255.0 for p in cmy], axis=2
        )
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    rgb = np.stack(_ycc_to_rgb(planes[0], planes[1] - 128.0, planes[2] - 128.0), axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _ycc_to_rgb(y, cb, cr) -> list:
    """JFIF YCbCr → R, G, B planes (T.871 §7) on centred chroma (Cb
    and Cr without their +128 offset); unclipped float."""
    return [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb]


def _rgb_to_ycc(f: np.ndarray) -> list:
    """JFIF RGB (float HxWx3) → Y, Cb, Cr planes (T.871 §7), chroma
    offset by +128; unrounded."""
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    return [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]


def _quality_scale(q_base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    t = np.clip((q_base * scale + 50) // 100, 1, 255)
    return t.astype(np.int32)


def _encode_block(bw: _BitWriter, block, qtab8, dc_code, ac_code, pred: int) -> int:
    coef = _dct2(block)
    qc = np.round(coef / qtab8).astype(np.int64)
    zz = qc.reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    t = abs(diff).bit_length()
    code, ln = dc_code[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k] != 0:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_code[0xF0]
            bw.write(code, ln)
            run -= 16
        t = abs(v).bit_length()
        code, ln = ac_code[(run << 4) | t]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if last_nz < 63:
        code, ln = ac_code[0x00]  # EOB
        bw.write(code, ln)
    return pred


def _prep_encode(img: np.ndarray, quality: int, subsample: bool):
    """Front half of the gray/RGB encoders: colour convert and pick
    each component's sampling and table. Returns the frame, (h, v,
    table) per component, the quantization tables and the planes."""
    f = img.astype(np.float64)
    luma = _quality_scale(_STD_LUMA_Q, quality)
    if img.ndim == 2:
        return [(1, 1, 0)], [luma], [f]
    s = 2 if subsample else 1
    frame = [(s, s, 0), (1, 1, 1), (1, 1, 1)]
    return frame, [luma, _quality_scale(_STD_CHROMA_Q, quality)], _rgb_to_ycc(f)


def _pad_planes(planes: list, frame: list):
    """Downsample each plane to its component's sampling (the mean of
    each cell, edges replicated) and pad it to its MCU grid by edge
    replication. Returns each component's ``scan_units`` grid (h, v,
    ceil block rows, ceil block cols), the MCU counts and the padded
    planes."""
    h, w = planes[0].shape
    hmax = max(hs for hs, _vs, _t in frame)
    vmax = max(vs for _hs, vs, _t in frame)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    grids = []
    padded = []
    for p, (hs, vs, _t) in zip(planes, frame):
        if (hs, vs) != (hmax, vmax):
            fy, fx = vmax // vs, hmax // hs
            ph = (p.shape[0] + fy - 1) // fy
            pw = (p.shape[1] + fx - 1) // fx
            src = np.empty((ph * fy, pw * fx))
            src[: p.shape[0], : p.shape[1]] = p
            src[p.shape[0] :, : p.shape[1]] = p[-1:, :]
            src[:, p.shape[1] :] = src[:, p.shape[1] - 1 : p.shape[1]]
            p = src.reshape(ph, fy, pw, fx).mean(axis=(1, 3))
        th, tw = mcus_y * vs * 8, mcus_x * hs * 8
        pp = np.empty((th, tw))
        ch, cw = min(p.shape[0], th), min(p.shape[1], tw)
        pp[:ch, :cw] = p[:ch, :cw]
        pp[ch:, :cw] = pp[ch - 1 : ch, :cw]
        pp[:, cw:] = pp[:, cw - 1 : cw]
        padded.append(pp)
        grids.append((hs, vs, (-(-(h * vs) // vmax) + 7) // 8,
                      (-(-(w * hs) // hmax) + 7) // 8))
    return grids, mcus_x, mcus_y, padded


def _quantize(padded: list, frame: list, qts: list) -> list:
    """Every 8x8 block of each padded plane → its quantized
    coefficients in zigzag order, (rows, cols, 64) int64 per component
    (the decode-side coefs layout), as one batched DCT per plane."""
    zz = []
    for p, (_hs, _vs, t) in zip(padded, frame):
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        blocks = (p - 128.0).reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ij,abjk,kl->abil", _C, blocks, _C.T, optimize=True)
        qc = np.round(coef / qts[t].reshape(8, 8).astype(np.float64)).astype(np.int64)
        zz.append(qc.reshape(by, bx, 64)[..., _ZIGZAG])
    return zz


# the Annex-K Huffman tables the encoders emit as (class, id, spec):
# the luma pair, then the chroma pair for frames with two tables
_HUFF_SPECS = [(0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)]


def _segment(marker: int, payload: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(payload)) + payload


def _jpeg_headers(
    sof: int, h: int, w: int, frame: list, qts=(), huff=(),
    precision: int = 8, adobe: int | None = None, dac: bool = False,
    restart_interval: int = 0,
) -> bytearray:
    """The encoders' header writer: SOI, APP14 (the Adobe colour
    ``adobe`` transform), DQT (one segment per table of ``qts``), the
    ``sof`` frame header (``frame``: (h, v, table) per component),
    DAC, DRI and DHT (``huff``: (class, id, (BITS, HUFFVAL)) per
    table), in that order and each only when asked for. The DAC
    segment spells out T.81's default conditioning (DC L=0 U=1, AC
    Kx=5; what ``jpeg_arith.encode_scan`` codes with) for each table,
    which exercises the decoder's parse."""
    out = bytearray(b"\xff\xd8")
    if adobe is not None:
        out += _segment(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, adobe))
    for tq, qtab in enumerate(qts):
        # DQT payload is in zigzag scan order: seg[k] = Q_nat[ZIGZAG[k]]
        out += _segment(0xDB, bytes([tq]) + bytes(int(qtab[z]) for z in _ZIGZAG))
    sof_payload = struct.pack(">BHHB", precision, h, w, len(frame))
    for ci, (hs, vs, t) in enumerate(frame):
        sof_payload += bytes([ci + 1, hs << 4 | vs, t])
    out += _segment(sof, sof_payload)
    if dac:
        out += _segment(0xCC, b"".join(bytes([t, 0x10, 0x10 | t, 5]) for t in range(len(qts))))
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    for tc, th, (bits, vals) in huff:
        out += _segment(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))
    return out


def _sos_segment(frame: list, cis, ss: int = 0, se: int = 63, ah: int = 0,
                 al: int = 0) -> bytes:
    """SOS of a scan over components ``cis``: each codes with the DC
    and AC tables of its frame table index."""
    payload = bytes([len(cis)])
    for ci in cis:
        payload += bytes([ci + 1, frame[ci][2] * 0x11])
    return _segment(0xDA, payload + bytes([ss, se, ah << 4 | al]))


def _rst_marker(rst: int) -> bytes:
    """The RSTn marker ``scan_units`` numbers ``rst`` (0-7)."""
    return bytes((0xFF, 0xD0 + rst))


def _huffman_codes(qts: list) -> list:
    """(DC, AC) code maps per table: luma, then chroma."""
    pairs = [(_DC_LUMA, _AC_LUMA), (_DC_CHROMA, _AC_CHROMA)][: len(qts)]
    return [(_build_huff_codes(*dc), _build_huff_codes(*ac)) for dc, ac in pairs]


def _sequential_huffman_scan(padded, frame, qts, grids, cis, mcus_x, mcus_y,
                             restart_interval) -> bytearray:
    """Huffman-code one sequential scan over components ``cis``;
    restarts zero the DC predictors."""
    codes = _huffman_codes(qts)
    qt8 = [q.reshape(8, 8) for q in qts]
    bw = _BitWriter()
    preds = [0] * len(cis)
    for rst, units in scan_units(
        [grids[ci] for ci in cis], mcus_x, mcus_y, restart_interval
    ):
        if rst >= 0:
            bw.flush()
            bw.buf += _rst_marker(rst)
            preds = [0] * len(cis)
        for i, r, c in units:
            ci = cis[i]
            t = frame[ci][2]
            block = padded[ci][r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] - 128.0
            preds[i] = _encode_block(bw, block, qt8[t], *codes[t], preds[i])
    bw.flush()
    return bw.buf


def _progressive_huffman_scan(zz, frame, qts, grids, cis, ss, se, ah, al,
                              mcus_x, mcus_y) -> bytearray:
    """Huffman-code one progressive scan (T.81 G.1.2): DC first (the
    differences of the point-transformed values, an arithmetic shift
    of the signed value, G.1.2.1) or DC refinement bits over ``cis``,
    or one component's AC band."""
    codes = _huffman_codes(qts)
    enc_ac = _enc_ac_first_block if ah == 0 else _enc_ac_refine_block
    bw = _BitWriter()
    preds = [0] * len(cis)
    for _rst, units in scan_units([grids[ci] for ci in cis], mcus_x, mcus_y):
        for i, r, c in units:
            ci = cis[i]
            dc_code, ac_code = codes[frame[ci][2]]
            block = zz[ci][r, c]
            if ss:
                enc_ac(bw, block[ss : se + 1], ac_code, al)
            elif ah == 0:
                v0 = int(block[0]) >> al
                diff = v0 - preds[i]
                preds[i] = v0
                t = abs(diff).bit_length()
                bw.write(*dc_code[t])
                if t:
                    bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
            else:
                bw.write((int(block[0]) >> al) & 1, 1)
    bw.flush()
    return bw.buf


def _encode(frame, qts, planes, sof: int, script, restart_interval: int = 0,
            adobe: int | None = None) -> bytes:
    """The encoders' back half: pad the planes, write the headers for
    frame type ``sof``, then one SOS and entropy-coded segment per scan
    of ``script``, each (components, Ss, Se, Ah, Al)."""
    h, w = planes[0].shape
    grids, mcus_x, mcus_y, padded = _pad_planes(planes, frame)
    arithmetic = sof in (0xC9, 0xCA)
    out = _jpeg_headers(
        sof, h, w, frame, qts, () if arithmetic else _HUFF_SPECS[: 2 * len(qts)],
        adobe=adobe, dac=arithmetic, restart_interval=restart_interval,
    )
    if sof != 0xC0:
        zz = _quantize(padded, frame, qts)
    if arithmetic:
        from ragflow_ocr_spark.kernels import jpeg_arith as _ja
    for cis, ss, se, ah, al in script:
        out += _sos_segment(frame, cis, ss, se, ah, al)
        if arithmetic:
            out += _ja.encode_scan(
                [(zz[ci], grids[ci], frame[ci][2]) for ci in cis],
                ss, se, ah, al, mcus_x, mcus_y, restart_interval,
                sequential=sof == 0xC9,
            )
        elif sof == 0xC2:
            out += _progressive_huffman_scan(
                zz, frame, qts, grids, cis, ss, se, ah, al, mcus_x, mcus_y
            )
        else:
            out += _sequential_huffman_scan(
                padded, frame, qts, grids, cis, mcus_x, mcus_y, restart_interval
            )
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _sequential_script(img: np.ndarray, interleave: bool) -> list:
    """One interleaved scan of every component, or one scan each."""
    nc = 1 if img.ndim == 2 else 3
    if interleave:
        return [(range(nc), 0, 63, 0, 0)]
    return [([ci], 0, 63, 0, 0) for ci in range(nc)]


def _progressive_script(img: np.ndarray, bands) -> list:
    """Interleaved DC first at Al=1 → each component's AC ``bands``
    first at Al=1 → each component's AC refinement to Al=0 →
    interleaved DC refinement."""
    every = range(1 if img.ndim == 2 else 3)
    return (
        [(every, 0, 0, 0, 1)]
        + [([ci], ss, se, 0, 1) for ci in every for ss, se in bands]
        + [([ci], 1, 63, 1, 0) for ci in every]
        + [(every, 0, 0, 1, 0)]
    )


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → baseline JPEG with the standard
    Annex-K tables. ``subsample=True`` emits 4:2:0 (2x2 luma sampling,
    chroma 2x2-mean-downsampled); ``restart_interval`` emits a DRI
    segment and RSTn markers every N MCUs — both exist chiefly to
    exercise the decoder's sampling/restart paths, which real-world
    JPEGs use."""
    return _encode(*_prep_encode(img, quality, subsample), 0xC0,
                   _sequential_script(img, True), restart_interval)


def encode_jpeg_arith(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    interleave: bool = True,
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → arithmetic-coded sequential JPEG
    (SOF9, T.81 QM coder via kernels/jpeg_arith). Same DCT/quant
    pipeline as encode_jpeg — only the entropy layer differs — so
    pixel results are identical to the Huffman encode at the same
    quality. ``restart_interval`` emits DRI + RSTn segments (each an
    independently terminated QM stream); ``interleave=False`` emits
    one sequential scan per component (the multi-scan layout)."""
    return _encode(*_prep_encode(img, quality, subsample), 0xC9,
                   _sequential_script(img, interleave), restart_interval)


def encode_jpeg_arith_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → progressive arithmetic JPEG
    (SOF10, T.81 Annex G with the QM coder). Scan script exercises
    every SOF10 decode path: interleaved DC first at Al=1 →
    per-component AC first in two spectral bands (1-5, 6-63) at Al=1
    → per-component AC refinement to Al=0 → DC refinement. The
    progressive reconstruction is exact, so decoded pixels equal the
    sequential encodes at the same quality."""
    return _encode(*_prep_encode(img, quality, subsample), 0xCA,
                   _progressive_script(img, ((1, 5), (6, 63))), restart_interval)


def encode_jpeg_multiscan(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → multi-scan sequential Huffman JPEG
    (SOF0 with one non-interleaved scan per component, T.81 A.2.2) —
    the layout custom scan scripts emit. Pixel-identical to the
    single-scan baseline encode at the same quality."""
    return _encode(*_prep_encode(img, quality, subsample), 0xC0,
                   _sequential_script(img, False), restart_interval)


def encode_jpeg_cmyk(
    img: np.ndarray, quality: int = 95, ycck: bool = False
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → 4-component Adobe CMYK baseline
    JPEG (APP14 transform 0, or 2 for YCCK) — the Photoshop/print
    payload family crawls hit. Samples follow the Adobe-inverted
    convention (sample = 255 − ink): C/M/Y planes carry the RGB
    channels directly with K = 255 (no black plate), so the decoder's
    white-composite reconstructs the input exactly up to DCT
    quantization — and EXACTLY for constant-value images at qualities
    whose luma DC step divides 8 (q95 → q00 = 2), the closed-form
    oracle construction."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    f = img.astype(np.float64)
    planes = _rgb_to_ycc(f) if ycck else [f[..., 0], f[..., 1], f[..., 2]]
    planes.append(np.full(img.shape[:2], 255.0))
    frame = [(1, 1, t) for t in ((0, 1, 1, 0) if ycck else (0, 0, 0, 0))]
    qts = [
        _quality_scale(_STD_LUMA_Q, quality),
        _quality_scale(_STD_CHROMA_Q, quality),
    ]
    return _encode(frame, qts, planes, 0xC0, [(range(4), 0, 63, 0, 0)],
                   adobe=2 if ycck else 0)


# ------------------------------------------------------ progressive JPEG
def _enc_ac_first_block(bw, band, ac_code, al: int) -> None:
    """Progressive AC first pass, one block/band (T.81 G.1.2.2).
    Magnitudes are point-transformed (|v| >> al, sign kept); EOB runs
    are always emitted as EOB0 (the standard tables carry no EOBn>0
    symbols — decoders must still handle general EOBn, ours does)."""
    r = 0
    for v in band:
        v = int(v)
        m = abs(v) >> al
        if m == 0:
            r += 1
            continue
        while r > 15:
            c, ln = ac_code[0xF0]
            bw.write(c, ln)
            r -= 16
        s = m.bit_length()
        vp = m if v > 0 else -m
        c, ln = ac_code[(r << 4) | s]
        bw.write(c, ln)
        bw.write(vp if vp >= 0 else vp + (1 << s) - 1, s)
        r = 0
    if r:
        c, ln = ac_code[0x00]
        bw.write(c, ln)


def _enc_ac_refine_block(bw, band, ac_code, al: int) -> None:
    """Progressive AC refinement, one block (T.81 G.1.2.3). Correction
    bits for previously-nonzero coefficients buffer until the next
    emitted symbol (ZRL / newly-nonzero / EOB) — the same flush points
    the decoder's walk consumes them at."""
    vals = [int(v) for v in band]
    eob = -1  # last NEWLY-nonzero index: ZRLs beyond it fold into EOB
    for i, v in enumerate(vals):
        if (abs(v) >> al) == 1 and (abs(v) >> (al + 1)) == 0:
            eob = i
    r = 0
    pending: list[int] = []
    for i, v in enumerate(vals):
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            c, ln = ac_code[0xF0]
            bw.write(c, ln)
            for b in pending:
                bw.write(b, 1)
            pending = []
            r -= 16
        if (abs(v) >> (al + 1)) != 0:  # already nonzero: correction bit
            pending.append(t & 1)
            continue
        c, ln = ac_code[(r << 4) | 1]
        bw.write(c, ln)
        bw.write(1 if v > 0 else 0, 1)
        for b in pending:
            bw.write(b, 1)
        pending = []
        r = 0
    if r > 0 or pending:
        c, ln = ac_code[0x00]
        bw.write(c, ln)
        for b in pending:
            bw.write(b, 1)


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """HxW (gray) or HxWx3 uint8 → progressive JPEG (SOF2).

    Scan script exercises every progressive decode path: interleaved
    DC first at Al=1 → per-component AC 1-63 first at Al=1 →
    per-component AC refinement to Al=0 → interleaved DC refinement.
    Standard Annex-K tables throughout.
    """
    return _encode(*_prep_encode(img, quality, subsample), 0xC2,
                   _progressive_script(img, ((1, 63),)))


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 1,
    point_transform: int = 0,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Thin dispatch to the SOF3 lossless encoder
    (kernels/jpeg_lossless) so fixture generators address every JPEG
    flavour through this module."""
    from ragflow_ocr_spark.kernels.jpeg_lossless import (
        encode_jpeg_lossless as _enc,
    )

    return _enc(img, predictor, point_transform, restart_interval, precision)
