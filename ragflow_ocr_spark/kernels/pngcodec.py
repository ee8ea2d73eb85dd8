"""Minimal pure-Python PNG codec (stdlib ``zlib`` + ``struct`` + numpy).

cv2 is unavailable in this environment, so the reference's
``cv2.imdecode``/``cv2.imencode`` (``/root/reference/ocr/operators.py:41-46``)
is replaced by this codec. Decode scope: every legal (color, depth)
combination — color types 0 (gray, depths 1/2/4/8/16), 2 (RGB, 8/16),
3 (palette via PLTE, 1/2/4/8), 4 (gray+alpha, 8/16) and 6 (RGBA,
8/16); alpha is dropped like ``cv2.IMREAD_COLOR`` does, sub-byte gray
scales to the full 8-bit range, 16-bit keeps its high byte (cv2's
8-bit conversion) — sequential or Adam7-interlaced, all five scanline
filters; the encoder emits 8-bit types 0/2. Any conforming encoder's
output decodes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# same untrusted-payload ceiling as kernels/imgcodecs.py (64 MPix)
MAX_DECODE_PIXELS = 1 << 26


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_passes(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = max(0, (w - x0 + dx - 1) // dx)
        ph = max(0, (h - y0 + dy - 1) // dy)
        out.append((x0, y0, dx, dy, pw, ph))
    return out


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """HW (gray) or HWC-RGB uint8 ndarray → PNG bytes (filter 0).
    ``interlace=True`` emits Adam7 (fixture-side: real crawl PNGs use
    it; decode handles both)."""
    if img.dtype != np.uint8:
        raise ValueError("encode_png expects uint8")
    if img.ndim == 2:
        color_type, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0)
    if not interlace:
        raw = img.reshape(h, w * channels)
        # filter byte 0 (None) per scanline
        scanlines = np.concatenate(
            [np.zeros((h, 1), dtype=np.uint8), raw], axis=1
        ).tobytes()
    else:
        px = img.reshape(h, w, channels)
        parts = []
        for x0, y0, dx, dy, pw, ph in _adam7_passes(w, h):
            if not pw or not ph:
                continue
            sub = px[y0::dy, x0::dx].reshape(ph, pw * channels)
            parts.append(
                np.concatenate([np.zeros((ph, 1), dtype=np.uint8), sub], axis=1)
                .tobytes()
            )
        scanlines = b"".join(parts)
    idat = zlib.compress(scanlines, level=6)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters. raw is (h, 1+stride) uint8."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        cur = np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + a) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter {ftype}")
        out[y] = cur.astype(np.uint8)
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 ndarray, HW for gray or HWC for RGB.

    Raises ValueError on malformed input — callers guard, mirroring the
    reference's None-image guard (``/root/reference/ocr/operators.py:47-48``).
    """
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = len(PNG_MAGIC)
    width = height = None
    color_type = bit_depth = None
    idat = bytearray()
    plte: bytes | None = None
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if interlace not in (0, 1):
                raise ValueError("bad PNG interlace method")
        elif tag == b"PLTE":
            if len(payload) % 3 or not (3 <= len(payload) <= 768):
                raise ValueError("bad PNG PLTE chunk")
            plte = payload
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    # legal (color, depth) combos per the PNG spec (§11.2.2): sub-byte
    # depths exist only for grayscale and palette; 16-bit for all
    # non-palette types. Sub-byte palette/gray PNGs (icons, simple web
    # graphics) are common crawl payloads; 16-bit maps to its high byte
    # (network order), matching cv2.imdecode's 8-bit conversion (>>8).
    _VALID_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                     4: (8, 16), 6: (8, 16)}
    if color_type not in _VALID_DEPTHS or bit_depth not in _VALID_DEPTHS[color_type]:
        raise ValueError(f"unsupported PNG (depth={bit_depth}, color={color_type})")
    # raw channel count per color type; alpha is dropped after
    # unfiltering (cv2.IMREAD_COLOR semantics), palette expanded via PLTE
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG missing PLTE")
    # decompression-bomb guard (untrusted crawl payloads): validate the
    # declared pixel count BEFORE inflating, and bound the inflate to
    # exactly the expected bytes — a ~1 MB PNG declaring 30000×30000
    # would otherwise allocate GBs inside zlib before any size check
    if width == 0 or height == 0 or width * height > MAX_DECODE_PIXELS:
        raise ValueError("bad PNG dimensions")

    def _row_bytes(w: int) -> int:
        return (w * channels * bit_depth + 7) // 8

    # filter unit (§9.2): the byte offset of the left neighbour —
    # whole pixels for ≥8-bit, one byte for packed sub-byte rows
    bpp = max(1, (channels * bit_depth) // 8)

    def _rows_to_pixels(rows: np.ndarray, h: int, w: int) -> np.ndarray:
        """(h, row_bytes) unfiltered bytes → (h, w, channels) uint8."""
        if bit_depth == 8:
            return rows.reshape(h, w, channels)
        if bit_depth == 16:
            # big-endian sample pairs; keep the high byte (cv2 >>8)
            return rows.reshape(h, w, channels, 2)[..., 0].copy()
        bits = np.unpackbits(np.ascontiguousarray(rows), axis=1)  # MSB-first, per spec
        vals = bits[:, : w * bit_depth].reshape(h, w, bit_depth)
        weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(np.uint8)
        v = (vals * weights).sum(axis=2).astype(np.uint8)
        if color_type == 0:  # gray: scale sample to full 8-bit range
            v = (v * (255 // ((1 << bit_depth) - 1))).astype(np.uint8)
        return v.reshape(h, w, 1)

    stride = _row_bytes(width)
    if interlace:
        passes = _adam7_passes(width, height)
        expected = sum(
            ph * (1 + _row_bytes(pw)) for _x, _y, _dx, _dy, pw, ph in passes if pw and ph
        )
    else:
        expected = height * (stride + 1)
    d = zlib.decompressobj()
    try:
        inflated = d.decompress(bytes(idat), expected)
    except zlib.error as e:
        raise ValueError(f"bad PNG deflate stream: {e}") from e
    if d.unconsumed_tail or not d.eof:
        raise ValueError("bad PNG payload size")
    if len(inflated) != expected:
        raise ValueError("bad PNG payload size")
    if interlace:
        # Adam7: 7 independently-filtered sub-images, scattered back
        # onto the (dy, dx) grid of each pass
        img = np.zeros((height, width, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            if not pw or not ph:
                continue
            sub_stride = _row_bytes(pw)
            nbytes = ph * (1 + sub_stride)
            raw = np.frombuffer(inflated, np.uint8, nbytes, off).reshape(
                ph, 1 + sub_stride
            )
            off += nbytes
            if not raw[:, 0].any():
                sub = raw[:, 1:].copy()
            else:
                sub = _unfilter(raw, ph, sub_stride, bpp)
            img[y0::dy, x0::dx] = _rows_to_pixels(sub, ph, pw)
    else:
        raw = np.frombuffer(inflated, dtype=np.uint8)
        raw = raw.reshape(height, stride + 1)
        # Fast path: no filtering anywhere (our own encoder's output).
        if not raw[:, 0].any():
            out = raw[:, 1:].copy()
        else:
            out = _unfilter(raw, height, stride, bpp)
        img = _rows_to_pixels(out, height, width)
    if color_type == 3:
        idx = img.reshape(height, width)
        if int(idx.max()) * 3 + 2 >= len(plte):
            raise ValueError("PNG palette index out of range")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        rgb = pal[idx]
        if (rgb[..., 0] == rgb[..., 1]).all() and (rgb[..., 1] == rgb[..., 2]).all():
            return np.ascontiguousarray(rgb[..., 0])
        return np.ascontiguousarray(rgb)
    if color_type == 4:  # gray+alpha → gray
        return np.ascontiguousarray(img[..., 0])
    if color_type == 6:  # RGBA → RGB
        return np.ascontiguousarray(img[..., :3])
    if channels == 1:
        return img.reshape(height, width)
    return img


def sniff_payload(data: bytes | None) -> str:
    """Magic-byte payload sniffer (SURVEY.md §2.2 F10).

    Returns one of: 'null', 'html', 'pdf', a raster kind
    (``RASTER_KINDS``: 'png', 'jpeg', 'gif', 'bmp', 'tiff', 'webp',
    'jp2', 'heic', 'avif' — ``decode_image`` decodes them), or a named
    non-page binary kind ('isobmff', 'avi', 'wav', 'webm', 'ogg',
    'flac', 'mp3' — routed to per-row skip/unsupported statuses rather
    than garbage html extraction). The reference routes by file
    extension at the CLI (its ``examples/batch_processing.py:28``,
    globbing ``*.jpg/.png/.bmp/.tiff``); content sniffing is the
    scale-safe equivalent.
    """
    if data is None or len(data) == 0:
        return "null"
    if data.startswith(PNG_MAGIC[:4]):
        return "png"
    if data.startswith(b"\xff\xd8"):
        return "jpeg"
    if data.startswith(b"GIF87a") or data.startswith(b"GIF89a"):
        return "gif"
    if data.startswith(b"RIFF") and data[8:12] == b"WEBP":
        return "webp"
    if data.startswith(b"II*\x00") or data.startswith(b"MM\x00*"):
        return "tiff"
    # 'BM' alone would misroute HTML that happens to start with "BM";
    # require the BMP header's reserved zero bytes as a tiebreak
    if data.startswith(b"BM") and len(data) >= 14 and data[6:10] == b"\x00\x00\x00\x00":
        return "bmp"
    if data.startswith(b"%PDF"):
        return "pdf"
    # JPEG 2000: raw codestream (SOC+SIZ) or JP2 box signature
    if data.startswith(b"\xff\x4f\xff\x51"):
        return "jp2"
    if data.startswith(b"\x00\x00\x00\x0cjP  \r\n\x87\n"):
        return "jp2"
    # Named non-page binaries: without these, real crawl media bytes
    # would fall through to the html route and extract as garbage.
    if data[4:8] == b"ftyp":  # ISO-BMFF family
        brand = data[8:12]
        if brand in (b"avif", b"avis"):
            return "avif"
        if brand in (b"heic", b"heix", b"mif1", b"msf1", b"hevc"):
            return "heic"
        return "isobmff"  # mp4/mov family
    if data.startswith(b"RIFF") and data[8:12] == b"AVI ":
        return "avi"
    if data.startswith(b"RIFF") and data[8:12] == b"WAVE":
        return "wav"
    if data.startswith(b"\x1a\x45\xdf\xa3"):
        return "webm"
    if data.startswith(b"OggS"):
        return "ogg"
    if data.startswith(b"fLaC"):
        return "flac"
    if data.startswith(b"ID3"):
        return "mp3"
    return "html"


RASTER_KINDS = ("png", "jpeg", "gif", "bmp", "tiff", "webp", "jp2", "heic", "avif")


def decode_image(data: bytes | None) -> tuple[str, np.ndarray]:
    """The one raster decoder router: sniff once, decode with the kind's
    bundled codec → (kind, uint8 gray/RGB image). Every image path (OCR
    payloads, images embedded in PDFs, media rows and video frames)
    decodes through here.

    Raises ValueError on malformed bytes and NotImplementedError on a
    kind with no bundled decoder: any non-raster kind, and the named
    codec seams inside a decodable container (AVIF, unsupported HEVC
    profiles). Callers turn both into per-row error statuses.
    """
    # Decoders are looked up at call time through their home modules,
    # never bound into a table at import: the benchmark's traced run
    # replaces module attributes such as ``decode_png`` with timed
    # wrappers, and a name bound early would bypass them (the traced
    # ``pngcodec.decode.mpixels`` would read zero).
    kind = sniff_payload(data)
    if kind == "png":
        return kind, decode_png(data)
    if kind in ("jpeg", "gif", "bmp", "tiff"):
        from ragflow_ocr_spark.kernels import imgcodecs

        return kind, getattr(imgcodecs, "decode_" + kind)(data)
    if kind == "webp":
        from ragflow_ocr_spark.kernels import webp

        return kind, webp.decode_webp(data)
    if kind == "jp2":
        from ragflow_ocr_spark.kernels import jpeg2000

        return kind, jpeg2000.decode_jpeg2000(data)
    if kind in ("heic", "avif"):
        # HEIF item layer (kernels/heif): hvc1 items — PCM and
        # entropy-coded (camera/x265, 8-bit + Main10) — decode via
        # kernels/hevc + hevc_intra; AVIF raises its named seam
        from ragflow_ocr_spark.kernels import heif

        return kind, heif.decode_heif(data)
    raise NotImplementedError(f"no bundled image decoder for {kind!r} payloads")
