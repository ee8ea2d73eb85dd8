"""Minimal real PDF parser + writers for the ``%PDF`` payload route.

The reference never parses PDFs (its cv2.imdecode route rejects them,
``/root/reference/ocr/operators.py:37-46``), but the north-star payload
mix includes ``%PDF`` documents, so this module gives the router a real
— if deliberately small — PDF implementation instead of a bespoke
fixture format:

- object scan: sequential ``N G obj … endobj`` parse (no xref needed —
  real-world tolerant readers do the same for damaged files); stream
  extents honor an integer ``/Length`` and fall back to searching
  ``endstream``;
- filters: ``/FlateDecode`` (stdlib zlib — the overwhelmingly common
  real-PDF filter), ``/LZWDecode`` (shared TIFF LZW), ``/ASCIIHexDecode``,
  ``/RunLengthDecode`` and ``/DCTDecode`` (the in-repo JPEG codec),
  chained in ``/Filter`` array order;
- pages: ``/Type /Page`` objects in document order; ``/Contents`` as a
  ref or array of refs, concatenated;
- content streams: text operators (``BT/ET``, ``Tf`` size, ``Td/TD/
  Tm/T*/TL`` positioning, ``Tj/TJ/'`` shows) are rasterized with the
  deterministic 5x7 font onto a MediaBox-sized canvas (PDF origin is
  bottom-left → rows flipped); image XObjects (``/Subtype /Image``,
  raw 8-bit gray/RGB or DCT/Flate-filtered) drawn via ``Do`` are
  returned directly — the scanned-page PDF shape.

Out of scope (ValueError, handled as per-row errors upstream): real
font glyph programs, CID text, encryption.
Flate/LZW ``/DecodeParms`` predictors (TIFF 2, PNG 10-15) and PDF 1.5
object streams (``/Type /ObjStm``) ARE decoded.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c == b"%":  # comment to EOL
            while i < n and data[i : i + 1] not in b"\r\n":
                i += 1
        elif c in _WS:
            i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_NAME_RE = re.compile(rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)")
_KW_RE = re.compile(rb"[A-Za-z'\"*]+")


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debugging aid
        return f"Ref({self.num})"


def _parse_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Literal string ``( … )`` with nesting and escapes."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            mapped = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(e)
            if mapped is not None:
                out.append(mapped)
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
            else:  # \( \) \\ and any other: literal next char
                out.append(e)
                i += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c)
        i += 1
    return bytes(out), i


def _parse_value(data: bytes, i: int):
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("truncated PDF value")
    if data.startswith(b"<<", i):
        i += 2
        d: dict = {}
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b">>", i):
                return d, i + 2
            if not data.startswith(b"/", i):
                raise ValueError("bad PDF dict key")
            m = _NAME_RE.match(data, i)
            key = m.group(1).decode("latin-1")
            v, i = _parse_value(data, m.end())
            d[key] = v
    if data.startswith(b"[", i):
        i += 1
        arr = []
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b"]", i):
                return arr, i + 1
            v, i = _parse_value(data, i)
            arr.append(v)
    if data.startswith(b"/", i):
        m = _NAME_RE.match(data, i)
        return ("name", m.group(1).decode("latin-1")), m.end()
    if data.startswith(b"(", i):
        return _parse_string(data, i)
    if data.startswith(b"<", i):  # hex string
        j = data.index(b">", i)
        hx = re.sub(rb"\s", b"", data[i + 1 : j])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")), j + 1
    m = _REF_RE.match(data, i)
    if m:
        return Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(data, i)
    if m:
        s = m.group(0)
        return (float(s) if b"." in s else int(s)), m.end()
    m = _KW_RE.match(data, i)
    if m:
        kw = m.group(0)
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        raise ValueError(f"unexpected PDF token {kw[:16]!r}")
    raise ValueError(f"unparseable PDF value at {i}")


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
# bare integer objects ("N G obj 1234 endobj") — the common shape of an
# indirect /Length target; pre-scanned so a stream whose /Length is a
# Ref can be sliced exactly even before its target is parsed
_INT_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\s+(\d+)\s+endobj")


def parse_objects(data: bytes) -> dict[int, tuple[object, bytes | None]]:
    """num → (value, raw_stream_bytes). Sequential scan so binary
    stream content can't be misread as an object header."""
    objs: dict[int, tuple[object, bytes | None]] = {}
    int_objs: dict[int, int] | None = None  # lazy pre-scan for Ref lengths
    pos = 0
    n = len(data)
    while True:
        m = _OBJ_RE.search(data, pos)
        if not m:
            break
        num = int(m.group(1))
        val, i = _parse_value(data, m.end())
        i = _skip_ws(data, i)
        stream = None
        if data.startswith(b"stream", i):
            i += 6
            if data.startswith(b"\r\n", i):
                i += 2
            elif data.startswith(b"\n", i) or data.startswith(b"\r", i):
                i += 1
            length = val.get("Length") if isinstance(val, dict) else None
            if isinstance(length, Ref):
                # indirect /Length (common in real PDFs): resolve via a
                # one-time scan of bare-integer objects in the file
                if int_objs is None:
                    int_objs = {
                        int(m.group(1)): int(m.group(2))
                        for m in _INT_OBJ_RE.finditer(data)
                    }
                length = int_objs.get(length.num)
            if isinstance(length, int) and data.startswith(
                b"endstream", _skip_ws(data, i + length)
            ):
                stream = data[i : i + length]
                i = _skip_ws(data, i + length) + len(b"endstream")
            else:  # /Length missing or wrong: search
                j = data.find(b"endstream", i)
                if j < 0:
                    raise ValueError("unterminated PDF stream")
                stream = data[i:j]
                # strip at most ONE EOL — binary payloads legitimately
                # end in 0x0A/0x0D; rstrip-ing a run truncates them
                if stream.endswith(b"\r\n"):
                    stream = stream[:-2]
                elif stream.endswith((b"\n", b"\r")):
                    stream = stream[:-1]
                i = j + len(b"endstream")
        objs[num] = (val, stream)
        j = data.find(b"endobj", i)
        pos = (j + 6) if j >= 0 else i
    if not objs:
        raise ValueError("no PDF objects")
    # PDF 1.5+ object streams (/Type /ObjStm): most real modern PDFs
    # store their page/catalog dicts INSIDE a compressed stream — the
    # sequential scan above only sees the container. Expand each one:
    # the decoded body starts with N (objnum, offset) integer pairs,
    # values begin at /First. A damaged ObjStm is skipped (tolerant-
    # reader behavior: salvage what the direct scan already found).
    for _num, (val, stream) in list(objs.items()):
        if not (
            isinstance(val, dict)
            and stream is not None
            and val.get("Type") == ("name", "ObjStm")
        ):
            continue
        try:
            body = _decode_stream(objs, val, stream)
            n_obj = _resolve(objs, val.get("N"))
            first = _resolve(objs, val.get("First"))
            if not (isinstance(n_obj, int) and isinstance(first, int)
                    and 0 < n_obj <= 10_000 and 0 <= first <= len(body)):
                raise ValueError("bad ObjStm header")
            header = body[:first].split()
            if len(header) < 2 * n_obj:
                raise ValueError("short ObjStm header")
            for k in range(n_obj):
                onum, ooff = int(header[2 * k]), int(header[2 * k + 1])
                if onum in objs:  # direct objects win (spec forbids dupes)
                    continue
                v, _end = _parse_value(body, first + ooff)
                objs[onum] = (v, None)
        except ValueError:
            continue
    return objs


def _resolve(objs, v):
    seen = 0
    while isinstance(v, Ref):
        v = objs.get(v.num, (None, None))[0]
        seen += 1
        if seen > 32:
            raise ValueError("PDF ref cycle")
    return v


def _apply_predictor(objs, out: bytes, parm) -> bytes:
    """/DecodeParms predictor for Flate/LZW streams: 2 = TIFF
    horizontal differencing, 10-15 = PNG per-row filters (the layout
    real generators use for xref streams and flate images)."""
    if not isinstance(parm, dict):
        return out
    pred = _resolve(objs, parm.get("Predictor", 1))
    if not isinstance(pred, int) or pred <= 1:
        return out
    colors = _resolve(objs, parm.get("Colors", 1))
    bpc = _resolve(objs, parm.get("BitsPerComponent", 8))
    cols = _resolve(objs, parm.get("Columns", 1))
    if not all(isinstance(v, int) and v > 0 for v in (colors, bpc, cols)):
        raise ValueError("bad PDF predictor parms")
    if bpc != 8:
        raise ValueError("only 8-bit PDF predictors supported")
    row = cols * colors
    if pred == 2:  # TIFF horizontal differencing
        from ragflow_ocr_spark.kernels.imgcodecs import _tiff_predictor_undo

        if len(out) % row:
            raise ValueError("predictor stream not row-aligned")
        a = np.frombuffer(out, np.uint8).reshape(-1, cols, colors)
        return _tiff_predictor_undo(a).tobytes()
    if 10 <= pred <= 15:  # PNG filters, one tag byte per row
        from ragflow_ocr_spark.kernels.pngcodec import _unfilter

        if len(out) % (row + 1):
            raise ValueError("predictor stream not row-aligned")
        rows = np.frombuffer(out, np.uint8).reshape(-1, row + 1)
        return _unfilter(rows, rows.shape[0], row, colors).tobytes()
    raise ValueError(f"unsupported PDF predictor {pred}")


def _decode_stream(objs, d: dict, raw: bytes) -> bytes:
    filt = _resolve(objs, d.get("Filter"))
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    parms = _resolve(objs, d.get("DecodeParms", d.get("DP")))
    parms_list = parms if isinstance(parms, list) else [parms]
    parms_list += [None] * (len(filters) - len(parms_list))
    out = raw
    for f, parm in zip(filters, parms_list):
        name = f[1] if isinstance(f, tuple) else f
        if name == "FlateDecode":
            # bounded inflate (decompression-bomb guard for untrusted
            # crawl payloads, same shape as the PNG path): a ~1 KB
            # stream declaring GBs must fail as a per-row error before
            # zlib allocates. 3x the pixel ceiling covers the largest
            # legitimate stream this parser renders (RGB image at
            # MAX_DECODE_PIXELS); content streams are far smaller.
            from ragflow_ocr_spark.kernels.imgcodecs import MAX_DECODE_PIXELS

            cap = 3 * MAX_DECODE_PIXELS
            dec = zlib.decompressobj()
            try:
                out = dec.decompress(out, cap)
            except zlib.error as e:
                raise ValueError(f"bad FlateDecode stream: {e}") from e
            if dec.unconsumed_tail:
                raise ValueError("PDF flate stream exceeds decode cap")
            if not dec.eof:
                # truncated deflate data silently yields a partial
                # prefix from decompressobj (unlike zlib.decompress,
                # which raised) — keep the loud per-row error
                raise ValueError("truncated PDF flate stream")
            out = _apply_predictor(objs, out, _resolve(objs, parm))
        elif name == "LZWDecode":
            # same LZW variant as TIFF (MSB-first, EarlyChange) —
            # bounded by the shared untrusted-payload pixel ceiling
            from ragflow_ocr_spark.kernels.imgcodecs import (
                MAX_DECODE_PIXELS,
                _tiff_lzw_decode,
            )

            out = _tiff_lzw_decode(out, MAX_DECODE_PIXELS)
            out = _apply_predictor(objs, out, _resolve(objs, parm))
        elif name == "ASCIIHexDecode":
            # hex pairs, whitespace-tolerant, '>' EOD; odd final digit
            # pads with 0 (PDF 32000-1 §7.4.2)
            body = out.split(b">", 1)[0]
            hexs = bytes(c for c in body if c not in b" \t\r\n\f\0")
            if any(c not in b"0123456789abcdefABCDEF" for c in hexs):
                raise ValueError("bad ASCIIHexDecode stream")
            if len(hexs) % 2:
                hexs += b"0"
            out = bytes.fromhex(hexs.decode("ascii"))
        elif name == "RunLengthDecode":
            # PackBits-style: length byte <128 → copy n+1, >128 →
            # repeat next byte 257-n times, 128 = EOD (§7.4.5);
            # repeat runs amplify ~128× so the flate cap applies here too
            from ragflow_ocr_spark.kernels.imgcodecs import MAX_DECODE_PIXELS

            cap = 3 * MAX_DECODE_PIXELS
            dec = bytearray()
            i = 0
            while i < len(out):
                if len(dec) > cap:
                    raise ValueError("PDF RunLength stream exceeds decode cap")
                b = out[i]
                i += 1
                if b == 128:
                    break
                if b < 128:
                    if i + b + 1 > len(out):
                        raise ValueError("truncated RunLengthDecode run")
                    dec += out[i : i + b + 1]
                    i += b + 1
                else:
                    if i >= len(out):
                        raise ValueError("truncated RunLengthDecode run")
                    dec += bytes([out[i]]) * (257 - b)
                    i += 1
            out = bytes(dec)
        elif name == "DCTDecode":
            pass  # image data; decoded by the JPEG codec at use site
        else:
            raise ValueError(f"unsupported PDF filter {name!r}")
    return out


def _xobject_image(objs, d: dict, raw: bytes) -> np.ndarray:
    w = _resolve(objs, d.get("Width"))
    h = _resolve(objs, d.get("Height"))
    bpc = _resolve(objs, d.get("BitsPerComponent", 8))
    if not (isinstance(w, int) and isinstance(h, int) and 0 < w and 0 < h):
        raise ValueError("bad PDF image dims")
    if bpc != 8:
        raise ValueError("only 8-bit PDF images supported")
    filt = _resolve(objs, d.get("Filter"))
    names = [f[1] if isinstance(f, tuple) else f for f in (
        filt if isinstance(filt, list) else ([filt] if filt else [])
    )]
    if "DCTDecode" in names:
        from ragflow_ocr_spark.kernels.imgcodecs import decode_jpeg

        return decode_jpeg(_decode_stream(objs, d, raw))
    data = _decode_stream(objs, d, raw)
    cs = _resolve(objs, d.get("ColorSpace"))
    cs_name = cs[1] if isinstance(cs, tuple) else cs
    ch = 3 if cs_name == "DeviceRGB" else 1
    if len(data) < w * h * ch:
        raise ValueError("short PDF image stream")
    arr = np.frombuffer(data, np.uint8, count=w * h * ch)
    return arr.reshape(h, w) if ch == 1 else arr.reshape(h, w, ch)


_SHOW_OPS = {b"Tj", b"'", b'"'}
_TOKEN_RE = re.compile(rb"\(|\[|<<|/|[+-]?(?:\d+\.\d*|\.\d+|\d+)|[A-Za-z'\"*]+|.")


def _content_tokens(content: bytes):
    i = 0
    n = len(content)
    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        if content.startswith(b"(", i):
            s, i = _parse_string(content, i)
            yield ("str", s)
        elif content.startswith(b"[", i):
            arr, i = _parse_value(content, i)
            yield ("arr", arr)
        elif content.startswith(b"<<", i):
            d, i = _parse_value(content, i)
            yield ("dict", d)
        elif content.startswith(b"<", i):
            # hex show string (<48..> Tj) — without this branch the
            # digits tokenize as stray numbers and the text silently
            # vanishes from the page. Consume through '>' ONLY when the
            # span is actually hex + whitespace: a lone 0x3C inside
            # malformed/binary content must stay a single stray byte,
            # or every operator up to some distant '>' is swallowed.
            # The scan is BOUNDED (ADVICE r04): a terminator more than
            # 4 KiB away means this is not a show string (real ones are
            # tens of bytes), and the cap also keeps a '<'-riddled
            # binary stream from going quadratic.
            j = content.find(b">", i, i + 4097)
            span = content[i + 1 : j] if j >= 0 else b""
            hx = re.sub(rb"[\s\x00]", b"", span)
            if j < 0 or not re.fullmatch(rb"[0-9a-fA-F]*", hx):
                i += 1  # stray delimiter, not a hex string
                continue
            if len(hx) % 2:
                hx += b"0"
            yield ("str", bytes.fromhex(hx.decode("ascii")))
            i = j + 1
        elif content.startswith(b"/", i):
            m = _NAME_RE.match(content, i)
            yield ("name", m.group(1).decode("latin-1"))
            i = m.end()
        else:
            m = _NUM_RE.match(content, i)
            if m:
                s = m.group(0)
                yield ("num", float(s) if b"." in s else int(s))
                i = m.end()
                continue
            m = _KW_RE.match(content, i)
            if m:
                yield ("op", m.group(0))
                i = m.end()
            else:
                i += 1  # tolerate stray delimiter


def _render_text_spans(spans, media_w: int, media_h: int) -> np.ndarray:
    from ragflow_ocr_spark.kernels import font5x7

    img = np.full((media_h, media_w), 255, dtype=np.uint8)
    for x, y, size, text in spans:
        text = font5x7.sanitize(text)
        if not text.strip():
            continue
        scale = max(1, min(6, int(round(size / 12.0))))
        ink = font5x7.render_line(text, scale)
        top = media_h - int(round(y)) - ink.shape[0]
        left = int(round(x))
        if top >= media_h or left >= media_w:
            continue
        t0, l0 = max(0, top), max(0, left)
        sub = ink[t0 - top : media_h - top, l0 - left : media_w - left]
        img[t0 : t0 + sub.shape[0], l0 : l0 + sub.shape[1]][sub] = 0
    return img


def pdf_to_image(data: bytes) -> np.ndarray:
    """%PDF bytes → FIRST page as uint8 gray/RGB image. The OCR paths
    call ``pdf_to_images`` (the staged API with ``max_pages=1``)."""
    return pdf_to_images(data, max_pages=1)[0]


def pdf_to_images(data: bytes, max_pages: int = 16) -> list[np.ndarray]:
    """%PDF bytes → page images (uint8 gray/RGB), up to ``max_pages``
    (crafted page-tree bombs stay bounded).

    Image-XObject pages return the embedded image (scan shape); text
    pages rasterize their Tj/TJ spans with the 5x7 font. Raises
    ValueError on anything outside the documented subset (per-row
    error upstream, never a task failure)."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF")
    try:
        objs = parse_objects(data)
    except RecursionError as e:  # deep nesting bomb
        raise ValueError("pathological PDF nesting") from e
    pages = [
        (num, d)
        for num, (d, _s) in sorted(objs.items())
        if isinstance(d, dict) and d.get("Type") == ("name", "Page")
    ]
    if not pages:
        raise ValueError("PDF has no /Type /Page object")
    imgs = [_page_image(objs, page) for _num, page in pages[:max_pages]]
    # Salvage route for content-less documents: some writers (broken
    # generators, and this repo's own early fixtures) emit page objects
    # with NO /Contents key while the page scan sits in an orphan image
    # stream nothing references. The gate is the structural shape —
    # every page object lacks /Contents — NOT "all pages rendered
    # blank": a legitimately blank PDF whose pages do declare /Contents
    # keeps its blank pages ('empty') even if an unreferenced
    # thumbnail/logo stream happens to be decodable elsewhere in the
    # file. A contentless file with no image streams also stays blank.
    if all("Contents" not in page for _num, page in pages):
        salvaged: list[np.ndarray] = []
        for _num, (d, raw) in sorted(objs.items()):
            if raw is None or not isinstance(d, dict):
                continue
            if len(salvaged) >= max_pages:
                break
            if d.get("Subtype") == ("name", "Image"):
                try:
                    salvaged.append(_xobject_image(objs, d, raw))
                    continue
                except (ValueError, NotImplementedError):
                    pass
            try:
                body = _decode_stream(objs, d, raw)
            except ValueError:
                continue
            img = _decode_bare_image(body)
            if img is not None:
                salvaged.append(img)
        if salvaged:
            return salvaged[:max_pages]
    return imgs


def _decode_bare_image(body: bytes) -> np.ndarray | None:
    """Stream bytes that ARE a standalone image file → decoded image
    (or None), through the raster router ``pngcodec.decode_image``."""
    from ragflow_ocr_spark.kernels import pngcodec

    try:
        return pngcodec.decode_image(body)[1]
    except (ValueError, NotImplementedError):
        return None


def _page_image(objs, page: dict) -> np.ndarray:
    media = _resolve(objs, page.get("MediaBox", [0, 0, 612, 792]))
    media_w = max(1, int(_resolve(objs, media[2]) - _resolve(objs, media[0])))
    media_h = max(1, int(_resolve(objs, media[3]) - _resolve(objs, media[1])))
    if media_w * media_h > (1 << 26):
        raise ValueError("PDF MediaBox too large")

    resources = _resolve(objs, page.get("Resources", {})) or {}
    xobjects = _resolve(objs, resources.get("XObject", {})) or {}

    contents = _resolve(objs, page.get("Contents"))
    content_refs = contents if isinstance(contents, list) else [page.get("Contents")]
    chunks = []
    for ref in content_refs:
        if isinstance(ref, Ref) and ref.num in objs:
            d, raw = objs[ref.num]
            if raw is not None:
                chunks.append(_decode_stream(objs, d if isinstance(d, dict) else {}, raw))
    content = b"\n".join(chunks)

    spans: list[tuple[float, float, float, str]] = []
    size = 12.0
    leading = 0.0
    tx = ty = 0.0
    # graphics-state translation: real generators wrap text in
    # `q 1 0 0 1 dx dy cm … Q` blocks; only the translation components
    # (e, f) are honored — rotation/shear stay out of scope like the
    # rest of the deliberately small interpreter
    gx = gy = 0.0
    gstack: list[tuple[float, float]] = []
    stack: list = []
    for kind, tok in _content_tokens(content):
        if kind in ("str", "num", "name", "arr", "dict"):
            stack.append((kind, tok))
            continue
        op = tok

        def _nums(k: int) -> list[float]:
            vals = [v for t, v in stack[-k:] if t == "num"]
            return vals if len(vals) == k else []

        if op == b"Tf":
            v = _nums(1)
            if v:
                size = float(v[0])
        elif op in (b"Td", b"TD"):
            v = _nums(2)
            if v:
                tx += v[0]
                ty += v[1]
                if op == b"TD":
                    leading = -v[1]
        elif op == b"Tm":
            v = _nums(6)
            if v:
                tx, ty = v[4], v[5]
                size = abs(v[3]) or size  # scale from matrix d
        elif op == b"TL":
            v = _nums(1)
            if v:
                leading = float(v[0])
        elif op == b"T*":
            ty -= leading
        elif op == b"BT":
            tx = ty = 0.0
        elif op == b"cm":
            v = _nums(6)
            if v:
                gx += v[4]
                gy += v[5]
        elif op == b"q":
            gstack.append((gx, gy))
        elif op == b"Q":
            if gstack:
                gx, gy = gstack.pop()
        elif op in _SHOW_OPS:
            if op == b"'":
                ty -= leading
            if stack and stack[-1][0] == "str":
                spans.append((gx + tx, gy + ty, size, stack[-1][1].decode("latin-1")))
        elif op == b"TJ":
            if stack and stack[-1][0] == "arr":
                parts = [
                    p.decode("latin-1")
                    for p in stack[-1][1]
                    if isinstance(p, bytes)
                ]
                spans.append((gx + tx, gy + ty, size, "".join(parts)))
        elif op == b"Do":
            if stack and stack[-1][0] == "name":
                xo = stack[-1][1]
                target = xobjects.get(xo)
                if isinstance(target, Ref) and target.num in objs:
                    d, raw = objs[target.num]
                    if (
                        isinstance(d, dict)
                        and d.get("Subtype") == ("name", "Image")
                        and raw is not None
                    ):
                        # scanned-page shape: the image IS the page
                        return _xobject_image(objs, d, raw)
        stack.clear()
    return _render_text_spans(spans, media_w, media_h)


# ------------------------------------------------------------- writers
def _escape(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1", "replace")


def _assemble(objects: list[bytes]) -> bytes:
    """Objects (1-indexed, pre-serialized bodies) → full PDF with a
    correct xref table (our parser ignores xref; real readers don't)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    n = len(objects) + 1
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def build_text_pdf(
    lines: list[str] | None = None,
    size: int = 24,
    media: tuple[int, int] = (612, 792),
    margin: int = 40,
    compress: bool = False,
    pages: list[list[str]] | None = None,
) -> bytes:
    """Real text PDF: catalog → pages → page(s) → content stream(s) of
    Tf/Td/Tj ops (optionally FlateDecode'd) + a Type1 font resource.
    ``lines`` makes a single page; ``pages`` a multi-page document."""
    if pages is None:
        pages = [lines or []]
    w, h = media
    n_pages = len(pages)
    # object layout: 1 catalog, 2 pages, then per page (page, content),
    # font last
    font_num = 3 + 2 * n_pages
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
    ]
    for i, page_lines in enumerate(pages):
        ops = [b"BT", f"/F1 {size} Tf".encode()]
        y = h - margin - size
        first = True
        for line in page_lines:
            if first:
                ops.append(f"{margin} {y} Td".encode())
                first = False
            else:
                ops.append(f"0 -{size + 16} Td".encode())
            ops.append(b"(" + _escape(line) + b") Tj")
        ops.append(b"ET")
        content = b" ".join(ops)
        filt = b""
        if compress:
            content = zlib.compress(content)
            filt = b" /Filter /FlateDecode"
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
                f"/Contents {4 + 2 * i} 0 R "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
            ).encode()
        )
        objects.append(
            b"<< /Length "
            + str(len(content)).encode()
            + filt
            + b" >>\nstream\n"
            + content
            + b"\nendstream"
        )
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _assemble(objects)


def build_image_pdf(img: np.ndarray, filter_: str = "flate") -> bytes:
    """Real single-page scanned-document PDF: the page content draws
    one image XObject (raw / FlateDecode / DCTDecode)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    cs = "DeviceGray" if gray else "DeviceRGB"
    raw = np.ascontiguousarray(img).tobytes()
    if filter_ == "flate":
        data, filt = zlib.compress(raw), " /Filter /FlateDecode"
    elif filter_ == "dct":
        from ragflow_ocr_spark.kernels.imgcodecs import encode_jpeg

        data, filt = encode_jpeg(img, quality=95), " /Filter /DCTDecode"
    elif filter_ == "raw":
        data, filt = raw, ""
    else:
        raise ValueError(f"unknown pdf image filter {filter_!r}")
    content = f"q {w} 0 0 {h} 0 0 cm /Im1 Do Q".encode()
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            "/Contents 4 0 R /Resources << /XObject << /Im1 5 0 R >> >> >>"
        ).encode(),
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
        (
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace /{cs} /BitsPerComponent 8{filt} /Length {len(data)} >>"
        ).encode()
        + b"\nstream\n"
        + data
        + b"\nendstream",
    ]
    return _assemble(objects)
