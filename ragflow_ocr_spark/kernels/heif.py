"""HEIF/HEIC still images (ISO/IEC 23008-12 image file format).

Reference parity target: the reference hands any payload to cv2
(``/root/reference/ocr/operators.py:41-46``); HEIC is the default
iPhone photo format and a common crawl payload. This module
implements the ISO-BMFF item layer from scratch — ``meta`` /
``hdlr('pict')`` / ``pitm`` / ``iinf``+``infe`` / ``iloc`` /
``iprp(ipco+ipma)`` box parsing, primary-item resolution, property
association (hvcC, ispe) and extent gathering — and hands the coded
item to the libde265-cross-validated HEVC keyframe layer
(kernels/hevc.py).

Decode coverage is exactly the HEVC module's: its one decoder, the
intra decoder in kernels/hevc_intra (libde265-validated), takes the
PCM coding units our fixture encoder emits AND entropy-coded hvc1
items — i.e. every real camera/x265 HEIC, 8-bit and Main10. AVIF (av01
items in the same container) raises a named seam that carries the
REAL coded facts from the AV1 OBU sequence-header parse below
(geometry/bit depth without decode); the Spark stages map the error to
a per-row status.

Error contract: ValueError on malformed boxes, NotImplementedError on
the named codec seams — never a silent wrong image.
"""

from __future__ import annotations

import struct

import numpy as np

from ragflow_ocr_spark.kernels import hevc
from ragflow_ocr_spark.kernels.pngcodec import iso_boxes, sniff_payload

MAX_HEIF_BYTES = 64 << 20  # per-row payload bound
MAX_HEIF_PIXELS = hevc.MAX_HEVC_PIXELS  # grid output budget


def _fullbox(data: bytes, body: int) -> tuple[int, int, int]:
    """(version, flags, payload_start)."""
    if body + 4 > len(data):
        raise ValueError("truncated heif full box")
    v = data[body]
    flags = int.from_bytes(data[body + 1:body + 4], "big")
    return v, flags, body + 4


def _need(p: int, n: int, end: int, what: str) -> None:
    """Raise unless ``n`` bytes at ``p`` lie inside the box (``end``)."""
    if p + n > end:
        raise ValueError(f"truncated heif {what}")


def _parse_iloc(data: bytes, body: int, end: int) -> dict[int, list]:
    v, _flags, p = _fullbox(data, body)
    if v > 2:
        raise ValueError("heif iloc version not supported")
    _need(p, 2, end, "iloc")
    sizes = data[p]
    offset_size, length_size = sizes >> 4, sizes & 15
    base_size = data[p + 1] >> 4
    index_size = (data[p + 1] & 15) if v in (1, 2) else 0
    p += 2

    def take(n):
        nonlocal p
        if n == 0:
            return 0
        _need(p, n, end, "iloc")
        val = int.from_bytes(data[p:p + n], "big")
        p += n
        return val

    count = take(2 if v < 2 else 4)
    items: dict[int, list] = {}
    for _ in range(count):
        item_id = take(2 if v < 2 else 4)
        method = 0
        if v in (1, 2):
            method = take(2) & 15
        take(2)  # data_reference_index
        base = take(base_size)
        n_ext = take(2)
        extents = []
        for _ in range(n_ext):
            if index_size:
                take(index_size)
            off = take(offset_size)
            ln = take(length_size)
            extents.append((base + off, ln))
        if method > 1:
            # item-offset construction (method 2): not emitted by
            # mainstream HEIC writers
            raise NotImplementedError(
                "heif iloc construction_method 2 not bundled")
        # method 0: file offsets; method 1: offsets into meta/idat
        # (libheif inlines small payloads this way)
        items[item_id] = (method, extents)
    return items


def _parse_iinf(data: bytes, body: int, end: int) -> dict[int, bytes]:
    v, _flags, p = _fullbox(data, body)
    _need(p, 2 if v == 0 else 4, end, "iinf")
    if v == 0:
        (count,) = struct.unpack_from(">H", data, p)
        p += 2
    else:
        (count,) = struct.unpack_from(">I", data, p)
        p += 4
    types: dict[int, bytes] = {}
    seen = 0
    for tag, b, e in iso_boxes(data, p, end):
        if tag != b"infe":
            continue
        iv, _f, q = _fullbox(data, b)
        if iv < 2:
            raise ValueError("heif infe version < 2 not supported")
        _need(q, 4 if iv == 2 else 6, e, "infe")
        item_id = (struct.unpack_from(">H", data, q)[0] if iv == 2
                   else struct.unpack_from(">I", data, q)[0])
        q += 2 if iv == 2 else 4
        q += 2  # item_protection_index
        types[item_id] = data[q:q + 4]
        seen += 1
    if seen != count:
        raise ValueError("heif iinf entry count mismatch")
    return types


def _parse_ipma(data: bytes, body: int, end: int) -> dict[int, list[int]]:
    v, flags, p = _fullbox(data, body)
    id_size = 2 if v < 1 else 4
    idx_size = 2 if flags & 1 else 1
    _need(p, 4, end, "ipma")
    (count,) = struct.unpack_from(">I", data, p)
    p += 4
    assoc: dict[int, list[int]] = {}
    for _ in range(count):
        _need(p, id_size + 1, end, "ipma")
        item_id = int.from_bytes(data[p:p + id_size], "big")
        n = data[p + id_size]
        p += id_size + 1
        _need(p, n * idx_size, end, "ipma")
        idxs = []
        for _ in range(n):
            if idx_size == 2:
                (w,) = struct.unpack_from(">H", data, p)
                idxs.append(w & 0x7FFF)
            else:
                idxs.append(data[p] & 0x7F)
            p += idx_size
        assoc[item_id] = idxs
    return assoc


def _parse_iref(data: bytes, body: int, end: int) -> dict[tuple[bytes, int], list[int]]:
    """iref -> {(ref_type, from_item): [to_items...]}."""
    v, _flags, p = _fullbox(data, body)
    wid = 2 if v == 0 else 4
    fmt = ">H" if v == 0 else ">I"
    refs: dict[tuple[bytes, int], list[int]] = {}
    for tag, b, e in iso_boxes(data, p, end):
        q = b
        _need(q, wid + 2, e, "iref")
        (from_id,) = struct.unpack_from(fmt, data, q)
        q += wid
        (n,) = struct.unpack_from(">H", data, q)
        q += 2
        _need(q, n * wid, e, "iref")
        to = []
        for _ in range(n):
            (tid,) = struct.unpack_from(fmt, data, q)
            q += wid
            to.append(tid)
        refs[(tag, from_id)] = to
    return refs


def parse_heif(data: bytes) -> dict:
    """HEIF container -> the primary item's {'item_type', 'config'
    (hvcC bytes or None), 'item' (coded bytes), 'ispe'} plus the full
    item maps ('primary', 'types', 'iloc_bytes' per-item coded bytes,
    'configs'/'ispes' per-item properties, 'refs' from iref) so grid
    composition can resolve tile items."""
    data = bytes(data)
    if len(data) > MAX_HEIF_BYTES:
        raise ValueError("heif payload exceeds the per-row budget")
    if sniff_payload(data) not in ("heic", "avif"):
        raise ValueError("not a HEIF/AVIF file (ftyp brand)")
    meta = None
    for tag, body, end in iso_boxes(data, 0, len(data)):
        if tag == b"meta":
            meta = (body, end)
            break
    if meta is None:
        raise ValueError("heif file without meta box")
    _v, _f, p = _fullbox(data, meta[0])
    primary = None
    iloc: dict[int, list] | None = None
    types: dict[int, bytes] = {}
    props: list[tuple[bytes, bytes]] = []
    ipma: dict[int, list[int]] = {}
    refs: dict[tuple[bytes, int], list[int]] = {}
    idat = b""
    for tag, body, end in iso_boxes(data, p, meta[1]):
        if tag == b"idat":
            idat = data[body:end]
        elif tag == b"hdlr":
            _hv, _hf, q = _fullbox(data, body)
            if data[q + 4:q + 8] != b"pict":
                raise ValueError("heif meta handler is not 'pict'")
        elif tag == b"pitm":
            pv, _pf, q = _fullbox(data, body)
            _need(q, 2 if pv == 0 else 4, end, "pitm")
            primary = (struct.unpack_from(">H", data, q)[0] if pv == 0
                       else struct.unpack_from(">I", data, q)[0])
        elif tag == b"iloc":
            iloc = _parse_iloc(data, body, end)
        elif tag == b"iinf":
            types = _parse_iinf(data, body, end)
        elif tag == b"iref":
            refs = _parse_iref(data, body, end)
        elif tag == b"iprp":
            for t2, b2, e2 in iso_boxes(data, body, end):
                if t2 == b"ipco":
                    for t3, b3, e3 in iso_boxes(data, b2, e2):
                        props.append((t3, data[b3:e3]))
                elif t2 == b"ipma":
                    ipma = _parse_ipma(data, b2, e2)
    if primary is None or iloc is None or primary not in iloc:
        raise ValueError("heif primary item unresolvable")

    def item_bytes(item_id: int) -> bytes:
        if item_id not in iloc:
            raise ValueError("heif item without iloc entry")
        method, extents = iloc[item_id]
        src = idat if method == 1 else data
        chunks = []
        total = 0
        for off, ln in extents:
            if off + ln > len(src):
                raise ValueError("heif item extent beyond file")
            # extents may repeat the whole file: cap what they add up to
            total += ln
            if total > MAX_HEIF_BYTES:
                raise ValueError("heif item exceeds the per-row budget")
            chunks.append(src[off:off + ln])
        return b"".join(chunks)

    configs: dict[int, bytes] = {}
    ispes: dict[int, tuple[int, int]] = {}
    irots: dict[int, int] = {}
    imirs: dict[int, int] = {}
    for item_id, idxs in ipma.items():
        for idx in idxs:
            if not 1 <= idx <= len(props):
                raise ValueError("heif ipma property index out of range")
            tag, payload = props[idx - 1]
            if tag == b"hvcC":
                configs[item_id] = payload
            elif tag == b"ispe" and len(payload) >= 12:
                w, h = struct.unpack_from(">II", payload, 4)
                ispes[item_id] = (w, h)
            elif tag == b"irot" and payload:
                irots[item_id] = payload[0] & 3  # 90° CCW steps
            elif tag == b"imir" and payload:
                imirs[item_id] = payload[0] & 1  # 0=vertical axis
    return {
        "item_type": types.get(primary, b""),
        "config": configs.get(primary),
        "item": item_bytes(primary),
        "ispe": ispes.get(primary),
        "primary": primary,
        "types": types,
        "configs": configs,
        "ispes": ispes,
        "refs": refs,
        "item_bytes": item_bytes,
        "irot": irots.get(primary, 0),
        "imir": imirs.get(primary),
    }


def _decode_hvc1_item(info: dict, item_id: int) -> np.ndarray:
    config = info["configs"].get(item_id)
    if config is None:
        raise ValueError("heic hvc1 item without hvcC property")
    nls, param_nals = hevc.parse_hvcc(config)
    au = hevc.hvcc_sample_to_annexb(info["item_bytes"](item_id), nls,
                                    param_nals)
    return hevc.decode_hevc_keyframe(au)


def _decode_grid(info: dict) -> np.ndarray:
    """ISO 23008-12 §6.6.2.3.2 ImageGrid: the primary item's data is
    the grid descriptor; its 'dimg' references are the tiles in
    raster order (the layout every multi-tile camera HEIC uses)."""
    desc = info["item"]
    if len(desc) < 8:
        raise ValueError("heif grid descriptor truncated")
    version, flags = desc[0], desc[1]
    if version != 0:
        raise ValueError("heif grid descriptor version not supported")
    rows = desc[2] + 1
    cols = desc[3] + 1
    if flags & 1:
        if len(desc) < 12:
            raise ValueError("heif grid descriptor truncated")
        out_w, out_h = struct.unpack_from(">II", desc, 4)
    else:
        out_w, out_h = struct.unpack_from(">HH", desc, 4)
    if out_w * out_h > MAX_HEIF_PIXELS:
        raise ValueError("heif grid output exceeds the pixel budget")
    tiles = info["refs"].get((b"dimg", info["primary"]))
    if not tiles or len(tiles) != rows * cols:
        raise ValueError("heif grid dimg reference count mismatch")
    canvas = None
    th = tw = 0
    for k, tid in enumerate(tiles):
        ttype = info["types"].get(tid, b"")
        if ttype != b"hvc1":
            raise NotImplementedError(
                f"heif grid tile type {ttype!r} not bundled")
        tile = _decode_hvc1_item(info, tid)
        if tile.ndim == 2:
            tile = np.broadcast_to(tile[:, :, None], (*tile.shape, 3))
        if canvas is None:
            th, tw = tile.shape[:2]
            if tw * cols < out_w or th * rows < out_h:
                raise ValueError("heif grid tiles do not cover output")
            # the tile lattice can exceed a small declared output:
            # check its canvas before allocating or decoding further
            if th * rows * tw * cols > MAX_HEIF_PIXELS:
                raise ValueError("heif grid canvas exceeds the pixel budget")
            canvas = np.zeros((th * rows, tw * cols, 3), np.uint8)
        elif tile.shape[:2] != (th, tw):
            raise ValueError("heif grid tiles disagree in size")
        r, c = divmod(k, cols)
        canvas[r * th:(r + 1) * th, c * tw:(c + 1) * tw] = tile
    out = canvas[:out_h, :out_w]
    if (out[:, :, 0] == out[:, :, 1]).all() \
            and (out[:, :, 1] == out[:, :, 2]).all():
        return np.ascontiguousarray(out[:, :, 0])
    return np.ascontiguousarray(out)


def decode_heif(data: bytes) -> np.ndarray:
    """HEIC -> uint8 image via the HEVC keyframe layer, whose one
    decoder (kernels/hevc_intra.py) takes PCM and entropy-coded items
    alike: single hvc1 items AND raster grids of hvc1 tiles. AVIF and
    the HEVC named seams raise NotImplementedError (per-row error
    upstream)."""
    info = parse_heif(data)
    if info["item_type"] == b"av01":
        try:
            facts = parse_av1_sequence_header(info["item"])
            shape = (f"{facts['width']}x{facts['height']} "
                     f"{facts['bit_depth']}-bit")
        except (ValueError, NotImplementedError):
            shape = "unparsed"
        raise NotImplementedError(
            f"AVIF (AV1 {shape} item) decode not bundled — the AV1 "
            "default CDF tables cannot be validated offline "
            "(named seam; header facts via parse_avif_header)")
    if info["item_type"] == b"grid":
        img = _decode_grid(info)
    elif info["item_type"] == b"hvc1":
        img = _decode_hvc1_item(info, info["primary"])
    else:
        raise NotImplementedError(
            f"heif item type {info['item_type']!r} not bundled")
    if info["ispe"] is not None and img.shape[:2] != info["ispe"][::-1]:
        raise ValueError("heic ispe size disagrees with coded frame")
    # transformative properties (ispe describes the pre-transform
    # size): irot = anti-clockwise 90° steps, imir axis 0 = mirror
    # across the vertical axis (left-right), 1 = horizontal (up-down)
    if info["irot"]:
        img = np.rot90(img, info["irot"])
    if info["imir"] is not None:
        img = img[:, ::-1] if info["imir"] == 0 else img[::-1]
    return np.ascontiguousarray(img)


def encode_heic(img: np.ndarray) -> bytes:
    """uint8 image -> minimal conformant HEIC with one PCM-coded hvc1
    item (fixture writer; even dims per the HEVC 4:2:0 contract; the
    RGB->YUV conversion is the only lossy step)."""
    from ragflow_ocr_spark.kernels.hevc import _rgb_to_yuv

    return encode_heic_yuv(*_rgb_to_yuv(np.asarray(img)))


def encode_heic_yuv(y: np.ndarray, u: np.ndarray, v: np.ndarray,
                    irot: int = 0, imir: int | None = None,
                    coder: str = "pcm") -> bytes:
    """YUV420 planes -> minimal HEIC (the coded layer is exact, so a
    chroma-neutral plane set decodes to the closed BT.601 gray form —
    the fixture construction the oracle-checked queries rely on).
    Optional irot (anti-clockwise 90° steps) / imir (mirror axis)
    transformative properties for the orientation path. coder="cabac"
    uses the transquant-bypass intra encoder (kernels/hevc_intra) —
    also byte-exact, but through the full entropy-coded decode path
    every real camera/x265 HEIC takes."""
    bit_depth = 8
    if coder in ("cabac", "cabac10"):
        from ragflow_ocr_spark.kernels import hevc_intra

        bit_depth = 10 if coder == "cabac10" else 8
        au = hevc_intra.encode_hevc_intra_lossless_yuv(
            y, u, v, bit_depth=bit_depth)
    else:
        au = hevc.encode_hevc_ipcm_yuv(y, u, v)
    body, vps, sps, pps = hevc.annexb_au_to_hvcc(au)
    hvcc = hevc.build_hvcc(vps, sps, pps, bit_depth=bit_depth)
    h, w = np.asarray(y).shape[:2]

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def fullbox(tag: bytes, payload: bytes, version: int = 0,
                flags: int = 0) -> bytes:
        return box(tag, bytes([version])
                   + flags.to_bytes(3, "big") + payload)

    ftyp = box(b"ftyp", b"heic\x00\x00\x00\x00mif1heic")
    hdlr = fullbox(b"hdlr", b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"\x00")
    pitm = fullbox(b"pitm", struct.pack(">H", 1))
    infe = fullbox(b"infe", struct.pack(">HH", 1, 0) + b"hvc1" + b"\x00",
                   version=2)
    iinf = fullbox(b"iinf", struct.pack(">H", 1) + infe)
    prop_boxes = (box(b"hvcC", hvcc)
                  + fullbox(b"ispe", struct.pack(">II", w, h)))
    assoc = [0x81, 0x02]  # property 1 (hvcC, essential), 2 (ispe)
    n_props = 2
    if irot % 4:
        prop_boxes += box(b"irot", bytes([irot % 4]))
        n_props += 1
        assoc.append(0x80 | n_props)  # transformative: essential
    if imir is not None:
        prop_boxes += box(b"imir", bytes([imir & 1]))
        n_props += 1
        assoc.append(0x80 | n_props)
    ipco = box(b"ipco", prop_boxes)
    ipma = fullbox(b"ipma", struct.pack(">I", 1)
                   + struct.pack(">H", 1)
                   + bytes([len(assoc)] + assoc))
    iprp = box(b"iprp", ipco + ipma)
    # iloc v0 with 4-byte offset/length, patched after layout is known
    iloc_payload = (bytes([0x44, 0x00]) + struct.pack(">H", 1)
                    + struct.pack(">HH", 1, 0)
                    + struct.pack(">H", 1)
                    + struct.pack(">II", 0, len(body)))
    iloc = fullbox(b"iloc", iloc_payload)
    meta_children = hdlr + pitm + iinf + iprp + iloc
    meta = fullbox(b"meta", meta_children)
    mdat = box(b"mdat", body)
    item_off = len(ftyp) + len(meta) + 8
    out = bytearray(ftyp + meta + mdat)
    # patch the extent offset (last 8 bytes of iloc are offset+length)
    off_pos = len(ftyp) + len(meta) - 8
    out[off_pos:off_pos + 4] = struct.pack(">I", item_off)
    return bytes(out)


def encode_heic_grid(img: np.ndarray, rows: int, cols: int) -> bytes:
    """uint8 image -> HEIC whose primary item is an ImageGrid of
    rows x cols PCM-coded hvc1 tiles (the multi-tile layout real
    camera HEICs use; fixture writer for the grid decode path). Tile
    dims must be even; the image is edge-padded to the tile lattice
    and cropped back via the grid's output size."""
    from ragflow_ocr_spark.kernels.hevc import _rgb_to_yuv

    img = np.asarray(img)
    h, w = img.shape[:2]
    if rows < 1 or cols < 1 or rows > 256 or cols > 256:
        raise ValueError("heif grid rows/cols out of range")
    tile_h = -(-h // rows)
    tile_w = -(-w // cols)
    tile_h += tile_h & 1
    tile_w += tile_w & 1
    pad_h, pad_w = tile_h * rows - h, tile_w * cols - w
    pad = ((0, pad_h), (0, pad_w)) + ((0, 0),) * (img.ndim - 2)
    padded = np.pad(img, pad, "edge")

    tile_bodies = []
    hvcc = None
    for r in range(rows):
        for c in range(cols):
            tile = padded[r * tile_h:(r + 1) * tile_h,
                          c * tile_w:(c + 1) * tile_w]
            au = hevc.encode_hevc_ipcm_yuv(*_rgb_to_yuv(tile))
            body, vps, sps, pps = hevc.annexb_au_to_hvcc(au)
            tile_bodies.append(body)
            if hvcc is None:
                hvcc = hevc.build_hvcc(vps, sps, pps)

    # ImageGrid descriptor (version 0, 32-bit output size)
    grid_desc = bytes([0, 1, rows - 1, cols - 1]) + struct.pack(">II", w, h)

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def fullbox(tag: bytes, payload: bytes, version: int = 0,
                flags: int = 0) -> bytes:
        return box(tag, bytes([version])
                   + flags.to_bytes(3, "big") + payload)

    n_tiles = rows * cols
    grid_id = 1
    tile_ids = list(range(2, 2 + n_tiles))
    ftyp = box(b"ftyp", b"heic\x00\x00\x00\x00mif1heic")
    hdlr = fullbox(b"hdlr", b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"\x00")
    pitm = fullbox(b"pitm", struct.pack(">H", grid_id))
    infes = fullbox(b"infe",
                    struct.pack(">HH", grid_id, 0) + b"grid" + b"\x00",
                    version=2)
    for tid in tile_ids:
        infes += fullbox(b"infe",
                         struct.pack(">HH", tid, 0) + b"hvc1" + b"\x00",
                         version=2)
    iinf = fullbox(b"iinf", struct.pack(">H", 1 + n_tiles) + infes)
    iref = fullbox(
        b"iref",
        box(b"dimg", struct.pack(">HH", grid_id, n_tiles)
            + b"".join(struct.pack(">H", t) for t in tile_ids)))
    # properties: 1 = shared hvcC, 2 = tile ispe, 3 = grid ispe
    ipco = box(b"ipco",
               box(b"hvcC", hvcc)
               + fullbox(b"ispe", struct.pack(">II", tile_w, tile_h))
               + fullbox(b"ispe", struct.pack(">II", w, h)))
    ipma_entries = struct.pack(">H", grid_id) + bytes([1, 0x03])
    for tid in tile_ids:
        ipma_entries += struct.pack(">H", tid) + bytes([2, 0x81, 0x02])
    ipma = fullbox(b"ipma", struct.pack(">I", 1 + n_tiles) + ipma_entries)
    iprp = box(b"iprp", ipco + ipma)
    # iloc v0, 4-byte offset/length; offsets patched once layout known
    iloc_items = bytearray()
    sizes = [len(grid_desc)] + [len(b) for b in tile_bodies]
    for item_id, ln in zip([grid_id] + tile_ids, sizes):
        iloc_items += struct.pack(">HHH", item_id, 0, 1)
        iloc_items += struct.pack(">II", 0, ln)
    iloc = fullbox(b"iloc", bytes([0x44, 0x00])
                   + struct.pack(">H", 1 + n_tiles) + bytes(iloc_items))
    meta = fullbox(b"meta", hdlr + pitm + iinf + iref + iprp + iloc)
    mdat_payload = grid_desc + b"".join(tile_bodies)
    mdat = box(b"mdat", mdat_payload)
    out = bytearray(ftyp + meta + mdat)
    # patch extent offsets: iloc entries sit at the end of meta; each
    # entry is 6 bytes of ids + 8 bytes (offset, length)
    entry_base = len(ftyp) + len(meta) - len(iloc_items)
    data_base = len(ftyp) + len(meta) + 8
    off = data_base
    for k, ln in enumerate(sizes):
        pos = entry_base + k * 14 + 6
        out[pos:pos + 4] = struct.pack(">I", off)
        off += ln
    return bytes(out)


# ------------------------------------------------------------- AVIF
# AV1 OBU sequence-header parse (AV1 spec 5.3/5.5, public): enough to
# report the real coded geometry / bit depth / chroma of av01 items.
# Full AV1 sample decode stays a NAMED seam — the default CDF tables
# cannot be independently validated on this host (no AV1 spec tables
# or extractable anchor values; the VP8-tables rule applies).

def _leb128(data: bytes, p: int) -> tuple[int, int]:
    v = 0
    for i in range(8):
        if p >= len(data):
            raise ValueError("truncated AV1 leb128")
        b = data[p]
        p += 1
        v |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return v, p
    raise ValueError("overlong AV1 leb128")


def parse_av1_sequence_header(obus: bytes) -> dict:
    """OBU stream (an av01 item payload) -> sequence-header facts:
    width/height, bit_depth, monochrome, profile, still_picture."""
    from ragflow_ocr_spark.kernels.hevc import _BitReader

    p = 0
    while p < len(obus):
        hdr = obus[p]
        if hdr & 0x80:
            raise ValueError("AV1 obu_forbidden_bit set")
        obu_type = (hdr >> 3) & 0xF
        ext = (hdr >> 2) & 1
        has_size = (hdr >> 1) & 1
        p += 1
        if ext:
            p += 1
        if has_size:
            size, p = _leb128(obus, p)
        else:
            size = len(obus) - p
        if p + size > len(obus):
            raise ValueError("truncated AV1 OBU")
        if obu_type == 1:  # OBU_SEQUENCE_HEADER
            r = _BitReader(obus[p:p + size])
            profile = r.u(3)
            still = r.u(1)
            reduced = r.u(1)
            if reduced:
                r.u(5)  # seq_level_idx[0]
            else:
                if r.u(1):  # timing_info_present_flag
                    raise NotImplementedError(
                        "AV1 timing/decoder-model headers not bundled")
                if r.u(1):  # initial_display_delay_present_flag
                    raise NotImplementedError(
                        "AV1 initial display delay not bundled")
                for _ in range(r.u(5) + 1):  # operating points
                    r.u(12)
                    if r.u(5) > 7:  # seq_level_idx
                        r.u(1)      # seq_tier
            wbits = r.u(4) + 1
            hbits = r.u(4) + 1
            width = r.u(wbits) + 1
            height = r.u(hbits) + 1
            if not reduced:
                if r.u(1):  # frame_id_numbers_present_flag
                    r.u(4), r.u(3)
            r.u(1)  # use_128x128_superblock
            r.u(1), r.u(1)  # filter_intra / intra_edge_filter
            if not reduced:
                r.u(1), r.u(1), r.u(1), r.u(1)  # interintra..dualflt
                order_hint = r.u(1)
                if order_hint:
                    r.u(1), r.u(1)  # jnt_comp, ref_frame_mvs
                # seq_choose_screen_content_tools -> force value
                force_sc = 2 if r.u(1) else r.u(1)
                if force_sc > 0:
                    if not r.u(1):  # seq_choose_integer_mv
                        r.u(1)      # seq_force_integer_mv
                if order_hint:
                    r.u(3)  # order_hint_bits_minus_1
            r.u(1)  # enable_superres
            r.u(1)  # enable_cdef
            r.u(1)  # enable_restoration
            high_bd = r.u(1)
            if profile == 2 and high_bd:
                bit_depth = 12 if r.u(1) else 10
            else:
                bit_depth = 10 if high_bd else 8
            mono = r.u(1) if profile != 1 else 0
            return {"profile": profile, "still_picture": still,
                    "reduced": reduced, "width": width,
                    "height": height, "bit_depth": bit_depth,
                    "monochrome": mono}
        p += size
    raise ValueError("AV1 stream without a sequence header OBU")


def parse_avif_header(data: bytes) -> dict:
    """AVIF container -> primary av01 item's sequence-header facts
    (real coded geometry without decoding; the decode itself is the
    named AV1 seam)."""
    info = parse_heif(data)
    tid = info["primary"]
    if info["types"].get(tid) == b"grid":
        refs = info["refs"].get((b"dimg", tid))
        if not refs:
            raise ValueError("avif grid without dimg tiles")
        tid = refs[0]
    if info["types"].get(tid) != b"av01":
        raise ValueError("not an AVIF (no av01 item)")
    out = parse_av1_sequence_header(info["item_bytes"](tid))
    out["ispe"] = info["ispe"]
    return out
