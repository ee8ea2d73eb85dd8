"""Multimodal columns: image/audio/video as opaque BINARY + typed
metadata, processed by iterator ``mapInPandas`` stages.

Container/codec reality in this sandbox (no PIL/cv2/ffmpeg):
- **image**: PNG (incl. Adam7/palette/alpha), JPEG (baseline +
  progressive + Adobe CMYK + ARITHMETIC sequential SOF9 AND
  progressive SOF10 with restart intervals via the T.81 QM coder,
  kernels/jpeg_arith — cross-validated against the system libjpeg),
  GIF, BMP, uncompressed TIFF, lossless WebP (VP8L, kernels/webp)
  AND lossy WebP (VP8 keyframes, kernels/vp8 — exact RFC 6386
  tables), lossless JPEG (SOF3, kernels/jpeg_lossless), and JPEG 2000
  (T.800 raw codestream + JP2 container, 5/3 lossless and 9/7 lossy,
  kernels/jpeg2000) and HEIC (kernels/heif) all decode for real
  through the one raster router, ``pngcodec.decode_image``. A payload
  whose bytes are no decodable image kind is ``error:unsupported_codec``
  whatever its ``meta_codec`` label says.
- **audio**: raw PCM s16le payloads and real RIFF/WAV PCM16
  containers (kernels/wavcodec) — RMS / zero-crossing / peak features
  are real. Ogg, FLAC and MP3 payloads are recognised by their magic
  bytes and become ``error:unsupported_codec`` rows; no decoder for
  them is bundled.
- **video**: MOCKV1 (deterministic synth container), real RIFF
  AVI/MJPEG, real ISO-BMFF mp4 (general stsd/stsz/stsc/stco
  sample-table demux) with MJPEG or HEVC (hvc1/hev1) tracks, real
  webm/Matroska (EBML walk, SimpleBlock/BlockGroup frames) with
  V_MJPEG, V_VP8 or V_MPEGH/ISO/HEVC tracks, animated GIF, and
  ANIMATED WebP (VP8X/ANIM/ANMF compositing incl. ALPH alpha via
  kernels/webp) — frame sampling, frame decode, and per-frame
  features are real for all of these. Video decode is keyframe-only:
  VP8 keyframes via kernels/vp8 and HEVC IRAP pictures via
  kernels/hevc (+ hevc_intra for entropy-coded ones). VP8 inter
  frames, non-IRAP HEVC pictures, H.264 (mp4 avc1 / Matroska
  V_MPEG4/ISO/AVC) and VP9/AV1 tracks are per-row errors.

Every stage is init-once-per-worker, Arrow-batched, and returns typed
columns — the schema/partitioning/batch-shape plumbing the 100 TB
pipeline needs, independent of which codec sits at the seam.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from ragflow_ocr_spark.kernels import pngcodec
from ragflow_ocr_spark.spark.worker import map_rows

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta_codec string, meta_w int, meta_h int, meta_sr int"
)

VIDEO_MAGIC = b"MOCKV1\x00\x00"


# ------------------------------------------------------------ synthesis
def make_image_payload(rng: np.random.Generator, w: int = 64, h: int = 48) -> bytes:
    img = (rng.random((h, w)) * 255).astype(np.uint8)
    return pngcodec.encode_png(img)


def make_audio_payload(rng: np.random.Generator, n: int = 8000) -> bytes:
    t = np.arange(n, dtype=np.float64)
    f = 220.0 + float(rng.integers(0, 440))
    wave = 0.5 * np.sin(2 * np.pi * f * t / 16000.0)
    return (wave * 32767).astype("<i2").tobytes()


def make_video_payload(rng: np.random.Generator, n_frames: int = 8) -> bytes:
    frames = [make_image_payload(rng, 32, 24) for _ in range(n_frames)]
    out = bytearray(VIDEO_MAGIC)
    out += struct.pack("<I", n_frames)
    for fr in frames:
        out += struct.pack("<I", len(fr))
        out += fr
    return bytes(out)


def media_df(spark, n_rows: int = 60, partitions: int = 4):
    """Deterministic media table: round-robin image/audio/video."""

    def row(i):
        i = int(i)
        rng = np.random.default_rng(np.random.SeedSequence([77, i]))
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            payload = make_image_payload(rng)
            meta = ("png", 64, 48, 0)
        elif kind == "audio":
            payload = make_audio_payload(rng)
            meta = ("pcm_s16le", 0, 0, 16000)
        else:
            payload = make_video_payload(rng)
            meta = ("mockv1", 32, 24, 0)
        yield (i, kind, payload, *meta)

    gen = map_rows(MEDIA_SCHEMA, ("id",), row)
    return spark.range(0, n_rows, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------- decode
def _decode_frame(frame: bytes) -> "np.ndarray":
    """Frame bytes → image; frames are PNG (MOCKV1 frames and the
    GIF / animated-WebP / webm V_VP8 re-encodes), JPEG (AVI/mp4/webm
    MJPEG), a still WebP, or an Annex-B HEVC access unit (mp4 hvc1 /
    webm V_MPEGH/ISO/HEVC). Image frames go through the raster router
    (``pngcodec.decode_image``). HEVC decodes keyframes only: a
    non-IRAP picture raises NotImplementedError, a per-row error."""
    from ragflow_ocr_spark.kernels import hevc as hevcmod

    if hevcmod.sniff_annexb_hevc(frame):
        return hevcmod.decode_hevc_keyframe(frame)
    return pngcodec.decode_image(frame)[1]


def encode_avi_mjpeg(frames_jpeg: list[bytes]) -> bytes:
    """Minimal MJPEG AVI: RIFF('AVI ') + LIST('movi') of '00dc' JPEG
    chunks (word-aligned). Real MJPEG AVIs carry hdrl/idx1 chunks too —
    the reader below skips unknown chunks, so those files parse as
    well; this writer emits only what the frame path needs."""
    movi = bytearray(b"movi")
    for fr in frames_jpeg:
        movi += b"00dc" + struct.pack("<I", len(fr)) + fr
        if len(fr) & 1:
            movi += b"\x00"
    body = b"LIST" + struct.pack("<I", len(movi)) + bytes(movi)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def _iter_avi_frames(payload: bytes) -> Iterator[bytes]:
    """Yield video-stream ('NNdc'/'NNdb') chunk payloads from a RIFF
    AVI, skipping hdrl/idx1/junk; recurses into LIST chunks."""
    def walk(lo: int, hi: int) -> Iterator[bytes]:
        for tag, body, end in pngcodec.riff_chunks(payload, lo, hi):
            if tag == b"LIST":
                yield from walk(body + 4, end)  # past the list type
            elif tag[2:4] in (b"dc", b"db") and tag[:2].isdigit():
                yield payload[body:end]

    yield from walk(12, len(payload))  # past RIFF....AVI_


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def encode_mp4_mjpeg(frames_jpeg: list[bytes], w: int, h: int) -> bytes:
    """Minimal ISO-BMFF (mp4) with one MJPEG video track: ftyp + mdat
    + moov carrying the REAL sample tables (stsd 'jpeg', stts, stsc,
    stsz, stco with absolute file offsets). Layout is mdat-before-moov
    so chunk offsets are known when the tables are built."""
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2mp41")
    mdat_payload = b"".join(frames_jpeg)
    mdat = _box(b"mdat", mdat_payload)
    base = len(ftyp) + 8  # first sample's absolute offset
    offsets = []
    off = base
    for fr in frames_jpeg:
        offsets.append(off)
        off += len(fr)
    n = len(frames_jpeg)
    # stsd: one 'jpeg' VisualSampleEntry (86-byte body per spec)
    entry = (
        b"\x00" * 6 + struct.pack(">H", 1)      # reserved, data_ref_index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)                   # frame count
        + b"\x00" * 32                           # compressor name
        + struct.pack(">H", 24)                  # depth
        + struct.pack(">h", -1)                  # color table id
    )
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + _box(b"jpeg", entry))
    stts = _box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, n, 1))
    stsc = _box(b"stsc", b"\x00" * 4 + struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _box(
        b"stsz",
        b"\x00" * 4
        + struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(fr)) for fr in frames_jpeg),
    )
    stco = _box(
        b"stco",
        b"\x00" * 4
        + struct.pack(">I", n)
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    hdlr = _box(
        b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00"
    )
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", hdlr + minf)
    trak = _box(b"trak", mdia)
    mvhd = _box(b"mvhd", b"\x00" * 4 + struct.pack(">IIII", 0, 0, 1, n) + b"\x00" * 80)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def encode_mp4_hvc1(aus_annexb: list[bytes], w: int, h: int) -> bytes:
    """Minimal ISO-BMFF with one HEVC track: VPS/SPS/PPS from the
    first access unit move into the hvcC record (stsd 'hvc1'), slice
    NALs become 4-byte-length-prefixed HVCC samples (kernels/hevc
    encodes/decodes the PCM AUs; libde265-cross-validated)."""
    from ragflow_ocr_spark.kernels import hevc as hevcmod

    samples = []
    vps = sps = pps = None
    for au in aus_annexb:
        body, v, s, p = hevcmod.annexb_au_to_hvcc(au)
        samples.append(body)
        vps, sps, pps = vps or v, sps or s, pps or p
    hvcc = hevcmod.build_hvcc(vps, sps, pps)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2hvc1")
    mdat = _box(b"mdat", b"".join(samples))
    base = len(ftyp) + 8
    offsets = []
    off = base
    for s in samples:
        offsets.append(off)
        off += len(s)
    n = len(samples)
    entry = (
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">H", 24)
        + struct.pack(">h", -1)
        + _box(b"hvcC", hvcc)
    )
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + _box(b"hvc1", entry))
    stts = _box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, n, 1))
    stsc = _box(b"stsc", b"\x00" * 4 + struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _box(
        b"stsz",
        b"\x00" * 4
        + struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _box(
        b"stco",
        b"\x00" * 4
        + struct.pack(">I", n)
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    hdlr = _box(
        b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00"
    )
    mdia = _box(b"mdia", hdlr + _box(b"minf", stbl))
    mvhd = _box(b"mvhd", b"\x00" * 4 + struct.pack(">IIII", 0, 0, 1, n) + b"\x00" * 80)
    moov = _box(b"moov", mvhd + _box(b"trak", mdia))
    return ftyp + mdat + moov


def _iter_mp4_frames(payload: bytes) -> Iterator[bytes]:
    """Walk moov→trak→mdia→minf→stbl sample tables and yield each
    sample's bytes (stsc chunk runs + stco offsets + stsz sizes — the
    general sample-to-chunk math, not just this muxer's layout).
    JPEG-family tracks yield raw JPEG bytes; hvc1/hev1 tracks yield
    self-contained Annex-B HEVC access units; other codecs (avc1,
    vp09, av01, …) raise the unbundled-codec seam."""
    CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
    tables: list[dict] = []

    def walk(lo: int, hi: int, ctx: dict | None):
        for tag, body, end in pngcodec.iso_boxes(payload, lo, hi):
            if tag in CONTAINERS:
                sub = {"codec": None} if tag == b"stbl" else ctx
                walk(body, end, sub)
                if tag == b"stbl":
                    tables.append(sub)
            elif ctx is not None and tag == b"stsd":
                count = struct.unpack_from(">I", payload, body + 4)[0]
                if count >= 1:
                    ctx["codec"] = payload[body + 12 : body + 16]
                    if ctx["codec"] in (b"hvc1", b"hev1"):
                        # hvcC lives in the boxes after the 78-byte
                        # VisualSampleEntry fields of the first entry
                        esz = struct.unpack_from(">I", payload, body + 8)[0]
                        for t2, b2, e2 in pngcodec.iso_boxes(
                            payload, body + 8 + 86,
                            min(body + 8 + esz, end),
                        ):
                            if t2 == b"hvcC":
                                ctx["hvcC"] = payload[b2:e2]
                                break
            elif ctx is not None and tag == b"stsz":
                fixed, n = struct.unpack_from(">II", payload, body + 4)
                if fixed:
                    # every sample lies in the file: a count past that
                    # would only build a huge list of one size
                    if fixed * n > len(payload):
                        raise ValueError("mp4 stsz samples exceed the file")
                    ctx["sizes"] = [fixed] * n
                else:
                    ctx["sizes"] = list(
                        struct.unpack_from(f">{n}I", payload, body + 12)
                    )
            elif ctx is not None and tag == b"stco":
                n = struct.unpack_from(">I", payload, body + 4)[0]
                ctx["chunks"] = list(struct.unpack_from(f">{n}I", payload, body + 8))
            elif ctx is not None and tag == b"co64":
                n = struct.unpack_from(">I", payload, body + 4)[0]
                ctx["chunks"] = list(struct.unpack_from(f">{n}Q", payload, body + 8))
            elif ctx is not None and tag == b"stsc":
                n = struct.unpack_from(">I", payload, body + 4)[0]
                vals = struct.unpack_from(f">{3 * n}I", payload, body + 8)
                ctx["runs"] = [
                    (vals[i * 3], vals[i * 3 + 1]) for i in range(n)
                ]  # (first_chunk, samples_per_chunk)

    walk(0, len(payload), None)
    found = False
    for t in tables:
        if not all(k in t for k in ("sizes", "chunks", "runs")):
            continue
        to_annexb = None
        if t["codec"] in (b"hvc1", b"hev1"):
            # HEVC: parameter sets live out of band in hvcC; prepend
            # them so each sample is a self-contained Annex-B access
            # unit that _decode_frame decodes as a keyframe
            from ragflow_ocr_spark.kernels import hevc as hevcmod

            if "hvcC" not in t:
                raise ValueError("hvc1 track without hvcC record")
            nls, param_nals = hevcmod.parse_hvcc(t["hvcC"])

            def to_annexb(s, _n=nls, _p=param_nals):
                return hevcmod.hvcc_sample_to_annexb(s, _n, _p)

        elif t["codec"] not in (b"jpeg", b"mjpa", b"mjpb", b"MJPG"):
            raise NotImplementedError(
                f"mp4 codec {t['codec']!r} not bundled offline "
                "(MJPEG and HEVC/hvc1 route)"
            )
        found = True
        sizes = t["sizes"]
        si = 0
        for ci, chunk_off in enumerate(t["chunks"], start=1):
            per = 0
            for first, spc in t["runs"]:
                if first <= ci:
                    per = spc
            off = chunk_off
            for _ in range(per):
                if si >= len(sizes):
                    break
                ln = sizes[si]
                if off + ln > len(payload):
                    raise ValueError("mp4 sample beyond file")
                sample = payload[off : off + ln]
                yield to_annexb(sample) if to_annexb else sample
                off += ln
                si += 1
    if not found:
        raise ValueError("mp4 has no decodable video sample table")


# --------------------------------------------------- webm/Matroska (EBML)
_EBML_MAGIC = b"\x1a\x45\xdf\xa3"
_MKV_SEGMENT = 0x18538067
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_CODEC_ID = 0x86
_MKV_CLUSTER = 0x1F43B675
_MKV_SIMPLE_BLOCK = 0xA3
_MKV_BLOCK_GROUP = 0xA0
_MKV_BLOCK = 0xA1
_MKV_CODEC_PRIVATE = 0x63A2


def _ebml_vint(data: bytes, i: int, keep_marker: bool) -> tuple[int, int]:
    """EBML variable-length int at i → (value, next index). IDs keep
    the length-marker bit, sizes strip it."""
    if i >= len(data):
        raise ValueError("truncated EBML vint")
    b0 = data[i]
    if b0 == 0:
        raise ValueError("bad EBML vint")
    length = 9 - b0.bit_length()  # leading-zeros+1
    if i + length > len(data):
        raise ValueError("truncated EBML vint")
    v = b0 if keep_marker else b0 & (0xFF >> length)
    for k in range(1, length):
        v = (v << 8) | data[i + k]
    return v, i + length


def _ebml_encode_vint(v: int, id_: bool = False) -> bytes:
    if id_:  # IDs are stored verbatim (marker included in the value)
        n = (v.bit_length() + 7) // 8
        return v.to_bytes(n, "big")
    for length in range(1, 9):
        if v < (1 << (7 * length)) - 1:
            return ((1 << (7 * length)) | v).to_bytes(length, "big")
    raise ValueError("EBML size too large")


def _mkv_el(id_: int, payload: bytes) -> bytes:
    return _ebml_encode_vint(id_, id_=True) + _ebml_encode_vint(len(payload)) + payload


def encode_webm(frames: list[bytes], codec_id: bytes = b"V_MJPEG") -> bytes:
    """Minimal Matroska with one video track: EBML header + Segment(
    Tracks(TrackEntry(TrackNumber=1, TrackType=video, CodecID)) +
    Cluster(Timestamp + SimpleBlocks)). Real files carry Info/Cues
    too — the reader skips unknown elements, so they parse as well.
    ``codec_id``: V_MJPEG (JPEG frame bytes) or V_VP8 (raw RFC 6386
    keyframe bitstreams, e.g. vp8.encode_vp8_flat_payload)."""
    ebml = _mkv_el(
        0x1A45DFA3,
        _mkv_el(0x4282, b"matroska")  # DocType
        + _mkv_el(0x4286, b"\x01"),   # EBMLVersion
    )
    track = _mkv_el(
        _MKV_TRACK_ENTRY,
        _mkv_el(0xD7, b"\x01")        # TrackNumber
        + _mkv_el(0x83, b"\x01")      # TrackType: video
        + _mkv_el(_MKV_CODEC_ID, codec_id),
    )
    tracks = _mkv_el(_MKV_TRACKS, track)
    blocks = b""
    for k, fr in enumerate(frames):
        # SimpleBlock: track vint(1) + s16 timecode + flags(keyframe)
        blocks += _mkv_el(
            _MKV_SIMPLE_BLOCK,
            b"\x81" + struct.pack(">h", k) + b"\x80" + fr,
        )
    cluster = _mkv_el(_MKV_CLUSTER, _mkv_el(0xE7, b"\x00") + blocks)
    return ebml + _mkv_el(_MKV_SEGMENT, tracks + cluster)


def encode_webm_mjpeg(frames_jpeg: list[bytes]) -> bytes:
    return encode_webm(frames_jpeg, b"V_MJPEG")


def _iter_webm_frames(payload: bytes) -> Iterator[bytes]:
    """Walk Segment → Tracks (codec check) and Clusters → SimpleBlock/
    BlockGroup frames. Laced blocks and unknown-size elements are
    rejected (per-row error). V_MJPEG frames yield raw (JPEG bytes are
    self-describing). V_VP8 frames decode one by one as keyframes
    (kernels/vp8; an inter frame raises ValueError) and re-emit as
    lossless PNG so the downstream frame contract (sniffable,
    independently decodable bytes) holds — the same convention the
    GIF video path uses. V_MPEGH/ISO/HEVC blocks re-emit as Annex-B
    HEVC access units, like the mp4 hvc1 route. Other codecs
    (V_MPEG4/ISO/AVC, V_VP9, V_AV1, …) raise the unbundled-codec
    seam."""
    codec: bytes | None = None
    codec_private: bytes | None = None
    frames: list[bytes] = []

    def block_frame(body: bytes) -> bytes:
        _track, j = _ebml_vint(body, 0, keep_marker=False)
        j += 2  # timecode
        if j >= len(body):
            raise ValueError("truncated matroska block")
        flags = body[j]
        if flags & 0x06:
            raise ValueError("laced matroska blocks unsupported")
        return body[j + 1 :]

    def walk(lo: int, hi: int, depth: int) -> None:
        nonlocal codec, codec_private
        i = lo
        while i < hi:
            el_id, i = _ebml_vint(payload, i, keep_marker=True)
            size, i = _ebml_vint(payload, i, keep_marker=False)
            end = i + size
            if end > hi:
                # also catches unknown-size (all-ones) elements, whose
                # size value always exceeds the container
                raise ValueError("truncated or unknown-size EBML element")
            if el_id in (_MKV_SEGMENT, _MKV_TRACKS, _MKV_TRACK_ENTRY, _MKV_CLUSTER, _MKV_BLOCK_GROUP):
                walk(i, end, depth + 1)
            elif el_id == _MKV_CODEC_ID:
                codec = payload[i:end]
            elif el_id == _MKV_CODEC_PRIVATE:
                codec_private = payload[i:end]
            elif el_id in (_MKV_SIMPLE_BLOCK, _MKV_BLOCK):
                frames.append(block_frame(payload[i:end]))
            i = end

    walk(0, len(payload), 0)
    if codec is None:
        raise ValueError("matroska file has no CodecID")
    cid = codec.rstrip(b"\x00")
    if cid == b"V_VP8":
        from ragflow_ocr_spark.kernels import vp8

        yield from (pngcodec.encode_png(vp8.decode_vp8(fr)) for fr in frames)
        return
    if cid == b"V_MPEGH/ISO/HEVC":
        # HEVC in Matroska: CodecPrivate is the hvcC record and
        # blocks are HVCC samples
        from ragflow_ocr_spark.kernels import hevc as hevcmod

        if codec_private is None:
            raise ValueError("V_MPEGH/ISO/HEVC track without CodecPrivate")
        nls, param_nals = hevcmod.parse_hvcc(codec_private)
        yield from (hevcmod.hvcc_sample_to_annexb(fr, nls, param_nals)
                    for fr in frames)
        return
    if cid != b"V_MJPEG":
        raise NotImplementedError(
            f"matroska codec {codec!r} not bundled offline "
            "(V_MJPEG, V_VP8 and V_MPEGH/ISO/HEVC route)"
        )
    yield from frames


def iter_video_frames(payload: bytes) -> Iterator[bytes]:
    """MOCKV1 (deterministic synth), RIFF AVI/MJPEG, ISO-BMFF mp4,
    webm/Matroska, animated GIF or animated WebP. Codecs outside the
    routed set raise NotImplementedError, a per-row error."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        yield from _iter_avi_frames(payload)
        return
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        yield from _iter_mp4_frames(payload)
        return
    if payload.startswith(_EBML_MAGIC):
        yield from _iter_webm_frames(payload)
        return
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # animated GIF as a video: composited frames re-encoded PNG so
        # the frame contract (decodable bytes) holds downstream
        from ragflow_ocr_spark.kernels import imgcodecs

        for frame in imgcodecs.decode_gif_frames(payload):
            yield pngcodec.encode_png(frame)
        return
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # animated (lossy or lossless) WebP as a video: ANMF frames
        # composited by the real container/VP8/VP8L decoders, then
        # re-encoded PNG like the GIF route
        from ragflow_ocr_spark.kernels import webp as webpmod

        for frame in webpmod.decode_webp_frames(payload):
            yield pngcodec.encode_png(frame)
        return
    if not payload.startswith(VIDEO_MAGIC):
        raise ValueError("not a MOCKV1/AVI/mp4/webm/GIF container")
    (n,) = struct.unpack_from("<I", payload, len(VIDEO_MAGIC))
    pos = len(VIDEO_MAGIC) + 4
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        yield payload[pos : pos + ln]
        pos += ln


# ---------------------------------------------------------------- stages
IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, mean_luma double, "
    "std_luma double, status string"
)


def image_features_stage():
    def row(payload):
        _kind, img = pngcodec.decode_image(bytes(payload))
        h, w = img.shape[:2]
        yield w, h, round(float(img.mean()), 6), round(float(img.std()), 6), "ok"

    return map_rows(
        IMAGE_FEATURES_SCHEMA, ("payload",), row, keep=("media_id",),
        on_error=lambda status, _: (0, 0, 0.0, 0.0, status),
        statuses={NotImplementedError: "error:unsupported_codec", Exception: "error:decode"},
    )


THUMB_SCHEMA = "media_id long, thumb binary, thumb_w int, thumb_h int, status string"


def thumbnail_stage(max_side: int = 16):
    from ragflow_ocr_spark.kernels.imgeom import resize_bilinear

    def row(payload):
        _kind, img = pngcodec.decode_image(bytes(payload))
        h, w = img.shape[:2]
        r = max_side / max(h, w)
        th, tw = max(1, int(h * r)), max(1, int(w * r))
        # round-half-up like cv2, NOT truncate: fp noise (2.9999997)
        # and .5 interpolation midpoints would otherwise all shift a
        # full level down
        thumb = np.floor(resize_bilinear(img, th, tw) + 0.5).astype(np.uint8)
        yield pngcodec.encode_png(thumb), tw, th, "ok"

    return map_rows(
        THUMB_SCHEMA, ("payload",), row, keep=("media_id",),
        on_error=lambda status, _: (None, 0, 0, status),
        statuses={Exception: "error"},
    )


AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_samples long, rms double, peak double, "
    "zero_crossings long, status string"
)


def _is_unsupported_audio(raw: bytes) -> bool:
    """Ogg, FLAC or MP3 (ID3 tag or a Layer III frame sync). No decoder
    for them is bundled; without this check they would be misread as
    raw PCM."""
    if pngcodec.sniff_payload(raw) in ("ogg", "flac", "mp3"):
        return True
    return (len(raw) >= 4 and raw[0] == 0xFF
            and (raw[1] & 0xE0) == 0xE0 and ((raw[1] >> 1) & 3) == 1)


def audio_features_stage():
    from ragflow_ocr_spark.kernels import wavcodec

    def row(payload):
        raw = bytes(payload)
        if raw.startswith(wavcodec.WAV_MAGIC):
            # real container route: RIFF/PCM16 (multi-channel is mixed
            # down to mono for the features)
            samples, _sr = wavcodec.decode_wav(raw)
            if samples.ndim == 2:
                samples = samples.mean(axis=1)
            pcm = samples.astype(np.float64) / 32768.0
        elif _is_unsupported_audio(raw):
            raise NotImplementedError("compressed audio")
        else:
            pcm = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        zc = int(np.count_nonzero(np.diff(np.signbit(pcm))))
        yield (
            len(pcm),
            round(float(np.sqrt((pcm**2).mean())), 6),
            round(float(np.abs(pcm).max()), 6),
            zc,
            "ok",
        )

    return map_rows(
        AUDIO_FEATURES_SCHEMA, ("payload",), row, keep=("media_id",),
        on_error=lambda status, _: (0, 0.0, 0.0, 0, status),
        statuses={NotImplementedError: "error:unsupported_codec", Exception: "error"},
    )


THUMB_LUMA_SCHEMA = (
    "media_id long, thumb_w int, thumb_h int, mean_luma double, status string"
)


def thumbnail_luma_stage():
    """thumbnail_stage composed with a second decode pass: thumb PNG →
    mean luma. Demonstrates chaining two Python stages with only typed
    columns crossing the seam. Bit-rot or a producer bug in the
    intermediate bytes (a ValueError from the PNG decoder) reads
    ``error:decode``."""

    def row(thumb, tw, th, status):
        if status != "ok" or thumb is None:
            yield 0, 0, 0.0, str(status)
            return
        img = pngcodec.decode_png(bytes(thumb))
        # round(3): bilinear of a constant image is constant to ~1e-12
        # (per-pixel rounding), so 3 decimals are exact
        yield int(tw), int(th), round(float(img.mean()), 3), "ok"

    return map_rows(
        THUMB_LUMA_SCHEMA, ("thumb", "thumb_w", "thumb_h", "status"), row,
        keep=("media_id",),
        on_error=lambda status, *_: (0, 0, 0.0, status),
        statuses={ValueError: "error:decode"},
    )


FRAME_SAMPLE_SCHEMA = (
    "media_id long, frame_idx int, frame binary, mean_luma double, status string"
)


def frame_sample_stage(every_k: int = 2):
    """Video → every k-th frame, decoded, with per-frame features.
    Explodes rows (one per sampled frame) — the fan-out shape a real
    frame pipeline has. A frame that fails to decode ends the row with
    one error row after the frames sampled before it."""

    def row(mid, payload):
        n_sampled = 0
        for idx, fr in enumerate(iter_video_frames(bytes(payload))):
            if idx % every_k:
                continue
            img = _decode_frame(fr)
            yield int(mid), idx, fr, round(float(img.mean()), 6), "ok"
            n_sampled += 1
        if n_sampled == 0:
            # container parsed but held no video chunks (e.g.
            # header-only AVI): a row must still witness the input
            raise ValueError("no video frames")

    return map_rows(
        FRAME_SAMPLE_SCHEMA, ("media_id", "payload"), row,
        on_error=lambda status, mid, _: (int(mid), -1, None, 0.0, status),
        statuses={Exception: "error"},
    )


# --------------------------------------------------- contract queries
# Oracle-checked multimodal queries: payloads are derived from the
# `documents` table with analytically-known decoded statistics —
# two-tone PNGs (exact mean/std), square-wave PCM (exact RMS/peak/
# zero-crossings: odd amplitude ⇒ no rounding tie at 6 decimals), and
# constant-frame MOCKV1 video (exact per-frame luma). The Spark side
# runs the REAL encode→decode→feature path; the oracle computes the
# closed form in SQL. Reference analogue: `DecodeImage`
# (/root/reference/ocr/operators.py:25-60) bytes→ndarray seam.

_IMG_LIMIT = 120
_AUD_LIMIT = 120
_VID_LIMIT = 60


def _doc_ids(spark, sf_dir: str, limit: int):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < limit)
        .select("doc_id")
        .repartition(8)
    )


def q_media_image_stats(spark, sf_dir: str):
    """Codec-mix families keyed by doc_id (every family's decoded
    stats stay in closed form, so the DuckDB oracle is exact while the
    Spark side runs the REAL decoders):
    - id % 2 == 0: two-tone PNG (Adam7-interlaced for id % 4 == 0 —
      interlacing is lossless, same closed form);
    - id % 8 == 1: PROGRESSIVE JPEG (SOF2) of a constant-value image
      whose value is 128 + 3k so the quality-90 luma DC quantizer
      (q00=3) divides the DC coefficient exactly → lossless decode
      through the real multi-scan path;
    - id % 8 == 5: Adobe CMYK baseline JPEG (4 components, APP14
      transform 0, q95 — the q00=2 DC step divides 8·(v−128), so the
      same constant decodes exactly through the white-composite path);
    - id % 64 == 17: LOSSLESS JPEG (SOF3 predictive, restart
      intervals) — exact by definition, same constant closed form;
    - id % 64 == 49: JPEG 2000 (reversible 5/3, kernels/jpeg2000; raw
      codestream, JP2 container when id % 128 == 113) — bit-exact
      lossless, same constant closed form;
    - id % 16 == 3: two-tone GIF (LZW is lossless);
    - id % 16 == 11: two-tone HEIC (tones in the PCM luma plane,
      kernels/heif + kernels/hevc — byte-exact coded layer, decoded
      gray is the clipped BT.601 map of each tone);
    - id % 16 == 7: two-tone lossless WebP (VP8L) — same closed form;
    - id % 16 == 15: LOSSY WebP (VP8 keyframe, kernels/vp8) of a flat
      image whose q_index-0 DC levels reconstruct the value with zero
      rounding error, so the decoded gray is the exact BT.601 map
      g = (298*(y-16)+128) >> 8 — closed form in SQL."""

    def row(did):
        from ragflow_ocr_spark.kernels import imgcodecs

        did = int(did)
        if did % 4 == 1:
            v = 128 + 3 * ((did * 5 + 7) % 42 - 21)
            img = np.full((48, 64), v, dtype=np.uint8)
            codec = "jpeg"
            if did % 8 == 5:
                # Adobe CMYK (APP14 transform 0, 4 components, q95):
                # constant-value decode is exact — the q00=2 luma DC
                # step divides 8·(v−128) — so the %4==1 oracle closed
                # form covers this family unchanged while the real
                # 4-component path runs
                payload = imgcodecs.encode_jpeg_cmyk(img, quality=95)
            elif did % 16 == 9:
                # arithmetic sequential (SOF9, T.81 QM coder): same
                # DCT/quant path as baseline q90 whose q00=3 divides
                # 8·(v−128), so the %4==1 closed form covers it
                # unchanged while the real QM-decoder path runs
                # (kernels/jpeg_arith)
                payload = imgcodecs.encode_jpeg_arith(img, quality=90)
            elif did % 32 == 1:
                # progressive arithmetic (SOF10, T.81 Annex G) with
                # restart intervals: same exactness argument as the
                # SOF9 rows — progressive reconstruction is exact and
                # the DCT/quant path is shared
                payload = imgcodecs.encode_jpeg_arith_progressive(
                    img, quality=90, restart_interval=2
                )
            elif did % 64 == 17:
                # LOSSLESS (SOF3, T.81 Annex H predictive): exact by
                # definition, so the %4==1 constant-v closed form
                # covers it while the real predictor/extend path runs
                # (kernels/jpeg_lossless)
                payload = imgcodecs.encode_jpeg_lossless(
                    img, predictor=4, restart_interval=16
                )
            elif did % 64 == 49:
                # JPEG 2000 (T.800, reversible 5/3): bit-exact
                # lossless, so the %4==1 constant-v closed form covers
                # it while the real MQ/EBCOT tier-1 + tag-tree tier-2 +
                # DWT path runs (kernels/jpeg2000); JP2 box container
                # on the second row to cover the unwrap route too
                from ragflow_ocr_spark.kernels import jpeg2000

                enc = (jpeg2000.encode_jp2 if did % 128 == 113
                       else jpeg2000.encode_jpeg2000)
                payload = enc(img, reversible=True)
            else:
                payload = imgcodecs.encode_jpeg_progressive(img, quality=90)
        elif did % 16 == 15:
            from ragflow_ocr_spark.kernels import vp8 as vp8mod

            y = 64 + did % 128
            payload = vp8mod.encode_webp_lossy_flat(64, 48, (y, 128, 128))
            codec = "webp"
        else:
            img = np.empty((48, 64), dtype=np.uint8)
            img[:, :32] = did % 256
            img[:, 32:] = (did * 7 + 13) % 256
            if did % 2 == 0:
                payload = pngcodec.encode_png(img, interlace=did % 4 == 0)
                codec = "png"
            elif did % 16 == 11:
                # HEIC: the same two-tone laid into the LUMA plane with
                # neutral chroma — the coded layer is byte-exact
                # (kernels/hevc + hevc_intra, libde265-cross-validated)
                # so the decoded gray is the clipped BT.601 map of each
                # tone: closed form in SQL while the real HEIF item
                # layer parse runs. Alternating coders: PCM CTBs, CABAC
                # transquant-bypass intra (the path every real
                # camera/x265 HEIC takes) and Main10 CABAC (10-bit
                # planes; the uint8 route keeps the high byte so the
                # closed form holds)
                from ragflow_ocr_spark.kernels import heif

                if did % 64 == 59:
                    payload = heif.encode_heic_yuv(
                        img.astype(np.uint16) << 2,
                        np.full((24, 32), 512, np.uint16),
                        np.full((24, 32), 512, np.uint16),
                        coder="cabac10")
                else:
                    cp = np.full((24, 32), 128, np.uint8)
                    coder = "cabac" if did % 32 == 27 else "pcm"
                    payload = heif.encode_heic_yuv(img, cp, cp, coder=coder)
                codec = "heic"
            elif did % 8 == 3:
                payload, codec = imgcodecs.encode_gif(img, interlace=True), "gif"
            else:
                from ragflow_ocr_spark.kernels import webp as webpmod

                payload, codec = webpmod.encode_webp(img), "webp"
        yield did, "image", payload, codec, 64, 48, 0

    synth = map_rows(MEDIA_SCHEMA, ("doc_id",), row)
    media = _doc_ids(spark, sf_dir, _IMG_LIMIT).mapInPandas(synth, schema=MEDIA_SCHEMA)
    return media.mapInPandas(image_features_stage(), schema=IMAGE_FEATURES_SCHEMA)


ORACLE_IMAGE_STATS = f"""
WITH g AS (
  SELECT doc_id,
         -- clipped BT.601 gray of each two-tone value (the HEIC
         -- family carries the tones in the PCM luma plane)
         LEAST(255, GREATEST(0,
           (298 * ((doc_id % 256) - 16) + 128) // 256)) AS bt_a,
         LEAST(255, GREATEST(0,
           (298 * (((doc_id * 7 + 13) % 256) - 16) + 128) // 256)) AS bt_v
  FROM documents WHERE doc_id < {_IMG_LIMIT}
)
SELECT doc_id AS media_id, 64 AS width, 48 AS height,
       ROUND(CASE WHEN doc_id % 4 = 1
             THEN CAST(128 + 3 * ((doc_id * 5 + 7) % 42 - 21) AS DOUBLE)
             WHEN doc_id % 16 = 15
             THEN CAST((298 * (64 + doc_id % 128 - 16) + 128) // 256
                       AS DOUBLE)
             WHEN doc_id % 16 = 11
             THEN (bt_a + bt_v) / 2.0
             ELSE ((doc_id % 256) + ((doc_id * 7 + 13) % 256)) / 2.0
             END, 6) AS mean_luma,
       ROUND(CASE WHEN doc_id % 4 = 1 OR doc_id % 16 = 15
             THEN 0.0
             WHEN doc_id % 16 = 11
             THEN ABS(bt_a - bt_v) / 2.0
             ELSE ABS((doc_id % 256) - ((doc_id * 7 + 13) % 256)) / 2.0
             END, 6) AS std_luma,
       'ok' AS status
FROM g
"""


def q_media_audio_features(spark, sf_dir: str):
    """Odd ids: WAV digital silence, at the sample counts the oracle
    names (1152·k for id % 8 == 3, 576·k for id % 8 == 7, 128·k for
    id % 4 == 1). Even ids: a square wave with odd amplitude (exact
    RMS/peak/zero-crossings, no rounding tie at 6 decimals), as raw
    PCM or, for id % 8 == 6, in a WAV container."""

    from ragflow_ocr_spark.kernels import wavcodec

    def row(did):
        did = int(did)
        if did % 2 == 1:
            if did % 8 == 3:
                n = 1152 * (2 + did % 3)
            elif did % 4 == 3:
                n = 576 * (2 + did % 3)
            else:
                n = 128 * (1 + did % 3)
            payload, codec = wavcodec.encode_wav(np.zeros(n, np.int16)), "wav"
        else:
            amp = 2 * (did % 8191) + 1  # odd ⇒ no round-half tie
            pcm = np.empty(8000, dtype="<i2")
            pcm[0::2] = amp
            pcm[1::2] = -amp
            if did % 8 == 6:
                payload, codec = wavcodec.encode_wav(pcm), "wav"
            else:
                payload, codec = pcm.tobytes(), "pcm_s16le"
        yield did, "audio", payload, codec, 0, 0, 16000

    synth = map_rows(MEDIA_SCHEMA, ("doc_id",), row)
    media = _doc_ids(spark, sf_dir, _AUD_LIMIT).mapInPandas(synth, schema=MEDIA_SCHEMA)
    return media.mapInPandas(audio_features_stage(), schema=AUDIO_FEATURES_SCHEMA)


ORACLE_AUDIO_FEATURES = f"""
SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 8 = 3 THEN 1152 * (2 + doc_id % 3)
                 WHEN doc_id % 4 = 3 THEN 576 * (2 + doc_id % 3)
                 WHEN doc_id % 4 = 1 THEN 128 * (1 + doc_id % 3)
                 ELSE 8000 END AS BIGINT) AS n_samples,
       ROUND(CASE WHEN doc_id % 2 = 1 THEN 0.0
             ELSE (2 * (doc_id % 8191) + 1) / 32768.0 END, 6) AS rms,
       ROUND(CASE WHEN doc_id % 2 = 1 THEN 0.0
             ELSE (2 * (doc_id % 8191) + 1) / 32768.0 END, 6) AS peak,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 7999 END AS BIGINT)
           AS zero_crossings,
       'ok' AS status
FROM documents WHERE doc_id < {_AUD_LIMIT}
"""


def _video_row(did):
    """Container mix with closed-form frame lumas: MOCKV1 (PNG frames)
    for even ids; for odd ids, MJPEG samples in an ISO-BMFF mp4
    (id % 4 == 1) or an MJPEG webm/Matroska (id % 16 == 3) — constant-value
    JPEG frames are LOSSLESS at quality 95 (the luma DC quantizer is
    2, and 8·(v−128) is always even) — or an ANIMATED LOSSY WebP
    (id % 8 == 7): full-canvas flat VP8 keyframes in ANMF chunks,
    whose q_index-0 DC construction reconstructs y exactly, so the
    decoded gray is the closed BT.601 form (298·(y−16)+128)>>8 and
    the DuckDB oracle stays exact while the real container parse +
    VP8 decode + compositing run — or a V_VP8-coded webm
    (id % 16 == 11): the same flat VP8 keyframes as Matroska
    SimpleBlocks through the real EBML demux + kernels/vp8 — or an
    HEVC hvc1 mp4 (id % 16 == 9 or 13): byte-exact PCM flat-luma
    keyframes through the real hvcC/HVCC demux + the
    libde265-cross-validated kernels/hevc CABAC/PCM decode, same
    BT.601 closed form."""
    from ragflow_ocr_spark.kernels import imgcodecs, vp8 as vp8mod, webp as webpmod

    did = int(did)
    n_frames = 4 + did % 5
    if did % 2 == 0:
        out = bytearray(VIDEO_MAGIC)
        out += struct.pack("<I", n_frames)
        for idx in range(n_frames):
            img = np.full((24, 32), (did * 31 + idx * 7) % 256, dtype=np.uint8)
            fr = pngcodec.encode_png(img)
            out += struct.pack("<I", len(fr))
            out += fr
        payload, codec = bytes(out), "mockv1"
    elif did % 8 == 7:
        # every frame carries an OPAQUE ALPH subchunk cycling through
        # all four prediction filters: the composited output is
        # bit-identical to the alpha-less form (the oracle's closed
        # form is untouched) while the real ALPH decode + unfilter path
        # runs inside this driver-oracle-checked query
        frames = [
            {
                "tag": b"VP8 ",
                "data": vp8mod.encode_vp8_flat_payload(
                    32, 24, (64 + (did * 31 + idx * 7) % 128, 128, 128)
                ),
                "w": 32,
                "h": 24,
                "alpha": np.full((24, 32), 255, np.uint8),
                "alpha_filter": idx % 4,
            }
            for idx in range(n_frames)
        ]
        payload, codec = webpmod.encode_webp_animated(frames, 32, 24), "anim_webp"
    elif did % 16 in (9, 13):
        # HEVC hvc1 mp4: PCM flat-luma keyframes, byte-exact, so the
        # decoded gray is the BT.601 closed form
        from ragflow_ocr_spark.kernels import hevc as hevcmod

        cp = np.full((12, 16), 128, np.uint8)
        aus = [
            hevcmod.encode_hevc_ipcm_yuv(
                np.full((24, 32), 64 + (did * 31 + idx * 7) % 128, np.uint8), cp, cp)
            for idx in range(n_frames)
        ]
        payload, codec = encode_mp4_hvc1(aus, 32, 24), "hvc1_mp4"
    elif did % 16 == 11:
        # V_VP8 webm: flat keyframes, BT.601 closed form
        vp8_frames = [
            vp8mod.encode_vp8_flat_payload(
                32, 24, (64 + (did * 31 + idx * 7) % 128, 128, 128))
            for idx in range(n_frames)
        ]
        payload, codec = encode_webm(vp8_frames, b"V_VP8"), "vp8_webm"
    else:
        frames = [
            imgcodecs.encode_jpeg(
                np.full((24, 32), (did * 31 + idx * 7) % 256, np.uint8), quality=95
            )
            for idx in range(n_frames)
        ]
        if did % 4 == 1:
            payload, codec = encode_mp4_mjpeg(frames, 32, 24), "mjpeg_mp4"
        else:
            payload, codec = encode_webm_mjpeg(frames), "mjpeg_webm"
    yield did, "video", payload, codec, 32, 24, 0


def q_media_frame_sample(spark, sf_dir: str):
    from pyspark.sql import functions as F

    synth = map_rows(MEDIA_SCHEMA, ("doc_id",), _video_row)
    media = _doc_ids(spark, sf_dir, _VID_LIMIT).mapInPandas(synth, schema=MEDIA_SCHEMA)
    frames = media.mapInPandas(frame_sample_stage(every_k=2), schema=FRAME_SAMPLE_SCHEMA)
    return frames.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        "mean_luma", "status",
    )


ORACLE_FRAME_SAMPLE = f"""
WITH f AS (
  SELECT doc_id,
         unnest(range(0, CAST(4 + doc_id % 5 AS BIGINT), 2)) AS frame_idx
  FROM documents WHERE doc_id < {_VID_LIMIT}
)
SELECT doc_id AS media_id, frame_idx,
       ROUND(CASE WHEN doc_id % 8 = 7 OR doc_id % 16 = 11
                    OR doc_id % 16 = 13 OR doc_id % 16 = 9
             THEN CAST((298 * (64 + (doc_id * 31 + frame_idx * 7) % 128 - 16)
                        + 128) // 256 AS DOUBLE)
             ELSE CAST((doc_id * 31 + frame_idx * 7) % 256 AS DOUBLE)
             END, 6) AS mean_luma,
       'ok' AS status
FROM f
"""


def q_media_thumbnail(spark, sf_dir: str):
    def row(did):
        did = int(did)
        img = np.full((48, 64), (did * 5 + 7) % 256, dtype=np.uint8)
        yield did, "image", pngcodec.encode_png(img), "png", 64, 48, 0

    synth = map_rows(MEDIA_SCHEMA, ("doc_id",), row)
    media = _doc_ids(spark, sf_dir, _IMG_LIMIT).mapInPandas(synth, schema=MEDIA_SCHEMA)
    thumbs = media.mapInPandas(thumbnail_stage(max_side=16), schema=THUMB_SCHEMA)
    return thumbs.mapInPandas(thumbnail_luma_stage(), schema=THUMB_LUMA_SCHEMA)


ORACLE_THUMBNAIL = f"""
SELECT doc_id AS media_id, 16 AS thumb_w, 12 AS thumb_h,
       ROUND(CAST((doc_id * 5 + 7) % 256 AS DOUBLE), 3) AS mean_luma,
       'ok' AS status
FROM documents WHERE doc_id < {_IMG_LIMIT}
"""


QUERIES = {
    "media_image_stats": (q_media_image_stats, ORACLE_IMAGE_STATS),
    "media_audio_features": (q_media_audio_features, ORACLE_AUDIO_FEATURES),
    "media_frame_sample": (q_media_frame_sample, ORACLE_FRAME_SAMPLE),
    "media_thumbnail": (q_media_thumbnail, ORACLE_THUMBNAIL),
}
