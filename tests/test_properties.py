"""Property-based robustness tests (hypothesis) — the never-crash
invariants the per-row error contract depends on."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from ragflow_ocr_spark.kernels import font5x7, pngcodec
from ragflow_ocr_spark.kernels.html_extract import extract_html
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload
from ragflow_ocr_spark.kernels.reading_order import sorted_boxes


@given(st.binary(max_size=4096))
@settings(max_examples=150, deadline=None)
def test_extract_html_never_raises(data):
    text, n, status = extract_html(data)
    assert status in ("ok", "empty", "error:null", "error:parse")
    assert (text is None) == status.startswith("error")


# st.binary almost never spells a tag, so the test above barely reaches
# the tokenizer; this alphabet spells markup, entities and the
# whitespace classes a tag name does and does not end at
_HTMLISH = st.one_of(
    st.sampled_from(
        "<>/!?&;=\"' abdilprstyAPS#x0-[]\t\n\r\f\x0b\x00\x1c\x1d\x1e\x1f\x85\xa0\u2028"
    ),
    st.sampled_from(
        ["<p>", "</p>", "<div>", "<nav>", "</nav>", "<a href=", "</a>", "<br/>",
         "<script>", "</SCRIPT >", "<style>", "<!--", "-->", "<!DOCTYPE", "<![",
         "=\"v\"", "&amp", "&amp;", "&#", "text"]
    ),
)


@given(st.lists(_HTMLISH, max_size=120).map("".join))
@settings(max_examples=400, deadline=None)
def test_extract_html_matches_htmlparser_oracle(text):
    from test_html_extract import CONFIGS, _oracle_extract_html, extract_with

    data = text.encode("utf-8")
    for cfg in CONFIGS:
        assert extract_with(data, cfg) == _oracle_extract_html(data, cfg)


@given(st.binary(max_size=2048))
@settings(max_examples=100, deadline=None)
def test_extract_payload_never_raises(data):
    r = extract_payload(data)
    assert r.status
    # any non-crash outcome is contractually valid; text None ⇔ error
    assert (r.text is None) == r.status.startswith("error")


# random bytes almost never carry a codec magic, so the generic fuzzer
# above barely reaches the decoders — these force each route
_MAGICS = [
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8\xff\xe0",
    b"BM\x00\x00\x00\x00\x00\x00\x00\x00",
    b"II*\x00",
    b"MM\x00*",
    b"%PDF-1.4\n",
    b"GIF89a",
    b"GIF87a",
    b"RIFF\x10\x00\x00\x00WEBPVP8L",
    b"RIFF\x10\x00\x00\x00WEBPVP8 ",  # lossy VP8 route (kernels/vp8)
    # animated container route (VP8X + ANIM/ANMF compositing)
    b"RIFF\x40\x00\x00\x00WEBPVP8X\x0a\x00\x00\x00\x02\x00\x00\x00"
    b"\x1f\x00\x00\x17\x00\x00",
]


@given(st.binary(max_size=768))
@settings(max_examples=120, deadline=None)
def test_pdf_parser_structured_fuzz_never_raises_through_router(tail):
    """Seed the fuzz with real PDF syntax fragments so the object
    parser, dict tokenizer and content interpreter are actually
    reached (pure random bytes die at the %PDF check)."""
    payload = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        b"2 0 obj\n" + tail
    )
    r = extract_payload(payload)
    assert r.status
    assert (r.text is None) == r.status.startswith("error")


@given(st.sampled_from(_MAGICS), st.binary(max_size=512))
@settings(max_examples=150, deadline=None)
def test_extract_payload_fuzzed_codec_routes_never_raise(magic, tail):
    r = extract_payload(magic + tail)
    assert r.status
    assert (r.text is None) == r.status.startswith("error")


@given(st.binary(max_size=512))
@settings(max_examples=100, deadline=None)
def test_codec_decoders_raise_value_error_only(tail):
    from ragflow_ocr_spark.kernels import imgcodecs, wavcodec, webp

    for magic, dec in [
        (b"BM\x00\x00\x00\x00\x00\x00\x00\x00", imgcodecs.decode_bmp),
        (b"II*\x00", imgcodecs.decode_tiff),
        (b"\xff\xd8\xff\xe0", imgcodecs.decode_jpeg),
        (b"RIFF\x10\x00\x00\x00WAVEfmt ", wavcodec.decode_wav),
        (b"RIFF\x10\x00\x00\x00WEBPVP8L", webp.decode_webp),
        (pngcodec.PNG_MAGIC + b"\x00\x00\x00\x0cIHDR", pngcodec.decode_png),
    ]:
        try:
            out = dec(magic + tail)
        except ValueError:
            continue  # the only contractually-allowed exception type
        if dec is wavcodec.decode_wav:
            assert out[0].dtype == np.int16
        else:
            assert out.dtype == np.uint8


def test_png_short_ihdr_is_a_decode_error_not_a_task_failure():
    """An IHDR chunk declaring 12 bytes instead of 13 once escaped
    decode_png as struct.error and failed the Spark task; it is a
    per-row decode error."""
    from ragflow_ocr_spark.config import DEFAULT
    from ragflow_ocr_spark.spark.stages import _extract_one

    png = bytearray(pngcodec.encode_png(np.zeros((8, 8), np.uint8)))
    png[11] = 12  # IHDR length field's low byte
    text, n_blocks, status, engine = _extract_one(bytes(png), DEFAULT)
    assert (text, n_blocks, status, engine) == (None, 0, "error:decode", "ocr")


@given(
    st.integers(2, 40),
    st.integers(2, 40),
    st.integers(1, 3),
)
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_random_shapes(h, w, channels):
    rng = np.random.default_rng(h * 100 + w)
    shape = (h, w) if channels != 3 else (h, w, 3)
    img = rng.integers(0, 256, shape).astype(np.uint8)
    if channels == 2:  # gray path again, different seed mix
        img = img.reshape(h, w) if img.ndim == 2 else img[:, :, 0]
    out = pngcodec.decode_png(pngcodec.encode_png(img))
    assert np.array_equal(out, img)


@given(st.lists(st.tuples(st.integers(0, 500), st.integers(0, 500)), min_size=0, max_size=12))
@settings(max_examples=80, deadline=None)
def test_sorted_boxes_is_permutation(corners):
    boxes = np.array(
        [
            [[x, y], [x + 10, y], [x + 10, y + 8], [x, y + 8]]
            for x, y in corners
        ],
        dtype=np.float64,
    ).reshape(len(corners), 4, 2)
    out = sorted_boxes(boxes)
    assert len(out) == len(corners)
    a = sorted(map(lambda b: tuple(b.ravel()), boxes))
    b = sorted(map(lambda b: tuple(b.ravel()), out))
    assert a == b


@given(st.text(max_size=60), st.integers(1, 3))
@settings(max_examples=60, deadline=None)
def test_render_sanitize_contract(text, scale):
    """Whatever render_page draws, it reports as ground truth exactly
    the sanitized, fitted string."""
    img, drawn = font5x7.render_page([text], width=480, height=96, scale=scale)
    for line in drawn:
        assert line == font5x7.sanitize(line)  # idempotent
        assert line.strip() == line


@given(st.integers(0, 2), st.binary(max_size=512))
@settings(max_examples=100, deadline=None)
def test_bmp_rle_and_subbyte_fuzz_value_error_only(comp, tail):
    """Structured BMP fuzz reaching the RLE and sub-byte paths: a valid
    54-byte header declaring RLE8/RLE4/1-bit with attacker-controlled
    stream bytes must decode to uint8 or raise ValueError, never crash
    or write outside the declared allocation."""
    import struct

    from ragflow_ocr_spark.kernels import imgcodecs

    bpp = {0: 8, 1: 4, 2: 1}[comp]
    compression = {0: 1, 1: 2, 2: 0}[comp]  # RLE8, RLE4, uncompressed 1-bit
    pal = bytes(64)  # 16 entries
    off = 54 + len(pal)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 9, 5, 1, bpp, compression, len(tail), 0, 0, 16, 0
    )
    head = struct.pack("<2sIHHI", b"BM", off + len(tail), 0, 0, off)
    try:
        out = imgcodecs.decode_bmp(head + info + pal + tail)
        assert out.dtype == np.uint8 and out.shape[:2] == (5, 9)
    except ValueError:
        pass


@given(st.binary(max_size=256), st.integers(1, 4).filter(lambda b: b != 3))
@settings(max_examples=80, deadline=None)
def test_png_subbyte_fuzz_value_error_only(tail, depth):
    """Sub-byte/16-bit PNG fuzz: valid IHDR + arbitrary IDAT bytes must
    decode or raise ValueError (zlib/size/filter errors), never crash."""
    import struct
    import zlib as _z

    d = {1: 1, 2: 2, 4: 4}.get(depth, 16)
    ihdr = struct.pack(">IIBBBBB", 7, 3, d, 0, 0, 0, 0)
    def chunk(tag, payload):
        c = struct.pack(">I", len(payload)) + tag + payload
        return c + struct.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF)
    data = (
        pngcodec.PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", tail) + chunk(b"IEND", b"")
    )
    try:
        out = pngcodec.decode_png(data)
        assert out.dtype == np.uint8
    except ValueError:
        pass


# ---------------------------------------------------- seeded mutants
# The sniff window: mutants keep these leading bytes, so each one stays
# on the decode route of the kind it was made from.
_SNIFF_BYTES = 16
# No ``error:internal:*`` here: the stage's row boundary turns any
# exception into that status, so a mutant that reached it would pass
# as a row status while its decoder raised. A malformed payload must
# read ``error:decode`` from its own route.
_MUTANT_STATUSES = {"ok", "empty", "empty:dropped", "error:decode"}


def _route_seeds() -> dict[str, bytes]:
    """One small payload per kind whose decode route is a PDF parse or
    the HEVC intra decoder, plus a JP2 (the other coded raster route)."""
    from pathlib import Path

    from ragflow_ocr_spark.kernels import heif, jpeg2000, pdf

    page, _ = font5x7.render_page(["MUTANT SEED 11"], 256, 64, 2)
    return {
        "image_pdf": pdf.build_image_pdf(page),
        "text_pdf": pdf.build_text_pdf(["MUTANT SEED 11"], media=(240, 80), margin=8),
        "pcm_heic": heif.encode_heic(page),
        "grid_heic": heif.encode_heic_grid(page, 2, 2),
        "cabac_heic": (Path(__file__).parent / "fixtures" / "heic_cabac_c.heic").read_bytes(),
        # the text line alone: JP2 decode time grows with the pixels
        # and would otherwise take half of this test's time
        "jp2": jpeg2000.encode_jp2(page[12:50, 12:200]),
    }


def _mutants(seed: bytes, rng: np.random.Generator, n: int) -> list[bytes]:
    """n mutants of ``seed``: even draws flip 1-4 bytes, odd draws
    truncate; the sniff window is left alone."""
    out = []
    for k in range(n):
        if k % 2:
            out.append(seed[: int(rng.integers(_SNIFF_BYTES, len(seed)))])
            continue
        m = bytearray(seed)
        for pos in rng.integers(_SNIFF_BYTES, len(m), size=int(rng.integers(1, 5))):
            m[pos] ^= int(rng.integers(1, 256))
        out.append(bytes(m))
    return out


def _check_seeded_mutants(spark, seeds: dict[str, bytes], seed_statuses: dict[str, str]):
    """100 mutants of each seed (rng seed 11): through
    ``stages._extract_one`` none raises and each is a row status of its
    own route; through ``extract()`` on Spark every url comes back once
    with a status."""
    import pandas as pd

    from ragflow_ocr_spark.config import DEFAULT
    from ragflow_ocr_spark.spark.pipeline import extract
    from ragflow_ocr_spark.spark.stages import PAGES_SCHEMA, _extract_one, schema_columns

    rng = np.random.default_rng(11)
    rows = []
    for kind, seed in seeds.items():
        assert _extract_one(seed, DEFAULT)[2] == seed_statuses.get(kind, "ok"), kind
        for k, data in enumerate(_mutants(seed, rng, 100)):
            text, n_blocks, status, engine = _extract_one(data, DEFAULT)
            assert engine == "ocr" and status in _MUTANT_STATUSES, (kind, k, engine, status)
            assert (text is None) == status.startswith("error"), (kind, k, status)
            rows.append((f"{kind}/{k}", None, data, None, "en"))

    columns = [name for name, _ in schema_columns(PAGES_SCHEMA)]
    pages = spark.createDataFrame(pd.DataFrame(rows, columns=columns), PAGES_SCHEMA)
    got = extract(pages).select("url", "status").collect()
    assert sorted(r.url for r in got) == sorted(r[0] for r in rows)
    assert all(r.status in _MUTANT_STATUSES for r in got)


def test_seeded_mutants_of_pdf_and_hevc_routes_are_row_statuses(spark):
    """Byte-flip and truncation mutants (rng seed 11, 100 per kind) of
    image and text PDFs, PCM, grid and CABAC HEICs and a JP2 are row
    statuses, in-process and on Spark. Arithmetic-coded JPEG is left
    out: some of its mutants decode for seconds each (ROADMAP item 2)."""
    _check_seeded_mutants(spark, _route_seeds(), {})


def test_seeded_mutants_of_gif_and_webp_containers_are_row_statuses(spark):
    """The same mutants (rng seed 11, 100 per kind) of the GIF block
    reader's and the RIFF chunk walker's image kinds: a still, an
    interlaced and an animated GIF, and a VP8L, a VP8 and an animated
    WebP. The VP8 seed is a flat light frame (its encoder writes no
    text), so it reads ``empty``."""
    from ragflow_ocr_spark.kernels import imgcodecs, vp8, webp

    page, _ = font5x7.render_page(["MUTANT SEED 11"], 256, 64, 2)
    line = page[12:50, 12:200]
    flat = vp8.encode_vp8_flat_payload(96, 32, (200, 110, 140))
    vp8l = webp.encode_webp(line)
    seeds = {
        "gif": imgcodecs.encode_gif(line),
        "gif_interlaced": imgcodecs.encode_gif(line, interlace=True),
        "gif_animated": imgcodecs.encode_gif_animation([line, 255 - line]),
        "webp_vp8l": vp8l,
        "webp_vp8": vp8.wrap_webp(flat),
        "webp_animated": webp.encode_webp_animated(
            [{"tag": b"VP8L", "data": vp8l[20:], "w": line.shape[1], "h": line.shape[0]},
             {"tag": b"VP8 ", "data": flat, "w": 96, "h": 32, "x": 4, "y": 2}],
            line.shape[1], line.shape[0]),
    }
    _check_seeded_mutants(spark, seeds, {"webp_vp8": "empty"})


def test_seeded_mutants_of_jpeg_png_bmp_and_tiff_are_row_statuses(spark):
    """The same mutants (rng seed 11, 100 per kind) of the other raster
    kinds: baseline JPEG, 4:2:0 JPEG with restarts, multiscan,
    progressive, CMYK (YCCK) and lossless JPEG, and PNG, BMP and an LZW
    TIFF with the differencing predictor. Arithmetic-coded JPEG is left
    out: some of its mutants decode for seconds each (ROADMAP item 2)."""
    from ragflow_ocr_spark.kernels import imgcodecs

    page, _ = font5x7.render_page(["MUTANT SEED 11"], 256, 64, 2)
    line = page[12:50, 12:200]
    rgb = np.stack([line, line, 255 - (255 - line) // 2], axis=2)
    seeds = {
        "jpeg": imgcodecs.encode_jpeg(line),
        "jpeg_420_rst": imgcodecs.encode_jpeg(rgb, subsample=True, restart_interval=3),
        "jpeg_multiscan": imgcodecs.encode_jpeg_multiscan(rgb),
        "jpeg_progressive": imgcodecs.encode_jpeg_progressive(rgb, subsample=True),
        "jpeg_cmyk": imgcodecs.encode_jpeg_cmyk(rgb, ycck=True),
        "jpeg_lossless": imgcodecs.encode_jpeg_lossless(line, 4, restart_interval=50),
        "png": pngcodec.encode_png(line),
        "bmp": imgcodecs.encode_bmp(rgb),
        "tiff": imgcodecs.encode_tiff(line, "lzw", predictor=True),
    }
    _check_seeded_mutants(spark, seeds, {})
