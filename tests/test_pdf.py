"""kernels/pdf.py — the real %PDF route: object parse, FlateDecode /
DCTDecode, Tj rasterization, image-XObject pages, and the per-row
error contract for everything outside the documented subset."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from ragflow_ocr_spark.config import OCRConfig
from ragflow_ocr_spark.kernels import font5x7, pdf
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload, ocr_image


# ------------------------------------------------------------ round trips
@pytest.mark.parametrize("compress", [False, True])
def test_text_pdf_rasterizes_and_ocr_reads_back(compress):
    lines = ["HELLO PDF WORLD", "SECOND LINE 42"]
    data = pdf.build_text_pdf(lines, compress=compress)
    assert data.startswith(b"%PDF-1.4")
    img = pdf.pdf_to_image(data)
    assert img.shape == (792, 612)
    r = ocr_image(img, OCRConfig())
    assert r.text == "\n".join(lines)


@pytest.mark.parametrize("filter_", ["raw", "flate", "dct"])
def test_image_pdf_returns_embedded_page(filter_):
    page, drawn = font5x7.render_page(["SCANNED PAGE IMG"], 480, 96, 2)
    data = pdf.build_image_pdf(page, filter_=filter_)
    img = pdf.pdf_to_image(data)
    assert img.shape == (96, 480)
    r = ocr_image(img, OCRConfig())
    assert r.text == "\n".join(drawn)


def test_pdf_route_through_payload_router():
    data = pdf.build_text_pdf(["ROUTED VIA SNIFF 7"], compress=True)
    r = extract_payload(data)
    assert (r.status, r.text) == ("ok", "ROUTED VIA SNIFF 7")


def test_pdf_holding_a_bare_png_is_a_decode_error():
    """A %PDF file with no page tree, only a stream holding a bare PNG
    file (no PDF filter produces one), fails the structured parse and
    is error:decode: the PNG is not scanned for and decoded."""
    from ragflow_ocr_spark.kernels import pngcodec

    img, _ = font5x7.render_page(["BARE PNG STREAM"], 480, 96, 2)
    png = pngcodec.encode_png(img)
    bare = b"%PDF-1.4\nstream\n" + png + b"\nendstream\n%%EOF"
    r = extract_payload(bare)
    assert (r.status, r.text) == ("error:decode", None)


def test_failed_pdf_parse_is_not_repeated(monkeypatch):
    """A PDF whose structured parse fails is parsed once and the row
    is error:decode."""
    calls = []
    parse = pdf.pdf_to_images

    def counting(*a, **kw):
        calls.append(a)
        return parse(*a, **kw)

    monkeypatch.setattr(pdf, "pdf_to_images", counting)
    r = extract_payload(b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF")
    assert r.status == "error:decode"
    assert len(calls) == 1


# ---------------------------------------------------------------- syntax
def test_string_escapes_and_tj_array():
    content = rb"BT /F1 24 Tf 40 700 Td [(A\(B\)C) (\134D)] TJ ET"
    data = pdf.build_text_pdf([])  # template, then splice content
    # build a page directly: reuse writer objects but custom content
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    img = pdf.pdf_to_image(pdf._assemble(objects))
    r = ocr_image(img, OCRConfig())
    # \( \) are literal parens (not in the 5x7 charset → dropped),
    # \134 is a backslash (dropped); TJ parts concatenate with no
    # implicit spacing, so A B C D glyphs run together
    assert r.text == "ABCD"
    del data


def test_indirect_length_and_ref_resolution():
    content = b"BT /F1 24 Tf 40 700 Td (REF LEN) Tj ET"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length 5 0 R >>\nstream\n" + content + b"\nendstream",
        str(len(content)).encode(),
    ]
    img = pdf.pdf_to_image(pdf._assemble(objects))
    r = ocr_image(img, OCRConfig())
    assert r.text == "REF LEN"


# ------------------------------------------------------------ error rows
@pytest.mark.parametrize(
    "payload",
    [
        b"%PDF-1.4\nno objects here\n%%EOF",                       # no objects
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF",  # no page
        pdf.build_text_pdf(["X"], compress=True)[:-200],            # truncated
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Filter /FlateDecode /Length 4 >>\nstream\nXXXX\nendstream\n"
        b"endobj\n%%EOF",                                           # bad flate
    ],
)
def test_malformed_pdfs_become_error_rows(payload):
    r = extract_payload(payload)
    assert r.status == "error:decode", r.status


def test_pdf_mediabox_bomb_rejected():
    objects = [
        b"<< /Type /Page /MediaBox [0 0 90000 90000] >>",
    ]
    with pytest.raises(ValueError, match="MediaBox"):
        pdf.pdf_to_image(pdf._assemble(objects))


def test_unsupported_filter_rejected():
    objects = [
        b"<< /Type /Page /Contents 2 0 R >>",
        b"<< /Filter /JBIG2Decode /Length 4 >>\nstream\nXXXX\nendstream",
    ]
    with pytest.raises(ValueError, match="filter"):
        pdf.pdf_to_image(pdf._assemble(objects))


def test_lzw_decode_filter():
    """Older real PDFs use LZWDecode (same MSB-first/EarlyChange LZW
    as TIFF) — a hand-built LZW content stream rasterizes and reads."""
    from ragflow_ocr_spark.kernels.imgcodecs import _tiff_lzw_encode

    content = _tiff_lzw_encode(b"BT /F1 24 Tf 40 700 Td (LZW PDF TEXT) Tj ET")
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Filter /LZWDecode /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
    ]
    r = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert r.text == "LZW PDF TEXT"


def test_flate_image_xobject_exact():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (20, 30, 3)).astype(np.uint8)
    out = pdf.pdf_to_image(pdf.build_image_pdf(img, filter_="flate"))
    assert np.array_equal(out, img)  # Flate is lossless

    payload = zlib.compress(img.tobytes())
    del payload


def test_multi_page_text_pdf_joins_page_texts():
    data = pdf.build_text_pdf(
        pages=[["PAGE ONE LINE A", "PAGE ONE LINE B"],
               ["PAGE TWO LINE C"],
               ["PAGE THREE 33"]],
        compress=True,
    )
    r = extract_payload(data)
    assert r.status == "ok" and r.n_blocks == 4
    assert r.text == (
        "PAGE ONE LINE A\nPAGE ONE LINE B\nPAGE TWO LINE C\nPAGE THREE 33"
    )
    # the staged single-image contract reads page 1 only
    img = pdf.pdf_to_image(data)
    from ragflow_ocr_spark.kernels.ocr_pipeline import ocr_image
    from ragflow_ocr_spark.config import OCRConfig

    assert ocr_image(img, OCRConfig()).text == "PAGE ONE LINE A\nPAGE ONE LINE B"


def test_page_tree_bomb_is_bounded():
    # 64 declared pages: pdf_to_images caps at max_pages (16) instead
    # of rasterizing unbounded MediaBox canvases
    data = pdf.build_text_pdf(pages=[[f"P{k}"] for k in range(64)])
    pages = pdf.pdf_to_images(data)
    assert len(pages) == 16


def test_indirect_length_preserves_trailing_eol_bytes():
    """A binary stream with an indirect /Length whose payload ends in
    0x0A/0x0D must come back byte-exact (the endstream fallback used
    to rstrip a run of EOLs)."""
    payload = b"\x00\x01binary\n\n"  # legitimately ends in two LFs
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 100] "
        b"/Contents 4 0 R >>",
        b"<< /Length 5 0 R >>\nstream\n" + payload + b"\nendstream",
        str(len(payload)).encode(),
    ]
    objs = pdf.parse_objects(pdf._assemble(objects))
    assert objs[4][1] == payload


def test_indirect_length_stream_containing_endstream_token():
    """Binary data containing the literal token 'endstream' must not
    cut the stream short when /Length is an indirect reference."""
    payload = b"head endstream tail!!"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 100] "
        b"/Contents 4 0 R >>",
        b"<< /Length 5 0 R >>\nstream\n" + payload + b"\nendstream",
        str(len(payload)).encode(),
    ]
    objs = pdf.parse_objects(pdf._assemble(objects))
    assert objs[4][1] == payload


def test_multipage_all_dropped_propagates_empty_dropped():
    """When every page's detections fall below drop_score the doc-level
    status is 'empty:dropped', not a bare 'empty' (parity with the
    single-image path)."""
    from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload

    doc = pdf.build_text_pdf(["DROP ME PLEASE"], compress=False)
    r = extract_payload(doc, OCRConfig(drop_score=1.01))
    assert r.status == "empty:dropped"
    assert r.text == ""


def test_contentless_pdf_page_is_blank_despite_orphan_image():
    """A page object with no /Contents is an empty page (ISO 32000-1
    §7.7.3.3), even when an image stream that no page references sits
    in the file: the row is empty, with or without that stream."""
    from ragflow_ocr_spark.kernels import pngcodec

    img, _ = font5x7.render_page(["ORPHAN SCAN 11"], 448, 96, 2)
    png = pngcodec.encode_png(img)
    orphan = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Page >>\nendobj\n"
        b"2 0 obj\n<< /Type /XObject /Subtype /Image /Length "
        + str(len(png)).encode()
        + b" >>\nstream\n" + png + b"\nendstream\nendobj\n"
        b"trailer\n<< >>\n%%EOF"
    )
    r = extract_payload(orphan)
    assert (r.status, r.text) == ("empty", "")
    blank = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\ntrailer\n<< >>\n%%EOF"
    )
    r2 = extract_payload(blank)
    assert r2.status == "empty"


def test_blank_page_with_contents_never_salvages_unreferenced_image():
    """Salvage is gated on the structural no-/Contents shape: a page
    that DOES declare /Contents but renders blank (e.g. an empty
    content stream) must stay blank even when an unreferenced
    decodable image (a thumbnail/logo) sits elsewhere in the file."""
    from ragflow_ocr_spark.kernels import pngcodec
    from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload

    logo, _ = font5x7.render_page(["NOT PAGE CONTENT"], 448, 96, 2)
    png = pngcodec.encode_png(logo)
    doc = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Length 0 >>\nstream\n\nendstream\nendobj\n"
        b"3 0 obj\n<< /Type /XObject /Subtype /Image /Length "
        + str(len(png)).encode()
        + b" >>\nstream\n" + png + b"\nendstream\nendobj\n"
        b"trailer\n<< >>\n%%EOF"
    )
    r = extract_payload(doc)
    assert r.status == "empty"
    assert r.text == ""


def test_asciihex_and_runlength_decode_filters():
    """ASCIIHexDecode (whitespace + '>' EOD + odd-digit pad) and
    RunLengthDecode (copy/repeat runs, 128 EOD), including a chained
    [/ASCIIHexDecode /RunLengthDecode] filter array."""
    text = b"BT /F1 24 Tf 40 700 Td (HEX RLE PDF) Tj ET"
    hexed = text.hex().upper().encode()
    spaced = b" ".join(hexed[i : i + 8] for i in range(0, len(hexed), 8)) + b">"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Filter /ASCIIHexDecode /Length "
        + str(len(spaced)).encode()
        + b" >>\nstream\n" + spaced + b"\nendstream",
    ]
    r = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert r.text == "HEX RLE PDF"

    # RunLengthDecode: literal run + repeat run + EOD
    rle = bytes([len(text) - 1]) + text + bytes([257 - 3, ord(" "), 128])
    objects[3] = (
        b"<< /Filter /RunLengthDecode /Length "
        + str(len(rle)).encode()
        + b" >>\nstream\n" + rle + b"\nendstream"
    )
    r2 = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert r2.text == "HEX RLE PDF"

    # chained: RunLength output hex-encoded, filters applied in order
    chained = rle.hex().encode() + b">"
    objects[3] = (
        b"<< /Filter [/ASCIIHexDecode /RunLengthDecode] /Length "
        + str(len(chained)).encode()
        + b" >>\nstream\n" + chained + b"\nendstream"
    )
    r3 = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert r3.text == "HEX RLE PDF"


def test_flate_png_predictor_content_stream():
    """PNG /DecodeParms predictor (10-15) on a Flate content stream:
    per-row filter tags (None/Up/Sub mixed) unfilter before parsing."""
    text = b"BT /F1 24 Tf 40 700 Td (PRED PDF TEXT) Tj ET"
    cols = 16
    data = text + b" " * ((-len(text)) % cols)
    rows = [data[i : i + cols] for i in range(0, len(data), cols)]
    filtered = bytearray()
    prev = bytes(cols)
    for r_i, row in enumerate(rows):
        if r_i % 3 == 0:  # None
            filtered += b"\x00" + row
        elif r_i % 3 == 1:  # Up
            filtered += b"\x02" + bytes(
                (row[j] - prev[j]) & 0xFF for j in range(cols)
            )
        else:  # Sub (bpp=1)
            filtered += b"\x01" + bytes(
                (row[j] - (row[j - 1] if j else 0)) & 0xFF for j in range(cols)
            )
        prev = row
    comp = zlib.compress(bytes(filtered))
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 16 >>"
        b" /Length " + str(len(comp)).encode()
        + b" >>\nstream\n" + comp + b"\nendstream",
    ]
    r = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert r.text == "PRED PDF TEXT"


def test_flate_tiff_predictor_image_xobject_exact():
    """TIFF predictor 2 (/Colors 3) on a Flate image XObject decodes
    back to the exact pixels."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 4, 3)).astype(np.uint8)
    diff = img.astype(np.int16).copy()
    diff[:, 1:] -= img.astype(np.int16)[:, :-1]
    comp = zlib.compress((diff & 0xFF).astype(np.uint8).tobytes())
    h, w = img.shape[:2]
    content = f"q {w} 0 0 {h} 0 0 cm /Im1 Do Q".encode()
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            "/Contents 4 0 R /Resources << /XObject << /Im1 5 0 R >> >> >>"
        ).encode(),
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        (
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode "
            f"/DecodeParms << /Predictor 2 /Colors 3 /Columns {w} >> "
            f"/Length {len(comp)} >>"
        ).encode() + b"\nstream\n" + comp + b"\nendstream",
    ]
    out = pdf.pdf_to_image(pdf._assemble(objects))
    assert np.array_equal(out, img)


def test_bad_predictor_is_contract_error():
    comp = zlib.compress(b"\x00" * 7)  # not row-aligned for cols=16
    objects = [
        b"<< /Type /Page /Contents 2 0 R >>",
        b"<< /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 16 >>"
        b" /Length " + str(len(comp)).encode()
        + b" >>\nstream\n" + comp + b"\nendstream",
    ]
    with pytest.raises(ValueError, match="row-aligned"):
        pdf.pdf_to_image(pdf._assemble(objects))


def test_object_stream_pages_extract():
    """PDF 1.5 object streams: the page and catalog dicts live inside
    a Flate-compressed /ObjStm (the modern-generator layout); only the
    content stream is a direct object."""
    inner = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 5 0 R >>"),
    ]
    offsets, body = [], b""
    for num, val in inner:
        offsets.append((num, len(body)))
        body += val + b" "
    header = b" ".join(f"{n} {o}".encode() for n, o in offsets) + b" "
    payload = zlib.compress(header + body)
    content = b"BT /F1 24 Tf 40 700 Td (OBJSTM PAGE TEXT) Tj ET"
    objects_raw = (
        b"%PDF-1.5\n"
        b"4 0 obj\n<< /Type /ObjStm /N 3 /First " + str(len(header)).encode()
        + b" /Filter /FlateDecode /Length " + str(len(payload)).encode()
        + b" >>\nstream\n" + payload + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    r = ocr_image(pdf.pdf_to_image(objects_raw), OCRConfig())
    assert r.text == "OBJSTM PAGE TEXT"


def test_damaged_object_stream_salvages_direct_objects():
    """A corrupt ObjStm must not kill the document: direct objects
    still parse (tolerant-reader behavior)."""
    content = b"BT /F1 24 Tf 40 700 Td (DIRECT SURVIVES) Tj ET"
    data = (
        b"%PDF-1.5\n"
        b"4 0 obj\n<< /Type /ObjStm /N 2 /First 8 /Filter /FlateDecode "
        b"/Length 9 >>\nstream\nnotzlib!!\nendstream\nendobj\n"
        b"1 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    r = ocr_image(pdf.pdf_to_image(data), OCRConfig())
    assert r.text == "DIRECT SURVIVES"


def test_hex_show_strings_render():
    """<hex> show strings (bare Tj operand and inside TJ arrays) must
    render — previously the digits tokenized as stray numbers and the
    text vanished."""
    hex_text = b"HEX SHOW 42".hex().upper().encode()
    content = (
        b"BT /F1 24 Tf 40 700 Td <" + hex_text + b"> Tj "
        b"0 -40 Td [<" + b"TJ ARR".hex().encode() + b"> -120 (MIX)] TJ ET"
    )
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
    ]
    r = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert "HEX SHOW 42" in r.text
    assert "TJ ARRMIX" in r.text.replace("\n", " ")


def test_cm_translation_positions_text():
    """`q 1 0 0 1 dx dy cm … Q` translation blocks position the text;
    after Q the state restores (the second span lands at its own Td)."""
    content = (
        b"q 1 0 0 1 30 650 cm BT /F1 24 Tf 10 50 Td (CM MOVED TEXT) Tj ET Q "
        b"BT /F1 24 Tf 40 600 Td (AFTER RESTORE) Tj ET"
    )
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
    ]
    r = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    joined = r.text.replace("\n", " ")
    assert "CM MOVED TEXT" in joined and "AFTER RESTORE" in joined


def test_flate_bomb_is_contract_error():
    """A small flate stream declaring an enormous inflation must fail
    as a per-row ValueError before allocation, not OOM."""
    from ragflow_ocr_spark.kernels.imgcodecs import MAX_DECODE_PIXELS

    bomb = zlib.compress(b"\x00" * (3 * MAX_DECODE_PIXELS + 4096), 9)
    objects = [
        b"<< /Type /Page /Contents 2 0 R >>",
        b"<< /Filter /FlateDecode /Length " + str(len(bomb)).encode()
        + b" >>\nstream\n" + bomb + b"\nendstream",
    ]
    with pytest.raises(ValueError, match="decode cap"):
        pdf.pdf_to_image(pdf._assemble(objects))


def test_truncated_flate_stream_is_loud():
    """Truncated deflate data must stay a per-row error: decompressobj
    returns a silent partial prefix where zlib.decompress raised
    (review-found regression of the bomb-guard change)."""
    content = zlib.compress(b"BT /F1 24 Tf 40 700 Td (GONE) Tj ET" * 20)
    cut = content[: len(content) // 2]
    objects = [
        b"<< /Type /Page /Contents 2 0 R >>",
        b"<< /Filter /FlateDecode /Length " + str(len(cut)).encode()
        + b" >>\nstream\n" + cut + b"\nendstream",
    ]
    with pytest.raises(ValueError, match="truncated PDF flate"):
        pdf.pdf_to_image(pdf._assemble(objects))


def test_stray_angle_bracket_does_not_swallow_operators():
    """A lone '<' inside content must stay a single stray byte: with
    the find('>')-jump it swallowed every operator up to a distant '>'
    (review-found), silently dropping extractable text."""
    content = (
        b"BT /F1 24 Tf 40 700 Td < (KEPT TEXT) Tj ET"  # stray <, no >
    )
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
    ]
    r = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert "KEPT TEXT" in r.text
    # and with a distant '>' later: the non-hex span between must not
    # be consumed as a (failed) hex string
    content2 = b"BT /F1 24 Tf 40 700 Td < (STILL HERE) Tj 1 2 > ET"
    objects[3] = (
        b"<< /Length " + str(len(content2)).encode()
        + b" >>\nstream\n" + content2 + b"\nendstream"
    )
    r2 = ocr_image(pdf.pdf_to_image(pdf._assemble(objects)), OCRConfig())
    assert "STILL HERE" in r2.text


def test_hex_string_scan_is_bounded():
    """ADVICE r04: a lone '<' whose matching '>' sits kilobytes away in
    binary-ish content must degrade to a stray byte, not swallow the
    intervening operators."""
    from ragflow_ocr_spark.kernels.pdf import _content_tokens

    # '<' then >4 KiB of hex-looking bytes before the terminator: the
    # bounded scan must NOT treat it as one huge show string, so the
    # embedded Tj operator survives
    blob = b"< " + b"ab " * 2000 + b"> (real) Tj"
    toks = list(_content_tokens(blob))
    assert ("op", b"Tj") in toks
    assert ("str", b"real") in toks
    # a normal-sized hex string still decodes
    toks2 = list(_content_tokens(b"<48 65 6C 6C 6F> Tj"))
    assert ("str", b"Hello") in toks2
