"""Kernel tests: PNG codec, CTC, reading order, crop probe, DB
postprocess quirks, and the end-to-end OCR round trip (drawn text ==
recognized text, byte-identical)."""

from __future__ import annotations

import numpy as np
import pytest

from ragflow_ocr_spark.config import OCRConfig
from ragflow_ocr_spark.kernels import font5x7, pngcodec
from ragflow_ocr_spark.kernels.crop import get_rotate_crop_image, rotation_probe
from ragflow_ocr_spark.kernels.ctc import ctc_greedy_decode
from ragflow_ocr_spark.kernels.db_postprocess import db_postprocess
from ragflow_ocr_spark.kernels.det_preprocess import resize_for_det
from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload, ocr_image
from ragflow_ocr_spark.kernels.reading_order import sorted_boxes
from ragflow_ocr_spark.kernels.stubnet import REC_CHARSET


# ------------------------------------------------------------- png codec
def test_png_roundtrip_gray():
    img = np.random.default_rng(1).integers(0, 256, (40, 60)).astype(np.uint8)
    assert np.array_equal(pngcodec.decode_png(pngcodec.encode_png(img)), img)


def test_png_roundtrip_rgb():
    img = np.random.default_rng(2).integers(0, 256, (20, 30, 3)).astype(np.uint8)
    assert np.array_equal(pngcodec.decode_png(pngcodec.encode_png(img)), img)


def _png_with(color_type, px, extra_chunks=()):
    import struct
    import zlib

    h = px.shape[0]
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    w = px.reshape(h, -1).shape[1] // ch
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = pngcodec.PNG_MAGIC + pngcodec._chunk(b"IHDR", ihdr)
    for tag, payload in extra_chunks:
        out += pngcodec._chunk(tag, payload)
    rows = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return out + pngcodec._chunk(b"IDAT", zlib.compress(rows)) + pngcodec._chunk(b"IEND", b"")


def test_png_rgba_and_gray_alpha_drop_alpha():
    rng = np.random.default_rng(31)
    px = rng.integers(0, 256, (9, 14, 4)).astype(np.uint8)
    dec = pngcodec.decode_png(_png_with(6, px))
    assert dec.shape == (9, 14, 3) and np.array_equal(dec, px[..., :3])
    px2 = rng.integers(0, 256, (9, 14, 2)).astype(np.uint8)
    dec = pngcodec.decode_png(_png_with(4, px2))
    assert dec.shape == (9, 14) and np.array_equal(dec, px2[..., 0])


def test_png_palette_decode_and_guards():
    rng = np.random.default_rng(32)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (9, 14)).astype(np.uint8)
    dec = pngcodec.decode_png(_png_with(3, idx, [(b"PLTE", pal.tobytes())]))
    assert dec.shape == (9, 14, 3) and np.array_equal(dec, pal[idx])
    # gray palette collapses to a gray plane (router feeds OCR gray)
    gpal = np.repeat(np.arange(16, dtype=np.uint8) * 16, 3).reshape(16, 3)
    dec = pngcodec.decode_png(_png_with(3, idx, [(b"PLTE", gpal.tobytes())]))
    assert dec.shape == (9, 14) and np.array_equal(dec, gpal[idx][..., 0])
    with pytest.raises(ValueError):  # missing PLTE
        pngcodec.decode_png(_png_with(3, idx))
    with pytest.raises(ValueError):  # index beyond palette
        pngcodec.decode_png(_png_with(3, idx, [(b"PLTE", pal[:4].tobytes())]))


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        pngcodec.decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")


def test_sniff_payload():
    assert pngcodec.sniff_payload(None) == "null"
    assert pngcodec.sniff_payload(b"") == "null"
    assert pngcodec.sniff_payload(b"\x89PNGxxxx") == "png"
    assert pngcodec.sniff_payload(b"\xff\xd8\xff\xe0") == "jpeg"
    assert pngcodec.sniff_payload(b"%PDF-1.4") == "pdf"
    assert pngcodec.sniff_payload(b"<html>") == "html"


# ------------------------------------------------------------------- ctc
def _logits(seq: list[int], n_classes: int) -> np.ndarray:
    out = np.zeros((1, len(seq), n_classes), dtype=np.float32)
    for t, c in enumerate(seq):
        out[0, t, c] = 10.0
    return out


def test_ctc_blank_and_dup_removal():
    charset = ["A", "B", "C"]
    # A A blank B -> "AB"
    text, score = ctc_greedy_decode(_logits([1, 1, 0, 2], 4), charset)[0]
    assert text == "AB"
    assert score > 0.99


def test_ctc_doubled_letter_via_blank():
    charset = ["L", "O"]
    # L blank L -> "LL"
    text, _ = ctc_greedy_decode(_logits([1, 0, 1], 3), charset)[0]
    assert text == "LL"


def test_ctc_empty_score_zero():
    charset = ["A"]
    text, score = ctc_greedy_decode(_logits([0, 0], 2), charset)[0]
    assert text == ""
    assert score == 0.0


def test_ctc_low_confidence_uniform():
    # uniform logits at emit step -> prob ~ 1/C -> low mean score (F2 path)
    charset = ["A", "B"]
    lg = np.zeros((1, 1, 3), dtype=np.float32)
    lg[0, 0, 1] = 0.01
    text, score = ctc_greedy_decode(lg, charset)[0]
    assert text == "A"
    assert score < 0.5  # would be dropped by drop_score


# ---------------------------------------------------------- reading order
def _quad(x, y):
    return np.array([[x, y], [x + 10, y], [x + 10, y + 5], [x, y + 5]], float)


def test_sorted_boxes_basic_rows():
    boxes = np.stack([_quad(50, 40), _quad(5, 5), _quad(30, 5)])
    out = sorted_boxes(boxes)
    assert [b[0][0] for b in out] == [5, 30, 50]


def test_sorted_boxes_y_jitter_same_row():
    # y differs by < 10 -> x order wins via the bubble pass
    boxes = np.stack([_quad(60, 12), _quad(20, 8)])
    out = sorted_boxes(boxes)
    assert out[0][0][0] == 20


def test_sorted_boxes_quirk_single_pass_break():
    """The bubble pass breaks at the first non-swap — NOT a total sort.
    Construct the documented asymmetry: boxes A(y=0,x=50), B(y=8,x=40),
    C(y=16,x=30): primary sort keeps [A,B,C]; pass i=0 compares B,A →
    |8-0|<10 and 40<50 → swap → [B,A,C]; then i=1 compares C,A:
    |16-0|≥10 → no swap, break. C stays last even though |16-8|<10
    would have swapped C before B under a full sort."""
    a, b, c = _quad(50, 0), _quad(40, 8), _quad(30, 16)
    out = sorted_boxes(np.stack([a, b, c]))
    assert [q[0][0] for q in out] == [40, 50, 30]


# ------------------------------------------------------------------ crop
def test_crop_preserves_tall_orientation_for_probe():
    """The crop itself must NOT rotate tall results — the reference
    handles h/w >= 1.5 only via the recognition-scored rotation probe
    (ocr/ocr.py:443-464); an unconditional rot90 here would make the
    probe a no-op (ratio < 1.5 on arrival) and always pick ccw."""
    img = np.zeros((100, 100), dtype=np.uint8)
    pts = np.array([[10, 10], [20, 10], [20, 60], [10, 60]], float)
    crop = get_rotate_crop_image(img, pts)
    assert crop.shape[0] > crop.shape[1]  # stays 50x10, probe-eligible


def test_rotation_probe_quirk_ccw_no_score_update():
    """ccw branch must update best_img but not best_score."""
    calls = []

    def rec(c):
        calls.append(c.shape)
        # 0° scores 0.4, cw scores 0.3, ccw scores 0.45 → ccw wins
        return ("x", [0.4, 0.3, 0.45][len(calls) - 1])

    crop = np.zeros((30, 10), dtype=np.float32)
    out = rotation_probe(crop, rec)
    assert out.shape == (10, 30)  # a rotated image won
    assert len(calls) == 3


def test_rotation_probe_tie_keeps_original():
    def rec(c):
        return ("x", 1.0)

    crop = np.zeros((30, 10), dtype=np.float32)
    out = rotation_probe(crop, rec)
    assert out.shape == (30, 10)


# ------------------------------------------------------- det preprocess
def test_resize_for_det_cap_and_mult32():
    img = np.zeros((1280, 1920), dtype=np.uint8)
    out, (sh, sw, rh, rw) = resize_for_det(img, 960)
    assert out.shape == (640, 960)
    assert (sh, sw) == (1280, 1920)
    assert rh == pytest.approx(0.5)


def test_resize_for_det_no_upscale_rounds_to_32():
    img = np.zeros((100, 250), dtype=np.uint8)
    out, _ = resize_for_det(img, 960)
    assert out.shape[0] % 32 == 0 and out.shape[1] % 32 == 0


def test_resize_for_det_tiny_image_padded():
    img = np.zeros((10, 20), dtype=np.uint8)
    out, _ = resize_for_det(img, 960)
    assert min(out.shape[:2]) >= 32


# ------------------------------------------------------- DB postprocess
def test_db_postprocess_thresholds_and_rescale():
    # 3×3 blob: its unclipped min-rect side is below MIN_SIZE + 2
    prob = np.zeros((32, 32))
    prob[4:7, 4:7] = 0.9
    boxes, scores = db_postprocess(prob, 32, 32)
    assert boxes.shape == (0, 4, 2) and scores == []
    # 30×30 blob above DET_DB_THRESH (0.3) but below DET_DB_BOX_THRESH
    prob = np.zeros((64, 64))
    prob[10:40, 10:40] = 0.35
    boxes, scores = db_postprocess(prob, 64, 64)
    assert boxes.shape == (0, 4, 2) and scores == []
    # full-map blob, 10× upscale: the unclipped box is rescaled to
    # source pixels and clipped to [0, dest], hi is dest, not dest − 1
    # (postprocess.py:154-158)
    boxes, scores = db_postprocess(np.full((32, 32), 0.95), 320, 320)
    assert boxes.shape == (1, 4, 2)
    assert scores == [pytest.approx(0.95)]
    assert boxes.max() == 320 and boxes.min() == 0


# ----------------------------------------------------------- end-to-end
CASES = [
    (["HELLO WORLD", "SPARK ENGINE 42"], 960, 256, 2),
    (["ABCDEFGHIJKLM", "NOPQRSTUVWXYZ", "0123456789 .,-:"], 960, 320, 2),
    (["DOWNSCALED PAGE TEST", "RATIO NOT ONE"], 1920, 704, 3),
    (["DOUBLED: BOOKKEEPER LLAMA 1100"], 960, 128, 2),
]


@pytest.mark.parametrize("lines,w,h,s", CASES)
def test_ocr_roundtrip_byte_identical(lines, w, h, s):
    img, drawn = font5x7.render_page(lines, width=w, height=h, scale=s)
    r = extract_payload(pngcodec.encode_png(img))
    assert r.status == "ok"
    assert r.text == "\n".join(drawn)
    assert r.n_blocks == len(drawn)


def test_ocr_blank_page_empty():
    img = np.full((128, 320), 255, dtype=np.uint8)
    r = ocr_image(img, OCRConfig())
    assert (r.text, r.n_blocks, r.status) == ("", 0, "empty")


def test_ocr_all_lines_dropped_distinct_status():
    # boxes detected but every line below drop_score: distinct from
    # detect-empty so quality filters can tell the two apart
    img, _ = font5x7.render_page(["HELLO WORLD"], 960, 96, 2)
    r = ocr_image(img, OCRConfig(drop_score=1.01))  # scores are <= 1.0
    assert (r.text, r.n_blocks, r.status) == ("", 0, "empty:dropped")
    assert r.boxes == [] and r.scores == []


def test_ocr_null_guard():
    r = extract_payload(None)
    assert (r.text, r.status) == (None, "error:null")
    r = extract_payload(b"\x89PNG\r\n\x1a\ntrunc")
    assert r.status == "error:decode"


def test_pdf_route():
    from ragflow_ocr_spark.kernels.pdf import build_image_pdf

    img, drawn = font5x7.render_page(["PDF PAGE ONE"], 960, 96, 2)
    r = extract_payload(build_image_pdf(img))
    assert r.status == "ok"
    assert r.text == "\n".join(drawn)


def test_jpeg_malformed_not_fatal():
    # jpeg is a real decode route now (kernels/imgcodecs.py); malformed
    # bytes must still land as a per-row error, never an exception
    r = extract_payload(b"\xff\xd8\xff\xe0fakejpeg")
    assert r.status == "error:decode"


def test_charset_blank_space_construction():
    assert REC_CHARSET[-1] == " "
    assert "A" in REC_CHARSET


def test_glyphs_have_no_internal_blank_columns():
    """Segmentation assumes every glyph's trimmed bbox has ink in each
    column — verify for the whole font."""
    for ch in font5x7.CHARSET:
        g = font5x7.glyph_grid(ch)
        cols = g.any(axis=0)
        nz = np.flatnonzero(cols)
        assert cols[nz[0] : nz[-1] + 1].all(), f"glyph {ch!r} has a gap"


def test_run_with_retry_recovers_and_exhausts():
    import numpy as np
    import pytest

    from ragflow_ocr_spark.kernels.infer import run_with_retry

    class Flaky:
        def __init__(self, fail_times):
            self.left = fail_times

        def run(self, x):
            if self.left > 0:
                self.left -= 1
                raise MemoryError("transient")
            return x * 2

    x = np.ones(3)
    # recovers within the reference's 4 attempts (ocr/ocr.py:343-350)
    assert (run_with_retry(Flaky(3), x) == 2).all()
    # exhausts after 4
    with pytest.raises(RuntimeError, match="after 4 attempts"):
        run_with_retry(Flaky(99), x)


def test_classify_batch_matches_scalar():
    """The shape-grouped batched glyph classifier must agree with the
    scalar `_classify` on every glyph of a rendered page (same class,
    same distance to float64 identity)."""
    import numpy as np

    from ragflow_ocr_spark.kernels import font5x7, stubnet

    img, _ = font5x7.render_page(
        ["THE QUICK BROWN FOX 0123456789", "jumps over, the lazy-dog!"],
        900,
        96,
        2,
    )
    gray = img.astype(np.float64) / 127.5 - 1.0
    ink = gray < 0.25
    sub, _, _ = stubnet._trim(ink)
    segs = stubnet._segment_line(sub)
    assert len(segs) > 20
    line_h = max(sub.shape[0] - 1, 1)
    jobs = []
    want = []
    for cs, ce, _sp in segs:
        seg = sub[:, cs:ce]
        want.append(stubnet._classify(seg, 0, sub.shape[0] - 1))
        g, r0, _ = stubnet._trim(seg)
        rel_cy = ((r0 + r0 + g.shape[0] - 1) / 2.0) / line_h
        rel_h = g.shape[0] / (line_h + 1)
        jobs.append((g, rel_cy, rel_h))
    got = stubnet._classify_batch(jobs)
    assert got == want
