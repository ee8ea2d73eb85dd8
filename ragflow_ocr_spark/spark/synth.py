"""Deterministic synthetic Common-Crawl-style `pages` table.

Schema per BASELINE.json ``input_hint``:
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Row classes and weights follow FIXTURES.md §1. Every row is a pure
function of its integer id (numpy ``SeedSequence(GLOBAL_SEED, row_id)``)
— generation is embarrassingly parallel and identical at any
partitioning, which is what makes goldens and the two-parallelism bench
comparable. Generation runs distributed via ``spark.range(n) →
mapInPandas`` so the 10^9-row bench slice never funnels through the
driver.

The truth generator also emits, where constructively known, the
expected extraction output (``expected_text``) — the ground-truth side
of the byte-identity contract. For adversarial rows (html_edge) the
expectation is regression-only (NULL here; goldens pinned by test).
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from ragflow_ocr_spark.kernels import font5x7, pngcodec
from ragflow_ocr_spark.spark.worker import keep_runtime_zip_caches

GLOBAL_SEED = 42
EPOCH = datetime(2025, 10, 17, tzinfo=timezone.utc)

_WORDS = (
    "the quick brown fox jumps over lazy dog spark engine data page "
    "content extract web crawl text block main article scale shuffle "
    "partition cluster worker node batch arrow vector column row group "
    "join filter map reduce sort hash range broadcast salt skew merge"
).split()

_LANGS = ["en", "zh", "de", None]

# class thresholds over u ∈ [0,1): html_simple 40%, boiler 20%,
# edge 10%, png 15%, pdf 10%, null 5%  (FIXTURES.md §1)
_CLASS_EDGES = [
    (0.40, "html_simple"),
    (0.60, "html_boilerplate_heavy"),
    (0.70, "html_edge"),
    (0.85, "image_png"),
    (0.95, "pdf_stub"),
    (1.01, "null_invalid"),
]


def _rng(row_id: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([GLOBAL_SEED, row_id]))


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def _sentence(rng: np.random.Generator) -> str:
    w = _words(rng, int(rng.integers(8, 18)))
    return w[0].upper() + w[1:] + "."


def _paragraph(rng: np.random.Generator) -> str:
    return " ".join(_sentence(rng) for _ in range(int(rng.integers(2, 5))))


def _nav_html(rng: np.random.Generator) -> str:
    items = "".join(
        f'<li><a href="/{w}">{w.capitalize()}</a></li>'
        for w in rng.choice(_WORDS, 6, replace=False)
    )
    return f"<nav><ul>{items}</ul></nav>"


def _footer_html(rng: np.random.Generator) -> str:
    return (
        '<footer><p>Copyright 2025 <a href="/tos">Terms</a> '
        '<a href="/privacy">Privacy</a> <a href="/contact">Contact</a></p></footer>'
    )


def _sidebar_html(rng: np.random.Generator) -> str:
    items = "".join(
        f'<li><a href="/rel/{i}">{_words(rng, 3)}</a></li>' for i in range(8)
    )
    return f'<div class="sidebar related"><ul>{items}</ul></div>'


def _make_html_simple(rng: np.random.Generator) -> tuple[bytes, str]:
    headline = _words(rng, int(rng.integers(4, 8))).title()
    paras = [_paragraph(rng) for _ in range(int(rng.integers(3, 11)))]
    body = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        f"<html><head><title>{headline}</title></head><body>"
        f"<header><h1>Site Brand</h1></header>{_nav_html(rng)}"
        f"<article><h2>{headline}</h2>{body}</article>"
        f"{_footer_html(rng)}</body></html>"
    )
    expected = "\n".join([headline] + paras)
    return html.encode("utf-8"), expected


def _make_html_boiler(rng: np.random.Generator) -> tuple[bytes, str]:
    headline = _words(rng, int(rng.integers(4, 8))).title()
    paras = [_paragraph(rng) for _ in range(int(rng.integers(2, 5)))]
    body = "".join(f"<p>{p}</p>" for p in paras)
    menus = "".join(_nav_html(rng) for _ in range(3))
    sidebars = "".join(_sidebar_html(rng) for _ in range(4))
    comments = "".join(
        f'<aside class="comment"><p>{_sentence(rng)}</p></aside>' for _ in range(6)
    )
    html = (
        f"<html><body><header><h1>Portal</h1>{menus}</header>"
        f"{sidebars}<article><h2>{headline}</h2>{body}</article>"
        f"{comments}{_footer_html(rng)}{_footer_html(rng)}</body></html>"
    )
    expected = "\n".join([headline] + paras)
    return html.encode("utf-8"), expected


def _make_html_edge(rng: np.random.Generator, row_id: int) -> tuple[bytes | None, str | None]:
    kind = row_id % 5
    if kind == 0:  # empty body
        return b"<html><head><title>x</title></head><body></body></html>", ""
    if kind == 1:  # only boilerplate
        return (
            f"<html><body>{_nav_html(rng)}{_footer_html(rng)}</body></html>".encode(),
            "",
        )
    if kind == 2:  # malformed tags
        p = _paragraph(rng)
        return (
            f"<html><body><div><p>{p}<div></span></p></body>".encode(),
            None,  # regression-only
        )
    if kind == 3:  # non-UTF8 bytes around valid content
        p = _paragraph(rng)
        return b"\xff\xfe\x00" + f"<p>{p}</p>".encode("utf-8") + b"\x81\x82", None
    # kind == 4: huge single block (skew row, ~100x median)
    big = _paragraph(rng) * 200
    return f"<html><body><article><p>{big}</p></article></body></html>".encode(), big


def _make_image_png(rng: np.random.Generator) -> tuple[bytes, str]:
    n_lines = int(rng.integers(2, 6))
    lines = [
        font5x7.sanitize(_words(rng, int(rng.integers(3, 7))).upper())
        for _ in range(n_lines)
    ]
    height = 64 + 32 * n_lines
    # canvas sized to content (multiple of 32, capped at 960) — page
    # images in the wild aren't uniformly huge, and det cost ∝ pixels
    needed = max(
        (sum(font5x7.SPACE_ADVANCE if c == " " else font5x7.ADVANCE for c in ln) * 2 for ln in lines), default=64
    )
    width = min(960, max(128, ((needed + 2 * 24 + 31) // 32) * 32))
    img, drawn = font5x7.render_page(lines, width=width, height=height, scale=2)
    return pngcodec.encode_png(img), "\n".join(drawn)


def _make_pdf_stub(rng: np.random.Generator) -> tuple[bytes, str]:
    """Real single-page PDF (kernels/pdf.py writer): scanned-page shape
    with a FlateDecode'd gray image XObject drawn via Do. The expected
    text is the rendered page's ground truth, same as the PNG class."""
    from ragflow_ocr_spark.kernels import pdf as pdfmod

    png, expected = _make_image_png(rng)
    page_img = pngcodec.decode_png(png)
    return pdfmod.build_image_pdf(page_img, filter_="flate"), expected


def _make_null_invalid(rng: np.random.Generator, row_id: int) -> tuple[bytes | None, None]:
    kind = row_id % 3
    if kind == 0:
        return None, None
    if kind == 1:
        return b"", None
    return b"\x89PNG\r\n\x1a\n\x00\x00trunc", None  # truncated image


def row_class(row_id: int) -> str:
    # KNOWN QUIRK, kept deliberately: this draws from the stream
    # _rng(2·row_id+1), which is also make_row(2·row_id+1)'s stream —
    # so class(r) and row 2r+1's first attribute draw share bits.
    # Harmless for this corpus's uses (each row's OWN class and
    # attributes stay independent; nothing stratifies across rows),
    # and changing the seed now would re-pin every golden and reset
    # the bench-corpus history. A future corpus v2 should namespace
    # the seed (e.g. SeedSequence([SEED, row_id, 1])).
    u = float(_rng(row_id * 2 + 1).random())
    for edge, name in _CLASS_EDGES:
        if u < edge:
            return name
    return "null_invalid"


def make_row(row_id: int) -> dict:
    """One deterministic pages row (+ truth columns)."""
    rng = _rng(row_id)
    cls = row_class(row_id)
    site = row_id % 1000
    url = f"https://site{site:04d}.example/p/{row_id:09d}"
    ts = EPOCH + timedelta(seconds=int(rng.integers(0, 86400)))
    lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
    pre_text = None
    if rng.random() < 0.3:
        pre_text = _sentence(rng)

    if cls == "html_simple":
        html, expected = _make_html_simple(rng)
    elif cls == "html_boilerplate_heavy":
        html, expected = _make_html_boiler(rng)
    elif cls == "html_edge":
        html, expected = _make_html_edge(rng, row_id)
    elif cls == "image_png":
        html, expected = _make_image_png(rng)
    elif cls == "pdf_stub":
        html, expected = _make_pdf_stub(rng)
    else:
        html, expected = _make_null_invalid(rng, row_id)

    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": pre_text,
        "lang": lang,
        "row_class": cls,
        "expected_text": expected,
    }


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TRUTH_SCHEMA = PAGES_SCHEMA + ", row_class string, expected_text string"


def truth_batch(ids: list[int]) -> pd.DataFrame:
    rows = [make_row(i) for i in ids]
    return pd.DataFrame(
        rows,
        columns=[
            "url", "warc_ts", "html", "text", "lang", "row_class", "expected_text",
        ],
    )


def pages_df(spark, n_rows: int, with_truth: bool = False, partitions: int | None = None):
    """Distributed deterministic generation: spark.range → mapInPandas."""
    schema = TRUTH_SCHEMA if with_truth else PAGES_SCHEMA
    cols = None if with_truth else ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_runtime_zip_caches()
        for b in batches:
            out = truth_batch(b["id"].tolist())
            yield out if cols is None else out[cols]

    rng_df = spark.range(0, n_rows, 1, partitions or max(2, n_rows // 2000))
    return rng_df.mapInPandas(gen, schema=schema)


def write_pages(spark, n_rows: int, path: str, partitions: int | None = None) -> None:
    pages_df(spark, n_rows, partitions=partitions).write.mode("overwrite").parquet(path)
