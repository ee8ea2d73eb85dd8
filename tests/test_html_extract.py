"""Kernel tests for readability-style HTML extraction."""

from __future__ import annotations

import gzip
import json
import os
import random
import time
from dataclasses import dataclass, field
from html.parser import HTMLParser

from ragflow_ocr_spark.kernels import html_extract as hx
from ragflow_ocr_spark.kernels.html_extract import (
    _BLOCK_TAGS,
    _BOILERPLATE_SUBTREE,
    _SKIP_SUBTREE,
    _TAG_WEIGHT,
    _VOID,
    extract_html,
)


@dataclass(frozen=True)
class Knobs:
    """The kernel's four block-scoring constants: handed to the oracle,
    and patched into the kernel module by ``extract_with``."""

    min_block_score: float = hx.MIN_BLOCK_SCORE
    min_text_len: int = hx.MIN_TEXT_LEN
    link_density_max: float = hx.LINK_DENSITY_MAX
    neighbor_bonus: float = hx.NEIGHBOR_BONUS


def extract_with(data: bytes | None, knobs: Knobs) -> tuple[str | None, int, str]:
    """``extract_html`` run with the module constants set to ``knobs``."""
    saved = {name: getattr(hx, name.upper()) for name in vars(knobs)}
    try:
        for name, value in vars(knobs).items():
            setattr(hx, name.upper(), value)
        return extract_html(data)
    finally:
        for name, value in saved.items():
            setattr(hx, name.upper(), value)


ARTICLE = (
    b"<html><head><title>T</title><style>.x{}</style></head><body>"
    b"<header><h1>Site Brand</h1></header>"
    b'<nav><ul><li><a href="/">Home</a></li><li><a href="/a">About</a></li></ul></nav>'
    b"<article><h2>The Headline Here</h2>"
    b"<p>First paragraph of real content with plenty of words to be scored highly.</p>"
    b'<p>Second paragraph, one <a href="/r">link</a> but low link density overall here.</p>'
    b"</article>"
    b'<div class="sidebar"><ul><li><a href="/x">Rel 1</a></li><li><a href="/y">Rel 2</a></li></ul></div>'
    b'<footer><p>Copyright <a href="/tos">Terms</a> <a href="/p">Privacy</a></p></footer>'
    b"</body></html>"
)


def test_article_extracted_boilerplate_dropped():
    text, n, status = extract_html(ARTICLE)
    assert status == "ok"
    assert n == 3
    lines = text.split("\n")
    assert lines[0] == "The Headline Here"
    assert "Home" not in text and "Copyright" not in text
    assert "Site Brand" not in text  # header boilerplate


def test_null_and_empty():
    assert extract_html(None) == (None, 0, "error:null")
    assert extract_html(b"") == (None, 0, "error:null")


def test_only_boilerplate_is_empty():
    t, n, s = extract_html(b'<body><nav><a href="/">x</a></nav><footer>f</footer></body>')
    assert (t, n, s) == ("", 0, "empty")


def test_link_farm_dropped():
    farm = b"<div>" + b'<a href="/x">word word word</a> ' * 30 + b"</div>"
    t, n, s = extract_html(farm)
    assert s == "empty"


def test_whitespace_collapsed_deterministic():
    t, _, _ = extract_html(b"<p>a   lot\n\n of \t whitespace   in this paragraph text</p>")
    assert t == "a lot of whitespace in this paragraph text"


def test_misnested_tags_tolerated():
    bad = b"<div>" * 500 + b"<p>content paragraph that is long enough to pass scoring</p></span></div>"
    t, n, s = extract_html(bad)
    assert s == "ok"
    assert "content paragraph" in t


def test_non_utf8_replaced_not_fatal():
    t, n, s = extract_html(b"\xff\xfe<p>valid long paragraph content that survives decoding</p>\x81")
    assert s == "ok"
    assert "valid long paragraph" in t


def test_nested_blocks_no_double_count():
    html = b"<div><p>inner paragraph long enough to be kept by the scorer</p></div>"
    t, n, s = extract_html(html)
    assert n == 1
    assert t.count("inner paragraph") == 1


def test_br_becomes_space():
    t, _, _ = extract_html(b"<p>first part<br>second part of this long enough paragraph</p>")
    assert "first part second part" in t


def test_script_and_style_excluded():
    html = (
        b"<script>var x = 'scripted content that must never appear';</script>"
        b"<p>actual paragraph content long enough for keeping around</p>"
    )
    t, _, _ = extract_html(html)
    assert "scripted" not in t
    assert "actual paragraph" in t


def test_multi_megabyte_row():
    """A ~5 MB single-block page extracts correctly and boundedly (the
    worst realistic skew row is ~100x median; this is ~1000x)."""
    from ragflow_ocr_spark.kernels.html_extract import extract_html

    body = ("lorem ipsum dolor sit amet consectetur " * 20 + ". ") * 6000
    html = f"<html><body><article><p>{body}</p></article></body></html>".encode()
    assert len(html) > 4_000_000
    text, n, status = extract_html(html)
    assert status == "ok" and n == 1
    assert text == " ".join(body.split())


def test_unicode_torture():
    """CJK, emoji, RTL, combining marks survive byte-exact (UTF-8
    decode + whitespace collapse are the only transforms)."""
    from ragflow_ocr_spark.kernels.html_extract import extract_html

    s = "漢字テスト 🚀🎉 عربى עברית étude ligature ﬁ end of sentence here"
    html = f"<article><p>{s} {s} {s}</p></article>".encode()
    text, n, status = extract_html(html)
    assert status == "ok" and n == 1
    assert text == " ".join(f"{s} {s} {s}".split())


# --- differential oracle -------------------------------------------------
# ``_Block``, ``_OracleBlockParser``, ``_score`` and ``_oracle_extract_html``
# are the block record, HTMLParser subclass, score and extraction loop
# ``kernels/html_extract.py`` used before its own tokenizer, kept verbatim
# (only renamed, docstrings and comments trimmed) as the reference the
# tokenizer must reproduce event for event.


@dataclass
class _Block:
    tag: str
    order: int
    text_parts: list[str] = field(default_factory=list)
    link_chars: int = 0

    def text(self) -> str:
        return " ".join(" ".join(self.text_parts).split())


class _OracleBlockParser(HTMLParser):
    """Single pass over the document collecting block candidates."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self._stack: list[str] = []
        self._skip_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._open_blocks: list[_Block] = []
        self._order = 0

    # -- tag events -------------------------------------------------
    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        tag = tag.lower()
        if tag in _VOID:
            if tag == "br" and self._open_blocks:
                self._open_blocks[-1].text_parts.append(" ")
            return
        self._stack.append(tag)
        if tag in _SKIP_SUBTREE:
            self._skip_depth += 1
        if tag in _BOILERPLATE_SUBTREE:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS and not self._skip_depth and not self._boiler_depth:
            blk = _Block(tag=tag, order=self._order)
            self._order += 1
            self._open_blocks.append(blk)
            self.blocks.append(blk)

    def handle_endtag(self, tag):  # noqa: ANN001
        tag = tag.lower()
        if tag in _VOID:
            return
        # Pop to the matching open tag; tolerate misnesting by popping
        # everything above it (browsers do the same for block tags).
        if tag in self._stack:
            while self._stack:
                top = self._stack.pop()
                if top in _SKIP_SUBTREE:
                    self._skip_depth -= 1
                if top in _BOILERPLATE_SUBTREE:
                    self._boiler_depth -= 1
                if top == "a":
                    self._link_depth -= 1
                if (
                    top in _BLOCK_TAGS
                    and self._open_blocks
                    and self._open_blocks[-1].tag == top
                ):
                    self._open_blocks.pop()
                if top == tag:
                    break

    # -- text -------------------------------------------------------
    def handle_data(self, data):  # noqa: ANN001
        if self._skip_depth or self._boiler_depth:
            return
        if not data or not data.strip():
            return
        if self._open_blocks:
            blk = self._open_blocks[-1]
            blk.text_parts.append(data)
            if self._link_depth:
                blk.link_chars += len("".join(data.split()))


def _score(block: _Block, cfg: Knobs) -> float:
    txt = block.text()
    n = len(txt)
    if n == 0:
        return 0.0
    nonspace = len("".join(txt.split()))
    link_density = min(1.0, block.link_chars / nonspace) if nonspace else 1.0
    w = _TAG_WEIGHT.get(block.tag, 1.0)
    return n * (1.0 - link_density) ** 2 * w


def _oracle_extract_html(data: bytes | None, cfg: Knobs | None = None) -> tuple[str | None, int, str]:
    cfg = cfg or Knobs()
    if data is None or len(data) == 0:
        return None, 0, "error:null"
    try:
        text = data.decode("utf-8", errors="replace")
        parser = _OracleBlockParser()
        parser.feed(text)
        parser.close()
    except Exception:
        return None, 0, "error:parse"

    cands = [(b, _score(b, cfg)) for b in parser.blocks]
    scores = [s for _, s in cands]

    kept: list[str] = []
    for i, (b, s) in enumerate(cands):
        prev_s = scores[i - 1] if i > 0 else 0.0
        next_s = scores[i + 1] if i + 1 < len(scores) else 0.0
        eff = s + cfg.neighbor_bonus * (prev_s + next_s) / 2.0
        if eff < cfg.min_block_score:
            continue
        txt = b.text()
        if len(txt) < cfg.min_text_len and s < cfg.min_block_score:
            continue
        nonspace = len("".join(txt.split()))
        if nonspace:
            ld = b.link_chars / nonspace
            if ld > cfg.link_density_max:
                continue
        if txt:
            kept.append(txt)

    if not kept:
        return "", 0, "empty"
    return "\n".join(kept), len(kept), "ok"


# exposes every block, so a block-level difference cannot hide below a threshold
LOOSE = Knobs(min_block_score=0, min_text_len=0, link_density_max=1.0)
CONFIGS = (Knobs(), LOOSE)

# markup fragments the mutants splice in: every exact-path construct,
# the fast path's boundary shapes, and the characters "\s" matches but
# a stdlib tag name does not end at
_SPLICES = [
    s.encode("utf-8") if isinstance(s, str) else s
    for s in (
        "<", ">", "&", "&amp", "&amp;", "&#", "&#x41;", "&lt", "</", "</>", "<!--", "-->",
        "<?", "<?php x ?>", "<!DOCTYPE html>", "<!doctype", "<!x>", "<![CDATA[", "]]>",
        "<![ x", "<![if !IE]>", "<script>", "</SCRIPT >", "</script>", "<style>", "</style>",
        "<p/>", "<div />", "<a href='x>y'>", "<a href=x>", "<td width=100 nowrap>",
        "<input disabled>", '<a b="c"d="e">', "<a b = 'c'>", "<A HREF=\"/\">", "<DIV>", "</P>",
        "</div x>", "</ div>", "<p", "<nav>", "</nav>", "<a>", "</a>", "<br>", "<br/>",
        "<h1>", "</h1>", "<li>", "<svg/>", '"', "'", "=", "/", " ", "\n", "\t",
        "\x00", b"\xff", "\x1c", "\x1d", "\x1e", "\x1f", "\x0b", "\x85", "\xa0", "\u2028",
        "<a\x1ef=''>", "<p\x0b>", "<p\xa0x='y'>", "<p&amp;\x00",
        "<script>if (a < b) x = '</p>';</\u017fcript><p>still script</p></script>",
    )
]


def _mutant(rng: random.Random, base: bytes) -> bytes:
    lo = rng.randrange(len(base))
    buf = bytearray(base[lo : lo + rng.randint(40, 700)])
    for _ in range(rng.randint(1, 6)):
        pos = rng.randint(0, len(buf))
        op = rng.random()
        if op < 0.6:
            buf[pos:pos] = rng.choice(_SPLICES)
        elif op < 0.8:
            del buf[pos : pos + rng.randint(1, 8)]
        elif buf:
            buf[min(pos, len(buf) - 1)] ^= 1 << rng.randrange(8)
    return bytes(buf)


def _html_rows(row_ids) -> list[dict]:
    from ragflow_ocr_spark.spark import synth

    html_classes = ("html_simple", "html_boilerplate_heavy", "html_edge")
    return [synth.make_row(rid) for rid in row_ids if synth.row_class(rid) in html_classes]


def _assert_same(docs) -> None:
    for data in docs:
        for cfg in CONFIGS:
            got, want = extract_with(data, cfg), _oracle_extract_html(data, cfg)
            assert got == want, (data[:200], cfg)


def test_tokenizer_matches_htmlparser_oracle():
    """Same output as the HTMLParser oracle on the golden rows, two
    seeds of synthetic HTML, and 20k seeded tag-soup mutants."""
    golden_path = os.path.join(os.path.dirname(__file__), "goldens", "extract_150.json.gz")
    with gzip.open(golden_path) as f:
        golden = json.load(f)
    golden_rows = _html_rows(range(150))
    assert len(golden_rows) >= 90
    for row in golden_rows:
        assert list(extract_html(row["html"])) == golden[row["url"]]
    golden_docs = [row["html"] for row in golden_rows]
    synth_rows = _html_rows(range(100_000, 100_200)) + _html_rows(range(200_000, 200_200))
    _assert_same(golden_docs + [row["html"] for row in synth_rows])

    rng = random.Random(20251017)
    bases = golden_docs + [ARTICLE]
    mutants = [_mutant(rng, rng.choice(bases)) for _ in range(20_000)]
    _assert_same(mutants)
    statuses = {extract_with(m, LOOSE)[2] for m in mutants}
    assert {"ok", "empty", "error:parse"} <= statuses


def test_marked_section_error_is_parse_status():
    assert extract_html(b"<p>text here</p><![ x") == (None, 0, "error:parse")
    assert _oracle_extract_html(b"<p>text here</p><![ x") == (None, 0, "error:parse")


def test_unclosed_tags_with_stray_end_tags_stay_linear():
    """A page of unclosed <div>s and stray end tags used to cost a stack
    scan per end tag (3.8 s at 16k of each)."""
    def page(n: int) -> bytes:
        return b"<div>" * n + b"<p>kept paragraph with enough words to score</p>" + b"</span>" * n

    small = page(2_000)
    for cfg in CONFIGS:
        assert extract_with(small, cfg) == _oracle_extract_html(small, cfg)
    t0 = time.perf_counter()
    text, n, status = extract_html(page(100_000))
    assert time.perf_counter() - t0 < 5.0
    assert (text, n, status) == ("kept paragraph with enough words to score", 1, "ok")
