"""Readability-style main-content extraction over raw HTML bytes.

This is the webtext graft of the reference's detect→score→filter→order
→emit pipeline shape (SURVEY.md §2.11):

    reference (images)                 this kernel (HTML)
    ------------------                 ------------------
    contours        (postprocess.py:125-130)  block-level elements
    box_score_fast  (postprocess.py:194-209)  text/link-density score
    box_thresh filter (postprocess.py:142-147) score >= tau + smoothing
    sorted_boxes    (ocr/ocr.py:467-488)      document order
    text zip        (ocr/ocr.py:566-571)      "\n".join(block texts)

Parsing is a single-pass tokenizer (``_parse_blocks``) that produces
exactly the start-tag, end-tag and data events of
``HTMLParser(convert_charrefs=True).feed(text); close()`` on CPython
3.11 and drives the block state inline. lxml is not available in this
environment, and the per-url extracted text is the byte-identity
contract, so the tokenizer is pinned to the stdlib parser's events, not
to the HTML5 spec:

- a fast path matches the common tokens with one regex call each: text
  runs, start tags with an ASCII name and quoted attribute values, and
  end tags;
- every other construct (script/style content, comments, ``<?``,
  ``<!``, bogus or unterminated tags, unquoted attributes, a ``<``
  that opens nothing) takes one step transliterated from
  ``HTMLParser.goahead``, ``parse_starttag`` and ``parse_endtag``,
  using the stdlib's own regexes and ``_markupbase`` scanners, so
  ``<![ x`` still raises and the row reads ``error:parse``.

``tests/test_html_extract.py::test_tokenizer_matches_htmlparser_oracle``
holds the equivalence: it keeps the ``HTMLParser`` subclass this module
used before as an oracle and compares outputs on the goldens, the
synthetic corpus and seeded tag-soup mutants.

Determinism rules (pinned):
- bytes are decoded as UTF-8 with ``errors="replace"``;
- whitespace inside a block collapses to single spaces, stripped;
- blocks are emitted in document order, joined with ``"\n"``;
- entity refs in text are resolved by ``html.unescape``, one call per
  text run, as ``convert_charrefs=True`` does.
"""

from __future__ import annotations

import re
from _markupbase import ParserBase
from _markupbase import _commentclose as _COMMENT_CLOSE
from html import unescape
from html.parser import attrfind_tolerant as _ATTR_FIND
from html.parser import endendtag as _END_GT
from html.parser import endtagfind as _ENDTAG_FIND
from html.parser import locatestarttagend_tolerant as _STARTTAG_END
from html.parser import piclose as _PI_CLOSE
from html.parser import starttagopen as _STARTTAG_OPEN
from html.parser import tagfind_tolerant as _TAG_FIND

# Readability-style block scoring knobs (ours — SURVEY.md §2.11).
MIN_BLOCK_SCORE = 10.0  # density threshold τ
MIN_TEXT_LEN = 10  # blocks shorter than this never win alone
LINK_DENSITY_MAX = 0.5  # blocks above this are boilerplate
NEIGHBOR_BONUS = 0.3  # smoothing weight from adjacent blocks

# Tags whose entire subtree is never content.
_SKIP_SUBTREE = frozenset(
    {"script", "style", "noscript", "template", "svg", "iframe", "head"}
)
# Landmark tags whose subtree is boilerplate by construction.
_BOILERPLATE_SUBTREE = frozenset({"nav", "footer", "aside", "header"})
# Tags that open a new text block (document-order candidates).
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "td", "li", "h1", "h2", "h3", "h4", "h5", "h6",
        "article", "section", "blockquote", "pre", "main", "figcaption",
        "dd", "dt", "caption", "summary",
    }
)
# Void elements never get a matching end tag (HTML5 spec list).
_VOID = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)
# Heading/content tags get a score boost so short titles survive.
_TAG_WEIGHT = {
    "h1": 2.0, "h2": 1.8, "h3": 1.6, "h4": 1.4, "h5": 1.3, "h6": 1.2,
    "p": 1.5, "article": 1.5, "blockquote": 1.4, "pre": 1.4,
    "li": 0.8, "td": 0.8,
}

# Event kinds. The fast-path kinds are the token regex's group numbers,
# read off ``Match.lastindex``; the bare "<" alternative (any other
# markup) has no group, so its lastindex is None.
_DATA, _START, _END, _NONE = 1, 3, 4, 0

# Fast path: one match per token, only shapes whose stdlib parse is
# known. A start tag's name must end at ASCII whitespace, "/" or ">":
# the stdlib name runs to [\t\n\r\f />\x00] only, so a "\s"-class
# terminator (\x0b, \x1c-\x1f, \x85, \xa0, \u2028, ...) would split
# "<a\x1ef=''>" differently. Anything else fails to match and takes the
# exact step.
_TOKEN = re.compile(
    r"([^<]+)"
    r"|<([a-zA-Z][-a-zA-Z0-9]*)"
    r"(?:[ \t\n\r\f]+[a-zA-Z_:][-a-zA-Z0-9_:.]*=(?:\"[^\"]*\"|'[^']*'))*"
    r"[ \t\n\r\f]*(/?)>"
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|<"
)
# HTMLParser.set_cdata_mode's end-of-content patterns.
_CDATA_END = {
    tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")
}


class _Declarations(ParserBase):
    """The stdlib's marked-section scanner (``<![``) over one document."""

    def __init__(self, rawdata: str) -> None:
        self.rawdata = rawdata
        self.reset()


class _Block:
    """A block candidate: its data chunks, and how many of their
    non-space characters sit inside links."""

    __slots__ = ("tag", "text_parts", "link_chars")

    def __init__(self, tag: str) -> None:
        self.tag = tag
        self.text_parts: list[str] = []
        self.link_chars = 0

    def text(self) -> str:
        return " ".join(" ".join(self.text_parts).split())


def _unterminated(text: str, i: int) -> tuple[int, int, str, bool]:
    """``goahead``'s fallback at EOF for markup with no end: the text up
    to the next ``>`` (or ``<``, or just the ``<``) becomes data."""
    k = text.find(">", i + 1)
    if k < 0:
        k = text.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    return k, _DATA, unescape(text[i:k]), False


def _starttag_end(text: str, i: int) -> int:
    """``HTMLParser.check_for_whole_start_tag``: end of the tag at ``i``,
    or -1 when it is unterminated."""
    j = _STARTTAG_END.match(text, i).end()
    nxt = text[j : j + 1]
    if nxt == ">":
        return j + 1
    if nxt == "/":
        return j + 2 if text.startswith("/>", j) else -1
    if nxt == "" or nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        return -1
    return j


def _markup_step(text: str, i: int) -> tuple[int, int, str, bool]:
    """One ``goahead`` step at ``text[i] == "<"`` outside script/style
    content: ``(next_i, kind, tag_or_data, self_closing)``."""
    if _STARTTAG_OPEN.match(text, i):  # parse_starttag
        endpos = _starttag_end(text, i)
        if endpos < 0:
            return _unterminated(text, i)
        m = _TAG_FIND.match(text, i + 1)
        k = m.end()
        tag = m.group(1).lower()
        while k < endpos:
            m = _ATTR_FIND.match(text, k)
            if not m:
                break
            k = m.end()
        end = text[k:endpos].strip()
        if end not in (">", "/>"):
            return endpos, _DATA, text[i:endpos], False
        return endpos, _START, tag, end == "/>"
    if text.startswith("</", i):  # parse_endtag
        m = _END_GT.search(text, i + 1)
        if not m:
            return _unterminated(text, i)
        gtpos = m.end()
        m = _ENDTAG_FIND.match(text, i)
        if m:
            return gtpos, _END, m.group(1).lower(), False
        m = _TAG_FIND.match(text, i + 2)
        if not m:
            if text.startswith("</>", i):
                return i + 3, _NONE, "", False
            return text.find(">", i + 2) + 1, _NONE, "", False  # bogus comment
        return text.find(">", m.end()) + 1, _END, m.group(1).lower(), False
    if text.startswith("<!--", i):
        m = _COMMENT_CLOSE.search(text, i + 4)
        k = m.end() if m else -1
    elif text.startswith("<?", i):
        m = _PI_CLOSE.search(text, i + 2)
        k = m.end() if m else -1
    elif text.startswith("<![", i):
        k = _Declarations(text).parse_marked_section(i, report=0)
    elif text.startswith("<!", i):
        if text[i : i + 9].lower() == "<!doctype":
            k = text.find(">", i + 9)
        else:  # bogus comment
            k = text.find(">", i + 2)
        if k >= 0:
            k += 1
    else:  # a "<" that opens nothing is text
        return i + 1, _DATA, "<", False
    if k < 0:
        return _unterminated(text, i)
    return k, _NONE, "", False


def _cdata_end(text: str, i: int, tag: str) -> int:
    """Position after the end tag that closes script/style content
    starting at ``i``, or -1 when the content runs to EOF
    (``HTMLParser``'s CDATA mode)."""
    find_end = _CDATA_END[tag].search
    while True:
        m = find_end(text, i)
        if m is None:
            return -1
        j = m.start()
        i = _END_GT.search(text, j + 1).end()
        m = _ENDTAG_FIND.match(text, j)
        if m is not None and m.group(1).lower() == tag:
            return i


def _parse_blocks(text: str) -> list[_Block]:
    """Single pass over the document collecting block candidates."""
    blocks: list[_Block] = []
    stack: list[str] = []
    # open elements per tag name: end tags match without scanning the stack
    open_count: dict[str, int] = {}
    open_blocks: list[_Block] = []
    skip_depth = boiler_depth = link_depth = 0
    finditer = _TOKEN.finditer
    i, n = 0, len(text)
    while i < n:
        # the token stream restarts at ``resume`` after an exact step or
        # script/style content; -1 while it runs on
        resume = -1
        for m in finditer(text, i):
            kind = m.lastindex
            if kind == _DATA:
                if skip_depth or boiler_depth or not open_blocks:
                    continue
                data = m[1]
                if "&" in data:
                    data = unescape(data)
            elif kind == _START:
                tag = m[2].lower()
                slash = m[3]
            elif kind == _END:
                tag = m[4].lower()
            else:
                resume, kind, tag, slash = _markup_step(text, m.start())
                if kind == _DATA:
                    if skip_depth or boiler_depth or not open_blocks:
                        break
                    data = tag

            if kind == _DATA:
                if not data.isspace():
                    blk = open_blocks[-1]
                    blk.text_parts.append(data)
                    if link_depth:
                        blk.link_chars += len("".join(data.split()))
            elif kind == _START:
                if tag not in _VOID:  # void elements have no content or end tag
                    stack.append(tag)
                    open_count[tag] = open_count.get(tag, 0) + 1
                    if tag in _SKIP_SUBTREE:
                        skip_depth += 1
                    if tag in _BOILERPLATE_SUBTREE:
                        boiler_depth += 1
                    if tag == "a":
                        link_depth += 1
                    if tag in _BLOCK_TAGS and not skip_depth and not boiler_depth:
                        blk = _Block(tag)
                        open_blocks.append(blk)
                        blocks.append(blk)
                    if tag in _CDATA_END and not slash:
                        # script/style content: only its own end tag is
                        # markup, and it is inside a skipped subtree, so
                        # none of it is data
                        resume = _cdata_end(text, resume if resume >= 0 else m.end(), tag)
                        if resume < 0:
                            return blocks
                        slash = True
                    if slash:  # "<tag/>" is a start tag and its end tag
                        kind = _END
            if kind == _END and open_count.get(tag):  # void tags are never open
                # pop to the matching open tag; tolerate misnesting by popping
                # everything above it (browsers do the same for block tags)
                while stack:
                    top = stack.pop()
                    open_count[top] -= 1
                    if top in _SKIP_SUBTREE:
                        skip_depth -= 1
                    if top in _BOILERPLATE_SUBTREE:
                        boiler_depth -= 1
                    if top == "a":
                        link_depth -= 1
                    if top in _BLOCK_TAGS and open_blocks and open_blocks[-1].tag == top:
                        open_blocks.pop()
                    if top == tag:
                        break
            if resume >= 0:
                break
        else:
            return blocks
        i = resume
    return blocks


def _score(block: _Block, txt: str) -> float:
    """Text-density × (1 − link-density)² × tag weight.

    Analogue of the reference's mean-probability box score
    (``/root/reference/ocr/postprocess.py:194-209``): a scalar per
    candidate thresholded downstream. ``txt`` is ``block.text()``.
    """
    n = len(txt)
    if n == 0:
        return 0.0
    nonspace = n - txt.count(" ")  # words are joined by single spaces
    link_density = min(1.0, block.link_chars / nonspace) if nonspace else 1.0
    w = _TAG_WEIGHT.get(block.tag, 1.0)
    return n * (1.0 - link_density) ** 2 * w


def extract_html(data: bytes | None) -> tuple[str | None, int, str]:
    """bytes → (extracted_text | None, n_blocks, status).

    status ∈ {"ok", "empty", "error:null", "error:parse"}. Never raises
    — the null/invalid guard mirrors the reference returning
    ``(None, None, time_dict)`` on a bad image
    (``/root/reference/ocr/ocr.py:540-541``).
    """
    if data is None or len(data) == 0:
        return None, 0, "error:null"
    try:
        blocks = _parse_blocks(data.decode("utf-8", errors="replace"))
    except Exception:
        return None, 0, "error:parse"

    # Leaf-preference: a block whose text is fully contained in a later
    # (nested) block would double-count; since nested blocks open after
    # their parent and text goes to the innermost open block only
    # (data appends to the top of open_blocks), containers with
    # no direct text naturally score 0. No extra dedup pass needed.
    texts = [b.text() for b in blocks]
    scores = [_score(b, txt) for b, txt in zip(blocks, texts)]

    kept: list[str] = []
    for i, (b, txt) in enumerate(zip(blocks, texts)):
        if not txt:
            continue
        s = scores[i]
        prev_s = scores[i - 1] if i > 0 else 0.0
        next_s = scores[i + 1] if i + 1 < len(scores) else 0.0
        eff = s + NEIGHBOR_BONUS * (prev_s + next_s) / 2.0
        if eff < MIN_BLOCK_SCORE:
            continue
        if len(txt) < MIN_TEXT_LEN and s < MIN_BLOCK_SCORE:
            continue
        nonspace = len(txt) - txt.count(" ")
        if nonspace:
            ld = b.link_chars / nonspace
            if ld > LINK_DENSITY_MAX:
                continue
        kept.append(txt)

    if not kept:
        return "", 0, "empty"
    return "\n".join(kept), len(kept), "ok"
