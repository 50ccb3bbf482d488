"""E2 segmentation kernel: HTML → flat list of content blocks.

Graft of the reference's subject detection (reference crop.py:116-176,
``detect_faces_dnn``): each DOM block is a "detected subject" with a bbox in
the rendered-text coordinate space and a confidence score. The detector here
is a dependency-free ``html.parser``-based segmenter (this sandbox has no
lxml/selectolax/bs4); it runs once per document inside the doc kernel's
``mapInArrow`` stage (operators/doc_kernel.py), with no per-document parser
construction (≙ the reference's once-per-process detector init,
crop.py:613-615 — NOT its per-file engine construction anti-pattern,
ocr.py:108).

Output block record (the "face row", crop.py:163-171 analog):
    {"tag": str, "text": str (whitespace-collapsed), "n_link_chars": int}

Geometry (bbox, lines, canvas) is *derived* arithmetic computed downstream —
in pure Column expressions on the engine side, in plain Python in the oracle.
"""

from __future__ import annotations

import re
import zlib
from html import unescape
from html.parser import HTMLParser

# Tags that delimit blocks ("subjects"). Inline tags flow into the enclosing
# block; <a> content is tracked for link-density scoring.
BLOCK_TAGS = frozenset(
    {
        "p", "div", "article", "section", "main", "aside", "nav", "header",
        "footer", "blockquote", "pre", "li", "ul", "ol", "table", "tr", "td",
        "th", "h1", "h2", "h3", "h4", "h5", "h6", "title", "body",
    }
)

def ws_collapse(s: str) -> str:
    """Canonical whitespace: runs → single space, stripped. ``str.split``'s
    whitespace is the same set of code points as the regex ``\\s``."""
    return " ".join(s.split())


class _BlockSegmenter(HTMLParser):
    """Accumulates text runs into blocks delimited by BLOCK_TAGS boundaries."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._stack: list[str] = []
        self._pieces: list[tuple[str, bool]] = []  # (raw text, inside <a>)
        self._link_depth = 0

    def _flush(self) -> None:
        if not self._pieces:
            return
        raw = "".join(p for p, _ in self._pieces)
        text = ws_collapse(raw)
        if text:
            n_link = sum(len(ws_collapse(p)) for p, is_link in self._pieces if is_link)
            tag = self._stack[-1] if self._stack else "body"
            self.blocks.append({"tag": tag, "text": text, "n_link_chars": n_link})
        self._pieces = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._link_depth += 1
        elif tag == "br":
            self._pieces.append(("\n", self._link_depth > 0))
        elif tag in BLOCK_TAGS:
            self._flush()
            self._stack.append(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "br":
            self._pieces.append(("\n", self._link_depth > 0))

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in BLOCK_TAGS and tag in self._stack:
            self._flush()
            # lenient recovery on mismatched nesting: pop through `tag`
            while self._stack:
                if self._stack.pop() == tag:
                    break

    def handle_data(self, data: str) -> None:
        if data:
            self._pieces.append((data, self._link_depth > 0))

    def finish(self) -> list[dict]:
        self._flush()
        return self.blocks


def _segment_html_stdlib(html_text: str) -> list[dict]:
    """html.parser-driven segmentation — the reference semantics, and the
    fallback for anything the strict fast scanner below does not accept.

    Never raises on malformed markup — html.parser is lenient by design,
    mirroring the reference's skip-don't-die row handling (crop.py:133-136).
    """
    seg = _BlockSegmenter()
    try:
        seg.feed(html_text)
        seg.close()
    except Exception:  # noqa: BLE001 — malformed input yields partial blocks
        pass
    return seg.finish()


# --- fast path --------------------------------------------------------------
# One compiled regex tokenizes start/end tags in the STRICT agreement zone of
# html.parser and this scanner: plain tag names, well-formed (optionally
# quoted) attributes, '/>' immediately before '>'. Anything else — '<!', a
# bare '<' in text, exotic names, quote soup, CDATA elements — leaves an
# unconsumed '<' (or trips the pre-check) and routes the WHOLE document to
# the stdlib parser. About 4× faster than html.parser on the fixture
# corpus at byte-identical output — differential-tested on the corpus +
# fuzz inputs.

_FAST_TAG_RE = re.compile(
    r"<(?:"
    r"(/)\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*"  # end tag: groups 1 (slash), 2
    # start tag name: group 3. html.parser ends a start tag's name only at
    # ASCII space, tab, CR, LF, FF, '/' or '>' ('<p　x>' is one name
    # there), so any other character after it falls back
    r"|([a-zA-Z][-.a-zA-Z0-9:_]*)(?=[\t\n\r\f />])"
    r"(?:\s+[^\s>=/]+(?:\s*=\s*(?:\"[^\"<]*\"|'[^'<]*'|[^\s>'\"]*))?)*"  # attrs
    r"\s*(/?)"  # self-close: group 4
    r"|![a-zA-Z][^<>\[\]]*"  # simple declaration (<!DOCTYPE html>): no-op;
    # bracketed internal subsets fall back (html.parser scans them specially)
    r")>"
)
_CDATA_RE = re.compile(r"<(script|style)(?![a-zA-Z0-9-])", re.IGNORECASE)


def _segment_html_fast(s: str) -> list[dict] | None:
    """Strict-subset scanner; returns None when the input must fall back.

    The state machine is _BlockSegmenter's. One C-level ``split`` cuts the
    document into (tag groups, following text) rows, so the Python loop
    does one step per tag. Whitespace collapses once per block with
    ``str.split`` (its whitespace is exactly ``\\s``'s), and a block's link
    chars are summed as their runs arrive: each run inside ``<a>`` counts
    its own collapsed length, so "a " + " b" is 2 chars."""
    if _CDATA_RE.search(s):
        return None  # html.parser switches to CDATA mode inside these
    blocks: list[dict] = []
    stack: list[str] = []
    pieces: list[str] = []  # raw text runs of the open block
    link_chars: list[int] = []  # collapsed length of each run inside <a>
    link_depth = 0

    def flush(tag: str) -> None:
        text = " ".join("".join(pieces).split())
        if text:
            blocks.append({"tag": tag, "text": text, "n_link_chars": sum(link_chars)})
        pieces.clear()
        link_chars.clear()

    # a no-op row in front carries the text before the first tag
    rows = iter([None, None, None, None, *_FAST_TAG_RE.split(s)])
    for slash, end_name, name, self_close, seg in zip(rows, rows, rows, rows, rows):
        if slash:  # end tag
            tag = end_name.lower()
            if tag == "a":
                if link_depth:
                    link_depth -= 1
            elif tag in BLOCK_TAGS and tag in stack:
                if pieces:
                    flush(stack[-1])
                while stack.pop() != tag:  # lenient recovery: pop through tag
                    pass
        elif name is not None:  # start tag (None: declaration, a no-op)
            tag = name.lower()
            if tag == "br":
                pieces.append("\n")
            elif self_close:
                pass  # html.parser's startendtag: only <br/> does anything
            elif tag == "a":
                link_depth += 1
            elif tag in BLOCK_TAGS:
                if pieces:
                    flush(stack[-1] if stack else "body")
                stack.append(tag)
        if seg:
            if "<" in seg:
                return None  # a '<' the strict grammar could not consume
            if "&" in seg:
                seg = unescape(seg)
            pieces.append(seg)
            if link_depth:
                link_chars.append(len(" ".join(seg.split())))
    if pieces:
        flush(stack[-1] if stack else "body")
    return blocks


def segment_html(html_text: str) -> list[dict]:
    """Parse stripped HTML into an ordered list of content blocks.

    Dispatcher: the strict fast scanner when the document is inside the
    parsers' agreement zone, else the stdlib html.parser — externally the
    two are byte-identical (tests/test_kernels.py differential + fuzz)."""
    out = _segment_html_fast(html_text)
    if out is None:
        return _segment_html_stdlib(html_text)
    return out


# --- PDF branch (north rule: application/pdf payloads) ----------------------
# Minimal layout-order text extraction for the deterministic PDFs produced by
# fixtures.py (closed world, SURVEY.md §7.4.6): BT…ET text objects with
# (…)Tj / […]TJ show operators, optionally inside FlateDecode streams.

PDF_MAGIC = b"%PDF-"

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
# a (…) string operand, unrolled: runs of plain bytes between escape pairs,
# so each byte is one charset step, with no backtracking between branches
_PAREN_RE = re.compile(rb"\([^\\()]*(?:\\.[^\\()]*)*\)", re.DOTALL)

_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}
_PDF_ESCAPE_RE = re.compile(rb"\\.", re.DOTALL)
# every backslash pair → its replacement; an unknown escape drops the backslash
_PDF_UNESCAPED = {
    b"\\" + bytes([c]): _PDF_ESCAPES.get(bytes([c]), bytes([c])) for c in range(256)
}


def _unescape_pdf_string(raw: bytes) -> str:
    """The body of a ``(…)`` string operand, unescaped and UTF-8 decoded.

    One C-level ``sub`` replaces each backslash pair through
    ``_PDF_UNESCAPED``; a lone trailing backslash has no pair and stays."""
    return _PDF_ESCAPE_RE.sub(
        lambda m: _PDF_UNESCAPED[m.group()], raw[1:-1]
    ).decode("utf-8", errors="replace")


def _text_objects(buf: bytes) -> list[bytes]:
    """The bodies of ``buf``'s BT…ET text objects, in order: what
    ``re.finditer(rb"BT(.*?)ET", buf, re.DOTALL)`` captures, found with
    ``bytes.find`` in one linear pass."""
    bodies = []
    i = buf.find(b"BT")
    while i >= 0:
        j = buf.find(b"ET", i + 2)
        if j < 0:
            break  # no later BT has an ET after it either
        bodies.append(buf[i + 2 : j])
        i = buf.find(b"BT", j + 2)
    return bodies


def extract_pdf_blocks(data: bytes) -> list[dict]:
    """Layout-order text blocks from a PDF payload: one block per BT…ET
    object, runs within an object joined by a single space."""
    buffers = [data]
    for m in _STREAM_RE.finditer(data):
        raw = m.group(1)
        try:
            buffers.append(zlib.decompress(raw))
        except zlib.error:
            continue
    blocks: list[dict] = []
    for buf in buffers:
        for body in _text_objects(buf):
            runs = [_unescape_pdf_string(p) for p in _PAREN_RE.findall(body)]
            text = ws_collapse(" ".join(runs))
            if text:
                blocks.append({"tag": "pdf", "text": text, "n_link_chars": 0})
    return blocks
