"""Oracle end-to-end extractor: one url → per-rule extraction records.

Single-node, sequential, dependency-free. This is the byte-identical truth
the Spark engine is tested against (BASELINE.json:14).

Pipeline (per document):
  E1 decode+strip (shared kernels) → E2 segment (shared kernel) → layout on
  the virtual text canvas → B1/B2 filters → D1/D2 main-block selection →
  H3-H7 window geometry → H16 span extraction → E3 tokenize/label/merge/pivot.

The *rendered text canvas*: each block hard-wraps at ``wrap_width`` chars per
line; blocks are separated by one blank line. Block bbox = (x=0,
y=start_line, w=max line length, h=line count); canvas = (max block width,
total lines). This is the coordinate space in which the reference's crop
geometry (thirds/golden points, optimal window, padding) operates unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass
from math import dist

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.kernels.normalize import decode_html, strip_noncontent
from py_image_toolkit_spark.kernels.segment import (
    PDF_MAGIC,
    extract_pdf_blocks,
    segment_html,
)
from py_image_toolkit_spark.oracle import geometry as G
from py_image_toolkit_spark.oracle.labeling import extract_fields


@dataclass
class LaidBlock:
    block_id: int
    tag: str
    text: str
    n_chars: int
    n_link_chars: int
    start_line: int
    n_lines: int
    max_w: int

    @property
    def score(self) -> float:
        return 1.0 - self.n_link_chars / self.n_chars

    @property
    def area(self) -> int:
        return self.max_w * self.n_lines

    @property
    def bbox_center(self) -> tuple[int, int]:
        # int(round()) per reference crop.py:159-161
        return (
            int(round(self.max_w / 2)),
            int(round(self.start_line + self.n_lines / 2)),
        )

    @property
    def top_center(self) -> tuple[int, int]:
        # the 'eye' reference-point analog: top-of-block anchor
        return (int(round(self.max_w / 2)), self.start_line)


def layout_blocks(
    blocks: list[dict], wrap: int, mode: str = "aspect"
) -> tuple[list[LaidBlock], int, int]:
    """Assign line geometry; returns (laid blocks, canvas_w, canvas_h).
    ``mode`` is the B8 normalization dispatch (reference resize.py:106-120):
    aspect (natural width) | fixed (every block wrap wide) | none (no wrap)."""
    laid: list[LaidBlock] = []
    line = 0
    canvas_w = 0
    for i, b in enumerate(blocks):
        text = b["text"]
        n_chars = len(text)
        if mode == "none":
            n_lines, max_w = 1, n_chars
        else:
            n_lines = (n_chars - 1) // wrap + 1
            if mode == "fixed":
                max_w = wrap
            else:  # aspect (and unknown-mode fallback, ≙ resize.py none-guard)
                max_w = wrap if n_lines > 1 else n_chars
        # positional arguments: the dataclass __init__ runs faster than with keywords
        laid.append(
            LaidBlock(i, b["tag"], text, n_chars, b["n_link_chars"], line, n_lines, max_w)
        )
        if max_w > canvas_w:
            canvas_w = max_w
        line += n_lines + 1  # one blank separator line after each block
    return laid, canvas_w, line


def block_lines(b: LaidBlock, wrap: int, mode: str = "aspect") -> list[str]:
    if mode == "none":
        return [b.text]
    return [b.text[i * wrap : (i + 1) * wrap] for i in range(b.n_lines)]


def render_lines(laid: list[LaidBlock], wrap: int, mode: str = "aspect") -> list[str]:
    lines: list[str] = []
    for b in laid:
        lines.extend(block_lines(b, wrap, mode))
        lines.append("")
    return lines


def select_main(
    candidates: list[LaidBlock], canvas_w: int, canvas_h: int, cfg: ExtractConfig
) -> LaidBlock:
    """D1/D2/D3 selection with the reference's first-wins tie-breaks."""
    if len(candidates) == 1:
        return candidates[0]
    if cfg.method == "center":
        center = (canvas_w / 2, canvas_h / 2)
        return min(candidates, key=lambda b: (dist(b.bbox_center, center), b.block_id))
    # 'largest' (and unknown-method fallback, reference crop.py:200-202)
    return max(candidates, key=lambda b: (b.area, -b.block_id))


def crop_text(lines: list[str], rect: tuple[int, int, int, int]) -> str:
    x1, y1, x2, y2 = rect
    return "\n".join([ln[x1:x2] for ln in lines[y1:y2]])


def char_span(lines: list[str], rect: tuple[int, int, int, int]) -> tuple[int, int]:
    """(start, end) offsets of the window into "\\n".join(lines). Only the
    lines above the window's last row are summed (each line is its length
    plus one newline)."""
    x1, y1, x2, y2 = rect
    top = sum(map(len, lines[:y1])) + y1
    last = top + sum(map(len, lines[y1 : y2 - 1])) + (y2 - 1 - y1)
    return top + min(x1, len(lines[y1])), last + min(x2, len(lines[y2 - 1]))


def _failure(url: str, rule: str, encoding: str, message: str) -> dict:
    return {
        "url": url,
        "rule": rule,
        "success": False,
        "message": message,
        "encoding": encoding,
        "n_blocks": 0,
        "canvas_w": 0,
        "canvas_h": 0,
        "main_block_id": None,
        "crop_x1": None, "crop_y1": None, "crop_x2": None, "crop_y2": None,
        "main_start": None, "main_end": None,
        "extracted_text": None,
        "document_title": None, "name": None, "address": None,
        "rrn": None, "issue_date": None, "issuer": None,
        "spans": [],
    }


def extract_document(url: str, html: bytes | None, cfg: ExtractConfig | None = None) -> list[dict]:
    """One document → one record per configured composition rule."""
    cfg = cfg or ExtractConfig()
    dec = decode_html(html)
    if not dec.success:
        return [_failure(url, r, dec.encoding, dec.message) for r in cfg.rules]

    if html is not None and html.startswith(PDF_MAGIC):
        raw_blocks = extract_pdf_blocks(html)
    else:
        raw_blocks = segment_html(strip_noncontent(dec.text))

    laid, canvas_w, canvas_h = layout_blocks(raw_blocks, cfg.wrap_width, cfg.norm_mode)
    candidates = [
        b
        for b in laid
        if b.max_w >= cfg.min_block_w
        and b.n_lines >= cfg.min_block_h
        and b.score >= cfg.min_score
    ]
    if not candidates:
        return [_failure(url, r, dec.encoding, "no blocks detected") for r in cfg.rules]

    main = select_main(candidates, canvas_w, canvas_h, cfg)
    ref_center = main.top_center if cfg.ref_point == "top" else main.bbox_center
    lines = render_lines(laid, cfg.wrap_width, cfg.norm_mode)
    ratio = G.parse_ratio(cfg.ratio)

    records: list[dict] = []
    for rule in cfg.rules:
        points = G.rule_points(canvas_w, canvas_h, rule)
        rect = G.optimal_crop(canvas_w, canvas_h, ref_center, points, ratio)
        if rect is None:
            rec = _failure(url, rule, dec.encoding, "degenerate window")
            rec["n_blocks"] = len(laid)
            rec["canvas_w"], rec["canvas_h"] = canvas_w, canvas_h
            rec["main_block_id"] = main.block_id
            records.append(rec)
            continue
        rect = G.apply_padding(rect, canvas_w, canvas_h, cfg.padding_percent)
        text = crop_text(lines, rect)
        start, end = char_span(lines, rect)
        fields = extract_fields(text.split())
        spans = [{"field": "main", "start": start, "end": end}]
        for f, v in fields.items():
            if v is None:
                continue
            first_tok = v.split(" ")[0]
            pos = text.find(first_tok)
            if pos >= 0:
                spans.append({"field": f, "start": pos, "end": pos + len(v)})
        records.append(
            {
                "url": url,
                "rule": rule,
                "success": True,
                "message": "" if not dec.message else dec.message,
                "encoding": dec.encoding,
                "n_blocks": len(laid),
                "canvas_w": canvas_w,
                "canvas_h": canvas_h,
                "main_block_id": main.block_id,
                "crop_x1": rect[0], "crop_y1": rect[1],
                "crop_x2": rect[2], "crop_y2": rect[3],
                "main_start": start, "main_end": end,
                "extracted_text": text,
                **fields,
                "spans": spans,
            }
        )
    return records


def extract_pages(rows, cfg: ExtractConfig | None = None) -> list[dict]:
    """Convenience: iterable of (url, html) or (url, html, warc_ts, lang) →
    flat record list, url-ordered. The optional metadata passes through
    verbatim onto every record for that url (H17, ≙ reference EXIF
    preservation on save)."""
    out: list[dict] = []
    for row in rows:
        url, html = row[0], row[1]
        warc_ts = row[2] if len(row) > 2 else None
        lang = row[3] if len(row) > 3 else None
        recs = extract_document(url, html, cfg)
        for r in recs:
            r["warc_ts"] = warc_ts
            r["lang"] = lang
        out.extend(recs)
    out.sort(key=lambda r: (r["url"], r["rule"]))
    return out
