"""Oracle geometry: sequential-Python port of the reference's verified
selection / composition math. The doc kernel runs it per document;
operators/select.py implements the same math as Column expressions (q13 vs
DuckDB), and tests/test_oracle_geometry.py asserts the two agree row for row.

Semantics preserved exactly, with the reference's quirks:
- ``int(round(x))`` everywhere — Python banker's rounding (engine: bround)
- ε = 1e-6 tie-break in aspect fitting (reference crop.py:302)
- rule-point list order + first-wins closest-point tie-breaks
- ``int()`` truncation (not rounding) in aspect-fit resize (reference
  resize.py:51-52)
"""

from __future__ import annotations

import math

_PHI_INV = (math.sqrt(5) - 1) / 2


def parse_ratio(ratio_str: str | None) -> float | None:
    """≙ reference crop.py:69-96 (B7): "W:H" | "F" | None; invalid → None."""
    if ratio_str is None or str(ratio_str).strip().lower() == "none":
        return None
    s = str(ratio_str).strip()
    try:
        if ":" in s:
            w_str, h_str = s.split(":")
            w, h = float(w_str), float(h_str)
            if w <= 0 or h <= 0:
                return None
            return w / h
        r = float(s)
        return r if r > 0 else None
    except ValueError:
        return None


def fit_dims(ow: int, oh: int, tw: int, th: int) -> tuple[int, int]:
    """≙ reference resize.py:41-69 (H1) aspect-fit with int() truncation."""
    if ow <= 0 or oh <= 0:
        return ow, oh
    if tw > 0 and th > 0:
        ratio = min(tw / ow, th / oh)
        return max(1, int(ow * ratio)), max(1, int(oh * ratio))
    if tw > 0:
        return tw, max(1, int(oh * (tw / ow)))
    if th > 0:
        return max(1, int(ow * (th / oh))), th
    return ow, oh


def rule_points(width: int, height: int, rule_type: str) -> list[tuple[int, int]]:
    """≙ reference crop.py:232-259 (H3/H4/H5), incl. list order."""
    if width <= 0 or height <= 0:
        return []
    if rule_type == "thirds":
        xs = (round(width / 3), round(2 * width / 3))
        ys = (round(height / 3), round(2 * height / 3))
    elif rule_type == "golden":
        xs = (round(width * (1 - _PHI_INV)), round(width * _PHI_INV))
        ys = (round(height * (1 - _PHI_INV)), round(height * _PHI_INV))
    else:
        return [(round(width / 2), round(height / 2))]
    # round(float) is int(round(x)): an int, banker's rounding
    return [(x, y) for x in xs for y in ys]


def optimal_crop(
    width: int,
    height: int,
    subject_center: tuple[int, int],
    points: list[tuple[int, int]],
    target_aspect: float | None,
) -> tuple[int, int, int, int] | None:
    """≙ reference crop.py:262-325 (H6): closest rule point (first-wins),
    largest window centered there fitting the aspect, round + clamp."""
    if width <= 0 or height <= 0 or not points:
        return None
    aspect = target_aspect if target_aspect is not None else width / height
    if aspect <= 0:
        return None
    # closest point, first wins ties. Squared integer distances are exact
    # and order the points as math.dist does (sqrt is monotonic and
    # correctly rounded); operators/select.py compares the same integers
    cx, cy = subject_center
    best = None
    for px, py in points:
        d = (px - cx) * (px - cx) + (py - cy) * (py - cy)
        if best is None or d < best:
            best, target_x, target_y = d, px, py

    max_w = 2 * min(target_x, width - target_x)
    max_h = 2 * min(target_y, height - target_y)
    if max_w <= 0 or max_h <= 0:
        return None

    crop_h_from_w = max_w / aspect
    if crop_h_from_w <= max_h + 1e-6:
        final_w, final_h = max_w, crop_h_from_w
    else:
        final_w, final_h = max_h * aspect, max_h

    x1_raw = target_x - final_w / 2.0
    y1_raw = target_y - final_h / 2.0
    x2_raw = x1_raw + final_w
    y2_raw = y1_raw + final_h

    x1, y1 = max(0, int(round(x1_raw))), max(0, int(round(y1_raw)))
    x2, y2 = min(width, int(round(x2_raw))), min(height, int(round(y2_raw)))
    if x1 >= x2 or y1 >= y2:
        return None
    return x1, y1, x2, y2


def apply_padding(
    coords: tuple[int, int, int, int], width: int, height: int, padding_percent: float
) -> tuple[int, int, int, int]:
    """≙ reference crop.py:328-353 (H7): symmetric pad, clamp, revert if
    degenerate."""
    if padding_percent <= 0:
        return coords
    x1, y1, x2, y2 = coords
    pad_x = int(round((x2 - x1) * padding_percent / 100.0 / 2.0))
    pad_y = int(round((y2 - y1) * padding_percent / 100.0 / 2.0))
    nx1, ny1 = max(0, x1 - pad_x), max(0, y1 - pad_y)
    nx2, ny2 = min(width, x2 + pad_x), min(height, y2 + pad_y)
    if nx1 >= nx2 or ny1 >= ny2:
        return coords
    return nx1, ny1, nx2, ny2
