"""Frozen pipeline configuration (≙ reference J4: the argparse.Namespace that
the batch drivers re-serialize to argv per subprocess, reference
resizes.py:18-34 — here a dataclass captured once in task closures)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    """Knobs for the E1→E3 extraction pipeline.

    Defaults mirror the reference's CLI defaults where an analog exists.
    """

    # E2 rendering: hard-wrap width of the virtual text canvas (chars/line).
    wrap_width: int = 80
    # E1 normalization mode (B8 ≙ reference resize.py:106-120 mode dispatch
    # aspect_ratio|fixed|none):
    #  - "aspect": wrap at wrap_width; a block keeps its natural width
    #    (max_w = text length when it fits on one line) — aspect-preserving
    #  - "fixed": wrap at wrap_width; every block is laid at exactly
    #    wrap_width wide (max_w = wrap_width) — fixed-size normalization,
    #    geometry distorts like a fixed resize
    #  - "none": no wrapping — every block is a single canvas line
    norm_mode: str = "aspect"
    # B1 min subject size (≙ crop.py min face w/h filter, crop.py:144-145)
    min_block_w: int = 5
    min_block_h: int = 1
    # B2 confidence threshold (≙ crop.py:690 score 0.6); here the block score
    # is 1 - link_density (fraction of non-anchor text).
    min_score: float = 0.6
    # D1/D2 main-subject selection (≙ crop.py:179-229 'largest'|'center')
    method: str = "largest"
    # reference point (≙ 'box'|'eye', crop.py:215-221): 'box' = block bbox
    # center, 'top' = block top-center anchor (the eye-center analog).
    ref_point: str = "box"
    # composition rules fan-out (≙ crop.py:526-533 thirds|golden|both)
    rules: tuple[str, ...] = ("thirds", "golden")
    # target aspect ratio string "W:H"|"F"|None (≙ crop.py:69-96)
    ratio: str | None = None
    # padding percent (≙ crop.py:328-353)
    padding_percent: float = 0.0
