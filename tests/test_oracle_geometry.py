"""Oracle geometry vs values verified by executing the reference's pure
functions (SURVEY.md §2 H1-H7 'verified' notes), and the Column form of the
same math (operators/select.py) vs the oracle row for row."""

import random

from py_image_toolkit_spark.oracle import geometry as G


def test_rule_points_thirds_verified():
    # reference crop.py:240-245 — verified: 1200×900
    assert G.rule_points(1200, 900, "thirds") == [
        (400, 300), (400, 600), (800, 300), (800, 600)
    ]


def test_rule_points_golden_verified():
    # reference crop.py:246-250 — verified: 1200×900
    assert G.rule_points(1200, 900, "golden") == [
        (458, 344), (458, 556), (742, 344), (742, 556)
    ]


def test_rule_points_unknown_center():
    assert G.rule_points(1200, 900, "wat") == [(600, 450)]


def test_rule_points_degenerate():
    assert G.rule_points(0, 900, "thirds") == []


def test_optimal_crop_verified_169():
    # reference crop.py:262-325 — verified: subj(300,280), 16:9, 1200×900
    pts = G.rule_points(1200, 900, "thirds")
    assert G.optimal_crop(1200, 900, (300, 280), pts, 16 / 9) == (0, 75, 800, 525)


def test_optimal_crop_verified_orig_ratio():
    pts = G.rule_points(1200, 900, "thirds")
    assert G.optimal_crop(1200, 900, (300, 280), pts, None) == (0, 0, 800, 600)


def test_optimal_crop_edge_degenerate():
    # rule point on the image edge → no valid window
    assert G.optimal_crop(10, 10, (0, 0), [(0, 5)], None) is None


def test_apply_padding_verified():
    # reference crop.py:328-353 — verified: (100,100,500,400)+10% in 1200×900
    assert G.apply_padding((100, 100, 500, 400), 1200, 900, 10) == (80, 85, 520, 415)


def test_apply_padding_noop_and_revert():
    assert G.apply_padding((1, 1, 2, 2), 10, 10, 0) == (1, 1, 2, 2)


def test_fit_dims_truncates_not_rounds():
    # reference resize.py:41-69 — int() truncation (H1 parity caveat)
    assert G.fit_dims(1200, 900, 1280, 720) == (960, 720)
    assert G.fit_dims(3, 1000, 2, 999) == (2, 666)  # 1000*(2/3)=666.67 → 666
    assert G.fit_dims(100, 50, 0, 0) == (100, 50)  # no-op
    assert G.fit_dims(100, 50, 200, 0) == (200, 100)  # single-axis


def test_parse_ratio():
    # reference crop.py:69-96 (B7)
    assert G.parse_ratio("16:9") == 16 / 9
    assert G.parse_ratio("1.5") == 1.5
    assert G.parse_ratio("none") is None
    assert G.parse_ratio(None) is None
    assert G.parse_ratio("0:3") is None
    assert G.parse_ratio("-2") is None
    assert G.parse_ratio("abc") is None


_RULES = ("thirds", "golden", "mystery")
_RATIOS = (None, "16:9", "1:1", "100:1", "1:100", "0.2")
_PADDINGS = (0.0, 5.5, 45.0)


def _geometry_rows(n_random: int = 1000, seed: int = 7) -> list[tuple]:
    """(canvas_w, canvas_h, cx, cy, rule, ratio) rows: an edge grid of tiny
    canvases with the subject on every canvas corner, plus random canvases
    (subject often pinned to an edge)."""
    rows = [
        (w, h, cx, cy, rule, ratio)
        for w, h in ((1, 1), (1, 2), (2, 1), (2, 2), (3, 7), (80, 1))
        for cx in (0, w)
        for cy in (0, h)
        for rule in _RULES
        for ratio in _RATIOS
    ]
    rng = random.Random(seed)
    for _ in range(n_random):
        w = rng.choice((rng.randint(1, 12), rng.randint(1, 200)))
        h = rng.choice((rng.randint(1, 12), rng.randint(1, 3000)))
        cx = rng.choice((0, w, rng.randint(0, w)))
        cy = rng.choice((0, h, rng.randint(0, h)))
        rows.append((w, h, cx, cy, rng.choice(_RULES), rng.choice(_RATIOS)))
    return rows


def test_column_window_geometry_matches_oracle(spark):
    """The Column ``window_geometry`` (pinned to DuckDB by q13) equals the
    oracle's rule_points → optimal_crop → apply_padding, which the doc
    kernel runs: same crop rect, or null coords exactly where the oracle
    finds a degenerate window. The ratio rides as a per-row aspect column
    (null → canvas ratio), one geometry call per padding, one collect."""
    from pyspark.sql import functions as F

    from py_image_toolkit_spark.operators.select import window_geometry

    rows = _geometry_rows()
    df = spark.createDataFrame(
        [(i, w, h, cx, cy, rule, G.parse_ratio(ratio))
         for i, (w, h, cx, cy, rule, ratio) in enumerate(rows)],
        "id long, canvas_w long, canvas_h long, cx long, cy long, "
        "rule string, ratio double",
    )
    aspect = F.coalesce(
        F.col("ratio"),
        F.col("canvas_w").cast("double") / F.col("canvas_h").cast("double"),
    )
    crop = ["crop_x1", "crop_y1", "crop_x2", "crop_y2"]
    out = None
    for pad in _PADDINGS:
        g = window_geometry(df, aspect, pad).select(
            "id", F.lit(pad).alias("pad"), *crop
        )
        out = g if out is None else out.unionByName(g)
    got = {(r["id"], r["pad"]): tuple(r[c] for c in crop) for r in out.collect()}
    assert len(got) == len(rows) * len(_PADDINGS)

    mismatches, degenerate, padded = [], 0, 0
    for i, (w, h, cx, cy, rule, ratio) in enumerate(rows):
        rect = G.optimal_crop(
            w, h, (cx, cy), G.rule_points(w, h, rule), G.parse_ratio(ratio)
        )
        for pad in _PADDINGS:
            want = (None,) * 4 if rect is None else G.apply_padding(rect, w, h, pad)
            degenerate += rect is None
            padded += rect is not None and want != rect
            if got[(i, pad)] != want:
                mismatches.append((w, h, cx, cy, rule, ratio, pad, got[(i, pad)], want))
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {mismatches[:5]}"
    # both the degenerate and the padding branches were exercised
    assert degenerate and padded
