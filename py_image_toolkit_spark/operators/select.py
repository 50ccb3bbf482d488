"""E2 composition-window geometry — pure Columns.

The reference's rule-point → window → padding math (crop.py:232-353) as
whole-stage-codegen-able Column code, zero per-row Python:

- H3/H4/H5 rule points + F1 closest-point        — literal fold of 4 exprs
- H6 optimal window + H7 padding                 — bround/least/greatest
  (bround = HALF_EVEN ≙ Python round(); int-squared distances avoid float
  tie divergence vs the oracle)

The production extraction runs the oracle's Python geometry inside the doc
kernel (operators/doc_kernel.py); these Columns are the SQL-verified form of
the same math (contract q12/q13 vs DuckDB) and are cross-checked against the
oracle row-for-row by tests/test_oracle_geometry.py.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PHI_INV = (math.sqrt(5) - 1) / 2


def _iround(c: Column) -> Column:
    """int(round(x)) with Python banker's-rounding parity (HALF_EVEN)."""
    return F.bround(c).cast("long")


def _rule_point_exprs(rule: Column, w: Column, h: Column) -> list[tuple[Column, Column]]:
    """The 4 rule points in reference list order (H3/H4), unknown rule →
    canvas center ×4 (H5 fallback; duplicates don't affect the argmin)."""
    pts = []
    for wi in (0, 1):
        for hi in (0, 1):
            px = (
                F.when(rule == "thirds", w / 3 if wi == 0 else 2 * w / 3)
                .when(rule == "golden", w * (1 - _PHI_INV) if wi == 0 else w * _PHI_INV)
                .otherwise(w / 2)
            )
            py = (
                F.when(rule == "thirds", h / 3 if hi == 0 else 2 * h / 3)
                .when(rule == "golden", h * (1 - _PHI_INV) if hi == 0 else h * _PHI_INV)
                .otherwise(h / 2)
            )
            pts.append((_iround(px), _iround(py)))
    return pts


def window_geometry(
    fanned: DataFrame,
    aspect: Column | None,
    padding_percent: float = 0.0,
) -> DataFrame:
    """H3-H7 window geometry over columns (canvas_w, canvas_h, cx, cy, rule):
    rule points → closest point → optimal aspect-fitted window → clamp →
    optional padding. Adds nullable crop_x1/crop_y1/crop_x2/crop_y2 (null =
    degenerate window). ``aspect=None`` → original canvas ratio (reference
    crop.py:279-281). Used by the contract geometry query (q13)."""
    w = F.col("canvas_w").cast("double")
    h = F.col("canvas_h").cast("double")
    rule = F.col("rule")
    cx, cy = F.col("cx"), F.col("cy")

    # F1 closest rule point: fold over the 4 candidates with strict < so the
    # first point wins ties (≙ Python min() first-wins, crop.py:288)
    # Materialize the 4 candidate points + exact integer squared distances as
    # real columns, take least(), then first-match resolves ties in list
    # order (≙ Python min() first-wins, crop.py:288). A naive fold duplicates
    # sub-trees exponentially → janino 64KB codegen blow-ups; staging every
    # intermediate through a named column keeps the tree linear and lets
    # Catalyst's CollapseProject decide what to inline.
    pts = _rule_point_exprs(rule, w, h)
    for i, (px, py) in enumerate(pts):
        fanned = (
            fanned.withColumn(f"px{i}", px)
            .withColumn(f"py{i}", py)
            .withColumn(
                f"d{i}",
                (cx - F.col(f"px{i}")) * (cx - F.col(f"px{i}"))
                + (cy - F.col(f"py{i}")) * (cy - F.col(f"py{i}")),
            )
        )
    fanned = fanned.withColumn("dbest", F.least(*[F.col(f"d{i}") for i in range(4)]))
    tx_expr = F.when(F.col("d0") == F.col("dbest"), F.col("px0"))
    ty_expr = F.when(F.col("d0") == F.col("dbest"), F.col("py0"))
    for i in range(1, 4):
        tx_expr = tx_expr.when(F.col(f"d{i}") == F.col("dbest"), F.col(f"px{i}"))
        ty_expr = ty_expr.when(F.col(f"d{i}") == F.col("dbest"), F.col(f"py{i}"))

    fanned = (
        fanned.withColumn("tx", tx_expr)
        .withColumn("ty", ty_expr)
        .withColumn("max_w_t", 2 * F.least(F.col("tx"), F.col("canvas_w") - F.col("tx")))
        .withColumn("max_h_t", 2 * F.least(F.col("ty"), F.col("canvas_h") - F.col("ty")))
        .withColumn("aspect", aspect if aspect is not None else (w / h))
        .withColumn("crop_h_from_w", F.col("max_w_t") / F.col("aspect"))
        .withColumn("wide_fits", F.col("crop_h_from_w") <= F.col("max_h_t") + F.lit(1e-6))
        .withColumn(
            "fw",
            F.when(F.col("wide_fits"), F.col("max_w_t").cast("double")).otherwise(
                F.col("max_h_t") * F.col("aspect")
            ),
        )
        .withColumn(
            "fh",
            F.when(F.col("wide_fits"), F.col("crop_h_from_w")).otherwise(
                F.col("max_h_t").cast("double")
            ),
        )
        .withColumn("x1_raw", F.col("tx") - F.col("fw") / 2)
        .withColumn("y1_raw", F.col("ty") - F.col("fh") / 2)
        .withColumn("x1c", F.greatest(F.lit(0), _iround(F.col("x1_raw"))))
        .withColumn("y1c", F.greatest(F.lit(0), _iround(F.col("y1_raw"))))
        .withColumn("x2c", F.least(F.col("canvas_w"), _iround(F.col("x1_raw") + F.col("fw"))))
        .withColumn("y2c", F.least(F.col("canvas_h"), _iround(F.col("y1_raw") + F.col("fh"))))
        .withColumn(
            "degenerate",
            (F.col("max_w_t") <= 0)
            | (F.col("max_h_t") <= 0)
            | (F.col("x1c") >= F.col("x2c"))
            | (F.col("y1c") >= F.col("y2c")),
        )
    )

    out = (
        fanned.withColumn("_x1", F.when(~F.col("degenerate"), F.col("x1c")))
        .withColumn("_y1", F.when(~F.col("degenerate"), F.col("y1c")))
        .withColumn("_x2", F.when(~F.col("degenerate"), F.col("x2c")))
        .withColumn("_y2", F.when(~F.col("degenerate"), F.col("y2c")))
    )

    if padding_percent > 0:
        pct = F.lit(float(padding_percent))
        px1, py1, px2, py2 = F.col("_x1"), F.col("_y1"), F.col("_x2"), F.col("_y2")
        pad_x = _iround((px2 - px1) * pct / 100.0 / 2.0)
        pad_y = _iround((py2 - py1) * pct / 100.0 / 2.0)
        nx1 = F.greatest(F.lit(0), px1 - pad_x)
        ny1 = F.greatest(F.lit(0), py1 - pad_y)
        nx2 = F.least(F.col("canvas_w"), px2 + pad_x)
        ny2 = F.least(F.col("canvas_h"), py2 + pad_y)
        # NULL guard is load-bearing: Spark's greatest/least SKIP nulls
        # (greatest(0, null) = 0, least(canvas_w, null) = canvas_w), so a
        # degenerate row's null coords would otherwise be "padded" into a
        # full-canvas window and flip into a spurious success (found by the
        # hypothesis config sweep: ratio=100:1 + padding>0)
        ok = px1.isNotNull() & (nx1 < nx2) & (ny1 < ny2)
        out = (
            out.withColumn("_nx1", F.when(ok, nx1).otherwise(px1))
            .withColumn("_ny1", F.when(ok, ny1).otherwise(py1))
            .withColumn("_nx2", F.when(ok, nx2).otherwise(px2))
            .withColumn("_ny2", F.when(ok, ny2).otherwise(py2))
            .drop("_x1", "_y1", "_x2", "_y2")
            .withColumnsRenamed({"_nx1": "_x1", "_ny1": "_y1", "_nx2": "_x2", "_ny2": "_y2"})
        )

    temps = (
        [f"px{i}" for i in range(4)] + [f"py{i}" for i in range(4)]
        + [f"d{i}" for i in range(4)]
        + ["dbest", "max_w_t", "max_h_t", "aspect", "crop_h_from_w", "wide_fits",
           "fw", "fh", "x1_raw", "y1_raw", "x1c", "y1c", "x2c", "y2c", "degenerate"]
    )
    out = out.drop(*temps)  # tx/ty kept: the chosen rule point is useful output
    return (
        out.withColumnRenamed("_x1", "crop_x1")
        .withColumnRenamed("_y1", "crop_y1")
        .withColumnRenamed("_x2", "crop_x2")
        .withColumnRenamed("_y2", "crop_y2")
    )
