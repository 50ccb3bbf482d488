"""Parity-test utilities: engine-vs-oracle byte-identical comparison."""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import SparkSession

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import page_row, pages_df
from py_image_toolkit_spark.oracle import extract_pages
from py_image_toolkit_spark.plans.pipeline import extract

RESULT_COLS = [
    "url", "warc_ts", "lang", "rule", "success", "message", "encoding",
    "n_blocks", "canvas_w", "canvas_h", "main_block_id", "crop_x1", "crop_y1",
    "crop_x2", "crop_y2", "main_start", "main_end", "extracted_text",
    "document_title", "name", "address", "rrn", "issue_date", "issuer",
    "spans",
]


def norm_value(v):
    """Canonicalize for cross-representation equality (Row/np/NaN/None)."""
    import numpy as np

    if isinstance(v, (list, tuple, np.ndarray)):
        return [norm_value(x) for x in v]
    if v is None:
        return None
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f == int(f) else f
    return v


def norm_spans(v):
    if v is None:
        return []
    return [
        (d["field"], int(d["start"]), int(d["end"]))
        for d in (x.asDict() if hasattr(x, "asDict") else x for x in v)
    ]


def engine_frame(spark: SparkSession, n: int, cfg: ExtractConfig) -> pd.DataFrame:
    eng = extract(pages_df(spark, n), cfg).toPandas()
    eng = eng.sort_values(["url", "rule"]).reset_index(drop=True)
    eng["spans"] = eng["spans"].map(norm_spans)
    return eng


def oracle_frame(n: int, cfg: ExtractConfig) -> pd.DataFrame:
    rows = (page_row(i) for i in range(n))
    ora = pd.DataFrame(
        extract_pages(
            ((r["url"], r["html"], r["warc_ts"], r["lang"]) for r in rows), cfg
        )
    )
    ora["spans"] = ora["spans"].map(
        lambda v: [(d["field"], int(d["start"]), int(d["end"])) for d in v]
    )
    return ora.sort_values(["url", "rule"]).reset_index(drop=True)


def diff_frames(eng: pd.DataFrame, ora: pd.DataFrame, limit: int = 12) -> list[str]:
    """Return human-readable mismatch descriptions (empty == byte parity)."""
    problems: list[str] = []
    if len(eng) != len(ora):
        problems.append(f"row count: engine={len(eng)} oracle={len(ora)}")
        return problems
    for col in RESULT_COLS:
        for k in range(len(eng)):
            a, b = norm_value(eng.at[k, col]), norm_value(ora.at[k, col])
            if a != b:
                problems.append(
                    f"row {k} col {col}: engine={a!r} oracle={b!r} "
                    f"url={eng.at[k, 'url']} rule={eng.at[k, 'rule']}"
                )
                if len(problems) >= limit:
                    return problems
    return problems


def assert_parity(spark: SparkSession, n: int, cfg: ExtractConfig | None = None) -> None:
    cfg = cfg or ExtractConfig()
    problems = diff_frames(engine_frame(spark, n, cfg), oracle_frame(n, cfg))
    assert not problems, "engine/oracle divergence:\n" + "\n".join(problems)
