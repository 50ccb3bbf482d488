"""Fully-fused per-document extraction kernel — the extraction engine.

The whole extraction (E1 decode → E2 segment/layout/select/window → H16 crop
→ E3 labeling) is per-document: no step needs data from any other url. The
scale-correct Spark plan for such a pipeline is therefore a SINGLE Arrow
-batched stage — scan → [balance partitions] → mapInPandas → sink — with
ZERO wide shuffles of document text. (Reference call graph: the batch driver
runs resize→crop→ocr per file, resizes.py:135-171; this is the same shape,
vectorized per partition.)

This is the only extraction implementation. It applies the pure-Python
oracle's per-document functions per partition, so byte parity holds by
construction AND is still asserted end-to-end by tests/test_engine_parity.py.
The SQL-verifiable decomposition of E2/E3 lives in the contract queries:
q12/q13 check the Column window geometry (operators/select.py) and q15-q17
the Column/Window labeling (operators/extract_fields.py) against DuckDB.

Error containment (J6): extract_document returns typed failure records for
undecodable/empty/degenerate inputs; a poisoned row can never fail the task.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.functions import vocab as V
from py_image_toolkit_spark.oracle.extractor import extract_document

SPAN_STRUCT = StructType(
    [
        StructField("field", StringType(), False),
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
    ]
)

DOC_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("rule", StringType(), False),
        StructField("success", BooleanType(), False),
        StructField("message", StringType(), True),
        StructField("encoding", StringType(), True),
        StructField("n_blocks", LongType(), True),
        StructField("canvas_w", LongType(), True),
        StructField("canvas_h", LongType(), True),
        StructField("main_block_id", LongType(), True),
        StructField("crop_x1", LongType(), True),
        StructField("crop_y1", LongType(), True),
        StructField("crop_x2", LongType(), True),
        StructField("crop_y2", LongType(), True),
        StructField("main_start", LongType(), True),
        StructField("main_end", LongType(), True),
        StructField("extracted_text", StringType(), True),
    ]
    + [StructField(f, StringType(), True) for f in V.OUTPUT_FIELDS]
    + [StructField("spans", ArrayType(SPAN_STRUCT), True)]
)

_COLS = [f.name for f in DOC_SCHEMA.fields]


def _make_doc_kernel(cfg: ExtractConfig):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in _COLS}
            for url, warc_ts, lang, html in zip(
                pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["html"]
            ):
                ts = None if pd.isna(warc_ts) else warc_ts
                lg = None if pd.isna(lang) else lang
                html_b = bytes(html) if html is not None else None
                try:
                    recs = extract_document(url, html_b, cfg)
                except Exception as e:  # noqa: BLE001 — J6 containment
                    recs = [
                        {
                            **{c: None for c in _COLS},
                            "url": url, "rule": r, "success": False,
                            "message": f"parse error: {type(e).__name__}: {e}",
                            "encoding": "none", "n_blocks": 0,
                            "canvas_w": 0, "canvas_h": 0, "spans": [],
                        }
                        for r in cfg.rules
                    ]
                for rec in recs:
                    rec["warc_ts"] = ts
                    rec["lang"] = lg
                    for c in _COLS:
                        out[c].append(rec[c])
            yield pd.DataFrame(out)

    return run


def doc_extract_df(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, lang, …) → complete extraction records
    (success AND typed failure rows) in ``DOC_SCHEMA`` column order, one
    Arrow stage, zero text shuffles. Missing ``warc_ts``/``lang`` columns
    come out null.

    Partitioning before the CPU-bound parse (html compresses ~10×, so
    byte-sized input splits can under-parallelize a compute-bound stage):
    - ``None`` (default): when the scan already yields at least
      ``defaultParallelism`` (and ≥ 2) splits, they are coalesced to one
      wave of ``defaultParallelism`` tasks without moving any bytes;
      otherwise the input is repartitioned by url into
      ``2 × defaultParallelism`` partitions.
    - ``n > 0``: always repartition by url into ``n`` partitions.
    - ``0``: keep the input partitioning as is."""
    from pyspark.sql import functions as F

    cfg = cfg or ExtractConfig()
    cols = [F.col("url")]
    cols.append(
        F.col("warc_ts") if "warc_ts" in pages.columns
        else F.lit(None).cast("timestamp").alias("warc_ts")
    )
    cols.append(
        F.col("lang") if "lang" in pages.columns
        else F.lit(None).cast("string").alias("lang")
    )
    cols.append(F.col("html"))
    src = pages.select(*cols)
    if num_partitions != 0:
        n = num_partitions or 2 * pages.sparkSession.sparkContext.defaultParallelism
        # r6 (guide §2.4 / §8): the repartition exists only to balance a
        # CPU-bound per-document stage — when the scan already yields
        # enough splits (openCostInBytes keeps small files one-per-task),
        # shuffling the html payload buys nothing; skip it and let the
        # kernel read straight off the scan. Payload bytes then move
        # exactly zero times before the parse.
        try:
            scan_parts = src.rdd.getNumPartitions()
        except Exception:  # non-file sources: keep the balancing shuffle
            scan_parts = 0
        dp = pages.sparkSession.sparkContext.defaultParallelism
        if num_partitions is None and scan_parts >= max(2, dp):
            # one wave of core-count tasks: per-task Python/Arrow setup is
            # the dominant constant at this stage, so dp tasks of 2 files
            # beat 2·dp tasks of 1 (measured 1.19 s → 0.77 s at 20k docs);
            # coalesce merges scan splits without moving any bytes
            if scan_parts > dp:
                src = src.coalesce(dp)
            return src.mapInPandas(_make_doc_kernel(cfg), DOC_SCHEMA)
        src = src.repartition(n, F.col("url"))
    return src.mapInPandas(_make_doc_kernel(cfg), DOC_SCHEMA)
