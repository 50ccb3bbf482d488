"""Fully-fused per-document extraction kernel — the extraction engine.

The whole extraction (E1 decode → E2 segment/layout/select/window → H16 crop
→ E3 labeling) is per-document: no step needs data from any other url. The
scale-correct Spark plan for such a pipeline is therefore a SINGLE Arrow
-batched stage — scan → [balance partitions] → mapInArrow → sink — with
ZERO wide shuffles of document text. (Reference call graph: the batch driver
runs resize→crop→ocr per file, resizes.py:135-171; this is the same shape,
vectorized per partition.) The kernel reads and writes Arrow record batches
directly: ``url``/``html`` leave Arrow once per batch as Python lists,
``warc_ts``/``lang`` are copied from the input batch with ``take``, and the
output columns are built against the Arrow form of ``DOC_SCHEMA``.

Lineage (J7): given an accumulator, every task reports its output row,
input document and success counts plus its measured wall time, so a job
gets per-partition lineage from the same pass that writes the records.

This is the only extraction implementation. It applies the pure-Python
oracle's per-document functions per partition, so byte parity holds by
construction AND is still asserted end-to-end by tests/test_engine_parity.py.
The SQL-verifiable decomposition of E2/E3 lives in the contract queries:
q12/q13 check the Column window geometry (operators/select.py) and q15-q17
the Column/Window labeling (operators/extract_fields.py) against DuckDB.

Error containment (J6): extract_document returns typed failure records for
undecodable/empty/degenerate inputs; a poisoned row can never fail the task.

Worker set-up is paid once per worker, not once per task (≙ the reference's
init-once-per-process, crop.py:613-615): every task ends by dropping the
worker's cached zip finders, so the next task's ``invalidate_caches`` has
no archive to re-read (``_drop_zip_finders``).
"""

from __future__ import annotations

import sys
import time
import zipimport
from collections.abc import Iterator

import pyarrow as pa

from pyspark import Accumulator, AccumulatorParam, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
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
_ARROW_SCHEMA = to_arrow_schema(DOC_SCHEMA)
# copied from the input batch row for row; every other column is built
# from the extraction records
_COPIED = ("warc_ts", "lang")


class _LineageParam(AccumulatorParam):
    """Per-partition lineage ``{partition id: (rows, docs, ok, wall_us)}``
    merged by ``dict.update``: entries are keyed by partition, so a retried
    task overwrites its own entry and is never counted twice."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, a: dict, b: dict) -> dict:
        a.update(b)
        return a


def lineage_accumulator(sc) -> Accumulator:
    """An empty accumulator for ``doc_extract_df(..., lineage=...)``."""
    return sc.accumulator({}, _LineageParam())


def _drop_zip_finders() -> None:
    """Evict every cached ``zipimporter`` and its archive's directory.

    Before every task, pyspark's worker calls ``importlib.invalidate_caches()``;
    on CPython 3.11 that makes each cached zipimporter re-read its whole
    archive directory at once. A reused worker caches one per package of
    ``pyspark.zip`` (1,328 entries), of py4j's zip and of the spark-core jar
    (5,359 entries): 16 finders, 126-266 ms per task with four concurrent
    tasks on a 4-core host, more than a small task's parse. Dropped here,
    the next task's invalidation finds nothing to re-read (0.02-0.07 ms),
    and an import that walks an archive later builds its finder from a
    fresh read: the same invalidation, done lazily. Loaders of
    already-imported modules keep their own directory and are untouched."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
            zipimport._zip_directory_cache.pop(finder.archive, None)


def _make_doc_kernel(cfg: ExtractConfig, lineage: Accumulator | None = None):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t_start = time.monotonic()
        rows = docs = ok = 0
        for batch in batches:
            out: dict[str, list] = {c: [] for c in _COLS if c not in _COPIED}
            row_index: list[int] = []
            for i, (url, html) in enumerate(
                zip(batch.column("url").to_pylist(), batch.column("html").to_pylist())
            ):
                try:
                    recs = extract_document(url, html, cfg)
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
                    row_index.append(i)
                    for c, vals in out.items():
                        vals.append(rec[c])
            take = pa.array(row_index, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(f.name).take(take).cast(f.type)
                    if f.name in _COPIED
                    else pa.array(out[f.name], f.type)
                    for f in _ARROW_SCHEMA
                ],
                schema=_ARROW_SCHEMA,
            )
            if lineage is not None:
                rows += len(row_index)
                docs += batch.num_rows
                ok += sum(out["success"])
        if rows:
            wall_us = int((time.monotonic() - t_start) * 1_000_000)
            lineage.add(
                {TaskContext.get().partitionId(): (rows, docs, ok, wall_us)}
            )
        _drop_zip_finders()

    return run


def doc_extract_df(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    lineage: Accumulator | None = None,
    skip: DataFrame | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, lang, …) → complete extraction records
    (success AND typed failure rows) in ``DOC_SCHEMA`` column order, one
    Arrow stage, zero text shuffles. Missing ``warc_ts``/``lang`` columns
    come out null.

    Partitioning before the CPU-bound parse is decided once, on the scan
    (html compresses ~10×, so byte-sized input splits can under-parallelize
    a compute-bound stage): when the scan already yields at least
    ``defaultParallelism`` splits, they are coalesced to one wave
    of ``defaultParallelism`` tasks without moving any bytes; otherwise the
    input is repartitioned by url into ``defaultParallelism`` partitions,
    also one wave: each task pays a fixed Python set-up, so one task per
    core beats two waves.

    ``skip`` (a one-column ``url`` DataFrame, e.g. the urls already
    committed by a resumed job): its urls are dropped after that balancing,
    so deciding the partitioning never executes a join. The input's urls
    are anti-joined against ``skip`` (url-only: ``skip`` is broadcast once,
    or shuffled by url above the broadcast threshold, never the html), and
    the balanced input is semi-joined against the broadcast of what is left:
    the urls of this call's new docs, bounded by the input. When none is
    left, adaptive execution replaces the html scan and the join with an
    empty relation, so the kernel runs on no task.

    ``lineage`` (from ``lineage_accumulator``): each task that produced rows
    adds ``{partition id: (rows, docs, ok, wall_us)}`` to it, where ``docs``
    counts the input documents (rows) the task read, independent of how the
    input is partitioned, and ``wall_us`` is the task's measured kernel
    time. The entries appear once
    an action over the result has run."""
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
    # r6 (guide §2.4 / §8): the repartition exists only to balance a
    # CPU-bound per-document stage — when the scan already yields enough
    # splits (openCostInBytes keeps small files one-per-task), shuffling the
    # html payload buys nothing, and the kernel reads straight off the scan.
    # Planning the scan's splits runs no Spark job.
    dp = pages.sparkSession.sparkContext.defaultParallelism
    scan_parts = src.rdd.getNumPartitions()
    # one wave of core-count tasks either way: per-task Python/Arrow setup
    # is the dominant constant at this stage, so dp tasks of 2 files beat
    # 2·dp tasks of 1 (measured 1.19 s → 0.77 s at 20k docs); coalesce
    # merges scan splits without moving any bytes
    if scan_parts < dp:
        src = src.repartition(dp, F.col("url"))
    elif scan_parts > dp:
        src = src.coalesce(dp)
    if skip is not None:
        new = pages.select("url").join(skip, "url", "left_anti")
        src = src.join(F.broadcast(new), "url", "left_semi")
    return src.mapInArrow(_make_doc_kernel(cfg, lineage), DOC_SCHEMA)
