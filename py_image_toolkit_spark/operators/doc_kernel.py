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

Two sinks share that one record builder (``_doc_batch``). The record sink
(``doc_extract_df``) returns the records as a DataFrame. The writing sink
(``doc_write_df``) is the job's: each task hands its records to the
table's ``write_part`` (sources/tables.py, which owns the file format),
which lands them as one parquet file in the call's commit dir, and the
task returns one lineage row (J7): its partition id, output rows, input
documents, successful rows and measured wall time. The driver collects
those rows and commits the files they name (≙ an Iceberg writer task
returning its data files), so the records never cross back from Python
into the JVM.

The writing sink also applies the job's resume skip, inside its tasks: the
driver hands it the input's urls that the table already holds (a
``pa.Array`` bounded by the input), and each task drops those rows, and
rows without a url, with ``pyarrow.compute`` before the record builder.
So every plan the kernel runs in is the same, with no join: scan →
[balance partitions] → mapInArrow.

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
no archive to re-read (``session.arrow_task``, which every engine
``mapInArrow`` stage uses).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.functions import vocab as V
from py_image_toolkit_spark.oracle.extractor import extract_document
from py_image_toolkit_spark.session import arrow_task
from py_image_toolkit_spark.sources.tables import write_part

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

# the writing sink's row per task (its types are the runs table's)
LINEAGE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("rows_out", LongType(), False),
        StructField("docs_in", LongType(), False),
        StructField("rows_ok", LongType(), False),
        StructField("wall_us", LongType(), False),
    ]
)
_LINEAGE_ARROW_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA)


def _doc_batch(batch: pa.RecordBatch, cfg: ExtractConfig) -> pa.RecordBatch:
    """The extraction records of one input batch, in ``DOC_SCHEMA``'s
    Arrow form: the one record builder of both sinks."""
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
    return pa.RecordBatch.from_arrays(
        [
            batch.column(f.name).take(take).cast(f.type)
            if f.name in _COPIED
            else pa.array(out[f.name], f.type)
            for f in _ARROW_SCHEMA
        ],
        schema=_ARROW_SCHEMA,
    )


def _make_doc_kernel(cfg: ExtractConfig):
    """The record sink: a task yields its extraction records."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _doc_batch(batch, cfg)

    return arrow_task(run)


def _new_docs(batch: pa.RecordBatch, replayed: pa.Array | None) -> pa.RecordBatch:
    """The rows of ``batch`` whose url is set and not in ``replayed``."""
    url = batch.column("url")
    if replayed is None and not url.null_count:
        return batch
    keep = url.is_valid()
    if replayed is not None:
        keep = pc.and_(keep, pc.invert(pc.is_in(url, value_set=replayed)))
    return batch.filter(keep)


def _write_part(
    batches: Iterator[pa.RecordBatch],
    cfg: ExtractConfig,
    commit_dir: str,
    partition_id: int,
    attempt_id: int,
    replayed: pa.Array | None = None,
) -> Iterator[pa.RecordBatch]:
    """The writing sink's task body: write the extraction records of the
    new docs of ``batches`` (``_new_docs``: rows with a url, not in
    ``replayed``) with ``write_part`` to ``part_file(partition_id)`` in
    ``commit_dir``, then yield the task's one lineage row
    (``LINEAGE_SCHEMA``). A task that produced no rows writes no file and
    yields no row."""
    t_start = time.monotonic()
    docs = ok = 0

    def records() -> Iterator[pa.RecordBatch]:
        nonlocal docs, ok
        for batch in batches:
            batch = _new_docs(batch, replayed)
            if batch.num_rows:
                out = _doc_batch(batch, cfg)
                docs += batch.num_rows
                ok += out.column("success").true_count
                yield out

    rows = write_part(commit_dir, partition_id, attempt_id, records(), _ARROW_SCHEMA)
    if rows:
        wall_us = int((time.monotonic() - t_start) * 1_000_000)
        yield pa.RecordBatch.from_pylist(
            [{"partition_id": partition_id, "rows_out": rows, "docs_in": docs,
              "rows_ok": ok, "wall_us": wall_us}],
            schema=_LINEAGE_ARROW_SCHEMA,
        )


def _make_doc_writer(
    cfg: ExtractConfig, commit_dir: str, replayed: pa.Array | None
):
    """The writing sink: a task writes the records of its new docs into
    ``commit_dir`` and yields its lineage row."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        yield from _write_part(
            batches, cfg, commit_dir, ctx.partitionId(), ctx.taskAttemptId(),
            replayed,
        )

    return arrow_task(run)


def _kernel_input(pages: DataFrame) -> DataFrame:
    """``pages`` as the kernel reads them: (url, warc_ts, lang, html),
    partitioned for one wave of ``defaultParallelism`` tasks (see
    ``doc_extract_df``)."""
    from pyspark.sql import functions as F

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
    return src


def doc_extract_df(pages: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
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
    core beats two waves. The plan is scan → [balance] → mapInArrow, with
    no join."""
    cfg = cfg or ExtractConfig()
    return _kernel_input(pages).mapInArrow(_make_doc_kernel(cfg), DOC_SCHEMA)


def doc_write_df(
    pages: DataFrame,
    commit_dir: str,
    cfg: ExtractConfig | None = None,
    replayed: pa.Array | None = None,
) -> DataFrame:
    """``doc_extract_df``'s extraction with the writing sink: each task
    writes its records as one parquet file into ``commit_dir`` (a path
    every executor sees) and returns one ``LINEAGE_SCHEMA`` row instead of
    the records. Collecting the result runs the extraction, one Spark job
    over the same plan; its rows name the files written, one per task that
    produced records (``part_file(partition_id)``), where ``docs_in``
    counts the documents the task extracted, independent of how the input
    is partitioned, and ``wall_us`` is the task's measured time to extract
    and write them.

    Each task first drops the rows whose url is null or in ``replayed``
    (the urls a resumed job has already committed, a ``pa.Array`` bounded
    by the input and shipped in the tasks' closure), so those documents
    cross the Arrow boundary but are never parsed, written or counted."""
    cfg = cfg or ExtractConfig()
    return _kernel_input(pages).mapInArrow(
        _make_doc_writer(cfg, commit_dir, replayed), LINEAGE_SCHEMA
    )
