"""AvailableNow streaming ingestion → the same snapshot-committed pipeline."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import PAGES_SCHEMA
from py_image_toolkit_spark.plans.job import run_extraction_job
from py_image_toolkit_spark.sources.tables import SnapshotTable


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    out_table: SnapshotTable,
    runs_table: SnapshotTable,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all currently-available files from ``input_dir`` through the
    extraction pipeline in micro-batches, committing one snapshot per batch.
    Restart-safe twice over: the stream checkpoint skips consumed files AND
    the resume skip absorbs any replayed urls."""
    cfg = cfg or ExtractConfig()
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)

    def process(batch_df, batch_id: int) -> None:
        run_extraction_job(
            spark,
            batch_df,
            out_table,
            runs_table,
            cfg,
            run_id=f"stream-batch-{batch_id}",
        )

    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "extract"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
