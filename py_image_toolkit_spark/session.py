"""SparkSession builder with scale-oriented defaults.

The reference right-sizes parallelism with ``min(cpu_count, n_tasks)``
(reference resizes.py:103); here AQE coalescing plus an explicit shuffle
partition count play that role. All knobs are plain Spark configs so the same
code runs unchanged on a multi-executor cluster via ``spark-submit
--py-files`` (north rule) — nothing below assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size ≙ the reference's OCR micro-batch knob rec_batch_num
# (reference ocr.py:560-564) — ours is much larger because Arrow transfer
# amortizes per-batch overhead, the whole point of batching.
DEFAULT_ARROW_BATCH = 2048


def build_session(
    app_name: str = "py-image-toolkit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with AQE + Arrow enabled.

    ``master=None`` keeps the master spark-submit was given (cluster path);
    outside spark-submit it is ``local[N]``, N = $SPARK_GRAFT_CPUS or the
    CPUs this process may run on. Tests and bench pass ``local[N]``
    explicitly.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name)
    # spark-submit starts the JVM, with the submitted master, before this
    # process and hands it over through PYSPARK_GATEWAY_PORT; a builder
    # master would override the submitted one
    if master is None and not {"SPARK_MASTER", "PYSPARK_GATEWAY_PORT"} & os.environ.keys():
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: runtime re-plan, partition coalescing, skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # CPU-heavy pipeline: the 64 MB default advisory size lets AQE
        # coalesce shuffle stages below the core count on modest data —
        # byte-sized partitions starve compute-bound stages (measured: the
        # E3 kernel capped at ~6 partitions regardless of cores). r6: 16m →
        # 1m (env-parameterized): text/regex stages do ~100× more CPU per
        # byte than generic ETL, so coalescing to byte-balanced partitions
        # starves them; 1m only merges truly tiny partitions. On an
        # IO-bound production cluster raise via SPARK_GRAFT_ADVISORY.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
            "SPARK_GRAFT_ADVISORY", "1m"
        ),
        # CPU-bound scans: web text compresses ~10×, so the 128 MB default
        # split packs ~1 GB of parse work per task and strands cores on
        # modest inputs (measured: the staged-table re-read ran on 2 tasks
        # regardless of core count). 16 MB compressed ≈ 100-200 MB of work.
        "spark.sql.files.maxPartitionBytes": "16m",
        # r6: openCost raised to the split size so small files are NOT
        # bin-packed into one split before a CPU-bound parse — each file is
        # its own task and the doc kernel can skip its balance repartition
        # (guide §2.4: remove the shuffle outright). Parameterized for
        # listing-bound production layouts (millions of tiny files).
        "spark.sql.files.openCostInBytes": os.environ.get(
            "SPARK_GRAFT_OPEN_COST", "16m"
        ),
        # Joins (guide §3.1): allow shuffled-hash when per-partition builds
        # fit, and broadcast dimension tables up to 64 MB — at 100 TB the
        # fact side must never shuffle for a dimension join; raise/lower
        # via env for clusters with small executors.
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.autoBroadcastJoinThreshold": os.environ.get(
            "SPARK_GRAFT_BROADCAST_THRESHOLD", "64m"
        ),
        # Arrow for pandas conversions; the Python stages (the mapInArrow doc
        # kernel, pandas UDFs) exchange Arrow batches of maxRecordsPerBatch.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(DEFAULT_ARROW_BATCH),
        # Parquet writes: zstd ≙ the reference's per-format quality knobs
        # (reference optimize.py:39-53); see operators/encode.py for the map.
        "spark.sql.parquet.compression.codec": "zstd",
        # Keep timestamps deterministic across engines (oracle parity).
        "spark.sql.session.timeZone": "UTC",
        # int64 micros (not legacy INT96): Iceberg's required parquet
        # timestamp physical type, and INT96 columns carry no footer
        # min/max statistics — the snapshot layer's metadata-only commit
        # stats (sources/tables.py) need them for warc_ts pruning.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
