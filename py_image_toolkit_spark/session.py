"""SparkSession builder with scale-oriented defaults.

The reference right-sizes parallelism with ``min(cpu_count, n_tasks)``
(reference resizes.py:103); here AQE coalescing plus an explicit shuffle
partition count play that role. Every setting is a plain Spark config set
only where it differs from Spark's default, and only as a default: explicit
arguments win, then the conf spark-submit was given, then the values below.
So the same code runs unchanged on a multi-executor cluster via
``spark-submit --py-files``, and a cluster is tuned with ``--conf`` —
nothing below assumes local mode.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Arrow batch size ≙ the reference's OCR micro-batch knob rec_batch_num
# (reference ocr.py:560-564) — ours is much larger because Arrow transfer
# amortizes per-batch overhead, the whole point of batching.
DEFAULT_ARROW_BATCH = 2048

_DEFAULTS = {
    # CPU-heavy pipeline: the 64 MB default advisory size lets AQE coalesce
    # shuffle stages below the core count on modest data — byte-sized
    # partitions starve compute-bound stages (measured: the E3 kernel capped
    # at ~6 partitions regardless of cores). Text/regex stages do ~100× more
    # CPU per byte than generic ETL, so 1m only merges truly tiny partitions.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    # CPU-bound scans: web text compresses ~10×, so the 128 MB default split
    # packs ~1 GB of parse work per task and strands cores on modest inputs
    # (measured: the staged-table re-read ran on 2 tasks regardless of core
    # count). 16 MB compressed ≈ 100-200 MB of work.
    "spark.sql.files.maxPartitionBytes": "16m",
    # openCost raised to the split size so small files are NOT bin-packed
    # into one split before a CPU-bound parse — each file is its own task and
    # the doc kernel can skip its balance repartition (guide §2.4).
    "spark.sql.files.openCostInBytes": "16m",
    # Broadcast dimension tables up to 64 MB (guide §3.1): the fact side must
    # never shuffle for a dimension join.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Arrow for driver-side pandas conversions (toPandas). The engine's
    # Python stages are all mapInArrow and exchange Arrow batches of
    # maxRecordsPerBatch.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(DEFAULT_ARROW_BATCH),
    # Parquet writes: zstd ≙ the reference's per-format quality knobs
    # (reference optimize.py:39-53). Snapshot tables state their own codec
    # (sources/tables.py); this is the default for every other write.
    "spark.sql.parquet.compression.codec": "zstd",
    # Keep timestamps deterministic across engines (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # int64 micros (not legacy INT96): Iceberg's required parquet timestamp
    # physical type, and INT96 columns carry no footer min/max statistics —
    # the snapshot layer's metadata-only commit stats (sources/tables.py)
    # need them for warc_ts pruning.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def build_session(
    app_name: str = "py-image-toolkit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with AQE + Arrow enabled.

    Precedence, per key: ``master``/``shuffle_partitions``/``extra_conf``,
    then the conf spark-submit was given (``--master``, ``--driver-memory``,
    ``--conf``), then this module's defaults: among them N shuffle
    partitions and, outside spark-submit, the master ``local[N]`` and an
    8g driver heap, with N = $SPARK_GRAFT_CPUS or the CPUs this process may
    run on.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    conf = {**_DEFAULTS, "spark.sql.shuffle.partitions": str(cpus)}
    # spark-submit starts the JVM, with the submitted conf as its system
    # properties, before this process and hands it over through
    # PYSPARK_GATEWAY_PORT; outside spark-submit, reading a SparkConf would
    # start a JVM without the settings below. That JVM's heap is already
    # fixed, so a default driver memory would only misreport it.
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        submitted = dict(SparkConf().getAll())
        conf = {k: v for k, v in conf.items()
                if k not in submitted and k != "spark.driver.memory"}
    elif master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_task(fn):
    """``fn``, a ``mapInArrow`` function, as a task that ends by evicting
    the worker's cached zip finders and their archives' directories. Every
    engine ``mapInArrow`` stage passes its function through here.

    Before every task pyspark's worker calls ``importlib.invalidate_caches()``,
    and on CPython 3.11 each cached ``zipimporter`` then re-reads its whole
    archive directory: 16 finders over ``pyspark.zip``, py4j's zip and the
    spark-core jar cost 126-266 ms per task at local[4] on a 4-core host.
    Dropped here, the next task's invalidation has nothing to re-read
    (0.02-0.07 ms); an import that walks an archive later re-reads it then.
    Loaders of already-imported modules keep their own directory."""

    def run(batches):
        yield from fn(batches)
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[path]
                zipimport._zip_directory_cache.pop(finder.archive, None)

    return run
