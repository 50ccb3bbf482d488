"""Job orchestration: the Spark recast of the reference's batch drivers
(SURVEY.md §3.1 step mapping).

    [RESUME: collect the input's urls → ask the committed table which of
    them it holds] → allocate a commit dir → doc_write_df() ([balance
    partitions] → one Arrow stage whose tasks drop the committed urls and
    write the commit's parquet files) → collect the tasks' lineage rows →
    publish snapshot → runs rows (written by the driver)

One Spark job runs the kernel: the collect of the lineage rows its tasks
return, one per task that wrote a file. Everything else the run reports
comes from those rows, and the driver commits exactly the files they name
(≙ an Iceberg writer's data-file descriptors). A resume call adds one job,
the Arrow collect of its input's urls (2 jobs); the lookup of those urls
in the table (``SnapshotTable.committed``) runs on the driver with pyarrow,
and writing the runs table runs no job either. The kernel's plan is the
same on every call: scan → [balance] → mapInArrow, with no join.

- resume: the input's urls already in the committed output snapshot are
  skipped (≙ skip-if-exists, reference resize.py:158-162 — but gated
  *before* any parse, fixing crop.py's detect-before-gate inefficiency,
  SURVEY.md §4.2.4). The lookup reads only the table's url column under an
  ``isin`` filter of the offered urls, so the driver's memory and the
  tasks' closure are bounded by the input, not by the table's history;
  the kernel tasks drop those rows before the record builder
- the parse partitioning is decided on the scan (the doc kernel's one
  rule): the kernel reads straight off a scan that already has at least
  ``defaultParallelism`` splits (coalesced to that many), fewer splits are
  repartitioned by url into ``defaultParallelism`` partitions first, so
  the CPU-bound parse runs as one wave of one task per core
- each kernel task ends by dropping the Python worker's cached zip
  finders, so a reused worker's next task does not re-read pyspark's
  archives (``session.arrow_task``)
- a resume with nothing left to do (every offered url committed, or an
  empty input) runs only the url collect: no kernel job, no html read, no
  commit dir, no snapshot. Any other run whose kernel output is empty
  discards its commit and publishes no snapshot. A crashed run leaves no
  visible rows (the manifest publish is atomic)
- lineage: one row per task partition in the runs table (docs in/ok/failed,
  measured wall time), ≙ the reference's per-run counters (D7/J7)
- salting: two-stage aggregation helper for skewed keys (hot hosts)
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.operators.doc_kernel import DOC_SCHEMA, doc_write_df
from py_image_toolkit_spark.sources.tables import SnapshotTable, part_file

# runs-table rows: one per task partition of a run
_RUNS_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("rows_out", pa.int64()),
        ("docs_in", pa.int64()),
        ("rows_ok", pa.int64()),
        ("rows_failed", pa.int64()),
        ("wall_us", pa.int64()),
        ("run_id", pa.string()),
        ("snapshot_id", pa.int32()),
        ("job_wall_ms", pa.int32()),
    ]
)


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


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_table: SnapshotTable,
    runs_table: SnapshotTable,
    cfg: ExtractConfig | None = None,
    run_id: str | None = None,
) -> dict:
    """One resumable job run. Returns the run summary (counters ≙ D7).

    On a table that already has a snapshot the call resumes: it collects
    the input's urls (one Arrow collect), asks the table which of them are
    committed (``SnapshotTable.committed``), and the kernel tasks drop
    those pages. ``docs_in`` counts the pages extracted. When no offered
    url is new, the call runs no kernel job and allocates no commit.

    A page whose url is null is never extracted, by a fresh call or a
    resume call alike, and is not counted in ``docs_in``: the url is the
    table's key (``DOC_SCHEMA`` declares it non-null), and a keyless page
    could never be skipped by a later call."""
    cfg = cfg or ExtractConfig()
    run_id = run_id or f"run-{int(time.time() * 1000)}"

    t0 = time.time()
    # resume: the input's urls that are already committed are skipped
    # before any parse; the lookup is bounded by the input, not the table
    replayed, new_docs = None, True
    if out_table.snapshot_ids():
        offered = pages.select("url").toArrow().column("url")
        replayed = out_table.committed(offered)
        # both count distinct non-null urls, and replayed ⊆ offered
        new_docs = len(replayed) < pc.count_distinct(offered).as_py()

    # the kernel's tasks write the commit's files and return their lineage
    # (J7), one row per task that wrote rows, with wall_us the measured time
    # of that task: collecting those rows is the only action over the
    # kernel. A resume with nothing left to do runs no kernel job
    parts, commit = [], None
    if new_docs:
        commit = out_table.new_commit()
        commit_dir = os.path.join(out_table.data_dir, commit)
        parts = sorted(doc_write_df(pages, commit_dir, cfg, replayed).collect())
        # the commit holds exactly the files the lineage rows name: a failed
        # task attempt may have left its hidden temp file behind
        named = {part_file(p.partition_id) for p in parts}
        for name in set(os.listdir(commit_dir)) - named:
            os.remove(os.path.join(commit_dir, name))

    lineage_rows = [
        {**p.asDict(), "rows_failed": p.rows_out - p.rows_ok} for p in parts
    ]
    # the output manifest's meta: the run's id and counters
    summary = {
        "run_id": run_id,
        **{
            k: sum(r[k] for r in lineage_rows)
            for k in ("rows_out", "docs_in", "rows_ok", "rows_failed")
        },
    }

    if summary["rows_out"] > 0:
        snapshot_id = out_table.publish(
            commit, DOC_SCHEMA, run_id=run_id, meta=summary
        )
        # job-level wall clock (one value per run, distinct from the
        # measured per-partition wall_us)
        job_wall_ms = int((time.time() - t0) * 1000)
        runs = pa.Table.from_pylist(
            [
                {**r, "run_id": run_id, "snapshot_id": snapshot_id,
                 "job_wall_ms": job_wall_ms}
                for r in lineage_rows
            ],
            schema=_RUNS_SCHEMA,
        )
        # a handful of rows per run, already on the driver: one file written
        # in the table's format without a Spark job
        runs_table.publish(
            runs_table.write(runs), from_arrow_schema(runs.schema), run_id=run_id
        )
        summary["snapshot_id"] = snapshot_id
    else:
        if commit is not None:
            out_table.discard(commit)
        summary["snapshot_id"] = None
    summary["wall_s"] = time.time() - t0
    return summary
