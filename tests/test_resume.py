"""M5 resume semantics (SURVEY.md §5.2.4): a killed/partial run + a resume
run converge to exactly the uninterrupted run's table; crashed (uncommitted)
data is invisible; each url lands exactly once per rule."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import pages_df
from py_image_toolkit_spark.plans.job import run_extraction_job
from py_image_toolkit_spark.sources.tables import SnapshotTable

CFG = ExtractConfig()


def _tables(tmp_path, name):
    return (
        SnapshotTable(str(tmp_path / f"{name}_out")),
        SnapshotTable(str(tmp_path / f"{name}_runs")),
    )


def test_kill_and_resume_converges(spark, tmp_path):
    pages = pages_df(spark, 60)

    # uninterrupted reference run
    full_out, full_runs = _tables(tmp_path, "full")
    s = run_extraction_job(spark, pages, full_out, full_runs, CFG, run_id="full")
    assert s["rows_out"] == 120

    # "killed" run: only a third of the input got processed+committed
    part_out, part_runs = _tables(tmp_path, "part")
    partial = pages.filter(F.xxhash64("url") % 3 == 0)
    s1 = run_extraction_job(spark, partial, part_out, part_runs, CFG, run_id="r1")
    assert 0 < s1["rows_out"] < 120

    # resume over the FULL input: anti-join skips committed urls
    s2 = run_extraction_job(spark, pages, part_out, part_runs, CFG, run_id="r2")
    assert s1["rows_out"] + s2["rows_out"] == 120

    a = full_out.read(spark)
    b = part_out.read(spark)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # exactly once per (url, rule)
    dupes = b.groupBy("url", "rule").count().filter("count > 1").count()
    assert dupes == 0

    # third run: nothing left to do, no new snapshot
    s3 = run_extraction_job(spark, pages, part_out, part_runs, CFG, run_id="r3")
    assert s3["rows_out"] == 0 and s3["snapshot_id"] is None
    assert part_out.snapshot_ids() == [1, 2]
    # ... and it left no commit dir behind
    assert len(os.listdir(part_out.data_dir)) == 2


def test_empty_run_discards_its_commit(spark, tmp_path):
    """A run whose kernel output is empty (here: an empty input into a
    fresh table) discards its commit dir and publishes no snapshot. An
    empty input to a table that has a snapshot is a no-op resume: it
    allocates no commit dir at all."""
    out, runs = _tables(tmp_path, "empty")
    pages = pages_df(spark, 4)
    s = run_extraction_job(spark, pages.limit(0), out, runs, CFG)
    assert s["rows_out"] == 0 and s["snapshot_id"] is None
    assert out.snapshot_ids() == [] and os.listdir(out.data_dir) == []

    run_extraction_job(spark, pages, out, runs, CFG, run_id="r1")
    dirs = os.listdir(out.data_dir)
    s = run_extraction_job(spark, pages.limit(0), out, runs, CFG, run_id="r2")
    assert s["docs_in"] == 0 and s["snapshot_id"] is None
    assert out.snapshot_ids() == [1] and os.listdir(out.data_dir) == dirs


def test_orphan_commit_dir_is_invisible(spark, tmp_path):
    out, runs = _tables(tmp_path, "orphan")
    pages = pages_df(spark, 20)
    run_extraction_job(spark, pages, out, runs, CFG, run_id="r1")
    n = out.read(spark).count()

    # simulate a crash: data directory written but no manifest rename
    orphan = os.path.join(out.data_dir, "commit-deadbeef")
    pages_df(spark, 5).write.parquet(orphan)
    assert out.read(spark).count() == n  # unchanged


def test_lineage_rows_cover_all_docs(spark, tmp_path):
    out, runs = _tables(tmp_path, "lineage")
    run_extraction_job(spark, pages_df(spark, 30), out, runs, CFG, run_id="r1")
    lin = runs.read(spark)
    agg = lin.agg(
        F.sum("rows_out").alias("rows"),
        F.sum("rows_ok").alias("ok"),
        F.sum("rows_failed").alias("failed"),
    ).collect()[0]
    assert agg["rows"] == 60 and agg["ok"] + agg["failed"] == 60
    # the column types runs tables have always had, so tables written before
    # and after a change of how the rows are built stay readable together
    assert lin.dtypes == [
        ("partition_id", "int"),
        ("rows_out", "bigint"),
        ("docs_in", "bigint"),
        ("rows_ok", "bigint"),
        ("rows_failed", "bigint"),
        ("wall_us", "bigint"),
        ("run_id", "string"),
        ("snapshot_id", "int"),
        ("job_wall_ms", "int"),
    ]
    # per-partition elapsed is MEASURED (round-3 verdict #7), not a job-level
    # literal: every value positive, and values differ across partitions
    # (µs resolution makes collisions vanishingly unlikely)
    walls = [r["wall_us"] for r in lin.select("wall_us").collect()]
    assert min(walls) > 0
    assert len(walls) == 1 or len(set(walls)) >= 2


def test_commit_dir_holds_only_the_lineage_files(spark, tmp_path):
    """After a fresh call and after a resume call, a commit dir holds one
    ``part-*.parquet`` per lineage row of its run and nothing else: no
    ``_SUCCESS``, ``.crc`` or temp file. Each footer carries min/max for
    ``url`` and ``warc_ts``, the columns a commit may be pruned on."""
    import pyarrow.parquet as pq

    from py_image_toolkit_spark.sources.tables import part_file

    out, runs = _tables(tmp_path, "files")
    pages = pages_df(spark, 40)
    run_extraction_job(
        spark, pages.filter(F.xxhash64("url") % 2 == 0), out, runs, CFG, run_id="r1"
    )
    run_extraction_job(spark, pages, out, runs, CFG, run_id="r2")

    lineage = runs.read(spark).select("run_id", "partition_id").collect()
    snap = out.latest_snapshot()
    assert len(snap["data_dirs"]) == 2
    for commit, run_id in zip(snap["data_dirs"], ("r1", "r2")):
        path = os.path.join(out.data_dir, commit)
        named = {part_file(r["partition_id"]) for r in lineage if r["run_id"] == run_id}
        assert named and sorted(os.listdir(path)) == sorted(named)
        for name in named:
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            cols = {md.schema.column(i).path: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                for c in ("url", "warc_ts"):
                    assert md.row_group(rg).column(cols[c]).statistics.has_min_max


def test_writing_task_rerun_leaves_one_identical_file(tmp_path):
    """A retried attempt of a writing task (run here twice in-process for
    one partition id, no Spark) replaces the first attempt's file with the
    same bytes, and leaves no temp file behind."""
    import pyarrow as pa

    from py_image_toolkit_spark.operators.doc_kernel import _write_part
    from py_image_toolkit_spark.sources.tables import part_file

    batch = pa.RecordBatch.from_pydict({
        "url": ["https://a.io/1", "https://a.io/2"],
        "warc_ts": pa.array([0, None], pa.timestamp("us", tz="UTC")),
        "lang": ["en", None],
        "html": [b"<html><body><p>hello there</p></body></html>", b""],
    })
    commit_dir = str(tmp_path)
    lineage, files = [], []
    for attempt in (11, 12):
        lineage += [b.to_pylist() for b in _write_part(iter([batch]), CFG, commit_dir, 3, attempt)]
        assert os.listdir(commit_dir) == [part_file(3)]
        with open(os.path.join(commit_dir, part_file(3)), "rb") as fh:
            files.append(fh.read())
    assert files[0] == files[1]
    rows = 2 * len(CFG.rules)
    for (row,) in lineage:
        assert row["partition_id"] == 3 and row["rows_out"] == rows
        assert row["docs_in"] == 2 and 0 < row["rows_ok"] < rows
        assert row["wall_us"] > 0


def test_output_manifest_meta_has_no_null(spark, tmp_path):
    """The output manifest's meta holds the run's id and counters, each
    set: nothing is published before it is known."""
    out, runs = _tables(tmp_path, "meta")
    run_extraction_job(spark, pages_df(spark, 4), out, runs, CFG, run_id="r1")
    meta = out.latest_snapshot()["meta"]
    assert meta["run_id"] == "r1" and meta["rows_out"] == 8
    assert None not in meta.values()


def _data_file_metadata(table):
    """The parquet metadata of each data file (non-hidden ``*.parquet``)
    of ``table``'s last commit."""
    d = os.path.join(table.data_dir, table.latest_snapshot()["data_dirs"][-1])
    return [
        pq.ParquetFile(os.path.join(d, f)).metadata
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _chunks(md):
    """(column name, column chunk) for every chunk of every row group."""
    return [
        (md.schema.column(i).path, md.row_group(rg).column(i))
        for rg in range(md.num_row_groups)
        for i in range(md.num_columns)
    ]


def test_every_writer_writes_the_table_format(spark, tmp_path):
    """The three writers of a snapshot table (a kernel task, the driver's
    ``write`` of a ``pyarrow.Table``, Spark's ``append``) write zstd
    parquet; the kernel's files carry footer min/max only for ``url`` and
    ``warc_ts``, the driver's runs file none, and Spark's files keep its
    dictionary encoding. ``committed`` and ``publish(stats_cols=...)`` read
    the same data files: a hidden file left by a failed attempt is neither
    looked up nor counted in the commit's stats."""
    from pyspark.sql.pandas.types import from_arrow_schema

    out, runs = _tables(tmp_path, "format")
    pages = pages_df(spark, 8)
    run_extraction_job(spark, pages, out, runs, CFG, run_id="r1")
    appended = SnapshotTable(str(tmp_path / "appended"))
    appended.append(
        pages.select("url", F.lit("en").alias("lang")).coalesce(1), run_id="s1"
    )

    files = {t: _data_file_metadata(t) for t in (out, runs, appended)}
    assert all(files.values())
    for md in sum(files.values(), []):
        assert {c.compression for _, c in _chunks(md)} == {"ZSTD"}
    for md in files[out]:
        for name, c in _chunks(md):
            assert c.is_stats_set == (name in ("url", "warc_ts"))
    for md in files[runs]:
        assert not any(c.is_stats_set for _, c in _chunks(md))
    for md in files[appended]:  # Spark's dictionary encoding is kept
        assert all("DICTIONARY" in " ".join(c.encodings)
                   for name, c in _chunks(md) if name == "lang")

    from py_image_toolkit_spark.sources.tables import write_part

    table = SnapshotTable(str(tmp_path / "hidden"))
    commit = table.new_commit()
    path = os.path.join(table.data_dir, commit)
    schema = pa.schema([("url", pa.string())])
    for pid, url in ((0, "https://b.example/1"), (1, "https://z.example/9")):
        write_part(path, pid, 7, [pa.record_batch([pa.array([url])], schema=schema)], schema)
    os.rename(os.path.join(path, "part-00001.parquet"),
              os.path.join(path, ".part-00001.parquet.7"))
    table.publish(commit, from_arrow_schema(schema), stats_cols=("url",))
    stats = table.latest_snapshot()["commit_stats"][commit]["url"]
    assert stats == ["https://b.example/1", "https://b.example/1"]
    ask = pa.array(["https://b.example/1", "https://z.example/9"])
    assert table.committed(ask).to_pylist() == ["https://b.example/1"]


def test_snapshot_append_writes_zstd(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "snap"))
    tbl.append(spark.range(10).withColumnRenamed("id", "v"), run_id="r1")
    for meta in _data_file_metadata(tbl):
        assert meta.row_group(0).column(0).compression == "ZSTD"


def test_manifest_commit_is_race_safe(spark, tmp_path):
    """If a concurrent writer claims the same snapshot id, append retries with
    the next id and no committed data directory is lost from the lineage."""
    tbl = SnapshotTable(str(tmp_path / "race"))
    tbl.append(spark.range(5).withColumnRenamed("id", "v"), run_id="r1")

    # simulate the racer: pre-claim manifest-2 with its own commit dir
    # (carrying snapshot 1's lineage forward, as a real writer would)
    os.makedirs(os.path.join(tbl.data_dir, "commit-racer"), exist_ok=True)
    racer = {
        "snapshot_id": 2,
        "data_dirs": tbl.latest_snapshot()["data_dirs"] + ["commit-racer"],
        "run_id": "racer",
        "committed_at": 0,
        "schema": {},
        "meta": {},
    }
    with open(os.path.join(tbl.snap_dir, "manifest-2.json"), "w") as fh:
        json.dump(racer, fh)

    sid = tbl.append(spark.range(5).withColumnRenamed("id", "v"), run_id="r2")
    assert sid == 3
    lineage = tbl.latest_snapshot()["data_dirs"]
    assert "commit-racer" in lineage and len(lineage) == 3  # nothing lost:
    # snapshot-1's dir, the racer's dir, and r2's dir all survive
    # no orphan tmp files left behind
    assert not [f for f in os.listdir(tbl.snap_dir) if f.endswith(".tmp")]


def test_snapshot_diff_incremental_read(spark, tmp_path):
    out, runs = _tables(tmp_path, "diff")
    pages = pages_df(spark, 40)
    run_extraction_job(
        spark, pages.filter(F.xxhash64("url") % 2 == 0), out, runs, CFG, run_id="r1"
    )
    run_extraction_job(spark, pages, out, runs, CFG, run_id="r2")
    delta = out.diff(spark, 1, 2)
    assert delta.count() == out.read(spark).count() - out.read(spark, snapshot_id=1).count()


def _inferred_schema(spark, table):
    """The schema Spark infers from the files of ``table``'s latest
    snapshot (a footer read)."""
    dirs = table.latest_snapshot()["data_dirs"]
    return spark.read.parquet(*[os.path.join(table.data_dir, d) for d in dirs]).schema


def test_read_takes_the_schema_from_the_manifest(spark, spark_jobs, tmp_path):
    """A table whose commits share one column set is read, and diffed, under
    the manifest's schema: planning the scan runs no Spark job, and the
    schema is exactly the one inference gives, nullability included. A
    manifest without per-commit column sets still reads, by inference."""
    import json

    out, runs = _tables(tmp_path, "schema")
    pages = pages_df(spark, 20)
    run_extraction_job(
        spark, pages.filter(F.xxhash64("url") % 2 == 0), out, runs, CFG, run_id="r1"
    )
    run_extraction_job(spark, pages, out, runs, CFG, run_id="r2")

    # the manifest marks the kernel's key columns non-null; a parquet scan
    # reads every column as nullable either way
    manifest = {f["name"]: f["nullable"] for f in out.latest_snapshot()["schema"]["fields"]}
    assert not any(manifest[c] for c in ("url", "rule", "success"))
    for table in (out, runs):
        df, jobs = spark_jobs(lambda: table.read(spark))
        assert jobs == 0
        assert df.schema == _inferred_schema(spark, table)
    delta, jobs = spark_jobs(lambda: out.diff(spark, 1, 2))
    assert jobs == 0 and delta.schema == _inferred_schema(spark, out)

    n = out.read(spark).count()
    path = os.path.join(out.snap_dir, "manifest-2.json")
    with open(path) as fh:
        snap = json.load(fh)
    del snap["commit_schemas"]
    with open(path, "w") as fh:
        json.dump(snap, fh)
    df, jobs = spark_jobs(lambda: out.read(spark))
    assert jobs == 1  # the footer read of schema inference
    assert df.schema == _inferred_schema(spark, out) and df.count() == n


def test_runs_table_mixes_spark_and_driver_written_commits(spark, tmp_path):
    """A runs table that holds a commit written by Spark (how runs rows
    were once written) and one written by the driver from a pyarrow.Table
    reads with the runs table's pinned column types. The driver's file
    carries no Arrow schema in its footer: the manifest holds the schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from py_image_toolkit_spark.plans.job import _RUNS_SCHEMA

    def rows(run_id, snapshot_id):
        return pa.Table.from_pylist(
            [
                {"partition_id": p, "rows_out": 4, "docs_in": 2, "rows_ok": 3,
                 "rows_failed": 1, "wall_us": 100 + p, "run_id": run_id,
                 "snapshot_id": snapshot_id, "job_wall_ms": 50}
                for p in range(3)
            ],
            schema=_RUNS_SCHEMA,
        )

    runs = SnapshotTable(str(tmp_path / "mixed_runs"))
    runs.append(spark.createDataFrame(rows("r1", 1)).coalesce(1), run_id="r1")
    commit = runs.write(rows("r2", 2))
    runs.publish(commit, from_arrow_schema(_RUNS_SCHEMA), run_id="r2")

    (fname,) = os.listdir(os.path.join(runs.data_dir, commit))
    footer = pq.read_metadata(os.path.join(runs.data_dir, commit, fname)).metadata or {}
    assert b"ARROW:schema" not in footer

    lin = runs.read(spark)
    assert lin.dtypes == [
        ("partition_id", "int"),
        ("rows_out", "bigint"),
        ("docs_in", "bigint"),
        ("rows_ok", "bigint"),
        ("rows_failed", "bigint"),
        ("wall_us", "bigint"),
        ("run_id", "string"),
        ("snapshot_id", "int"),
        ("job_wall_ms", "int"),
    ]
    assert lin.schema == _inferred_schema(spark, runs)
    got = sorted((r["run_id"], r["partition_id"], r["wall_us"]) for r in lin.collect())
    assert got == sorted((r, p, 100 + p) for r in ("r1", "r2") for p in range(3))


def test_manifest_stats_prune_commits(spark, tmp_path):
    """Iceberg-style commit pruning: read(where=...) skips whole commit
    directories whose recorded [min,max] cannot intersect the predicate."""
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "pruned"))
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).withColumnRenamed("id", "v")
        tbl.append(df, run_id=f"r{lo}", stats_cols=("v",))

    full = tbl.read(spark)
    assert full.count() == 300

    pruned = tbl.read(spark, where={"v": (150, 160)})
    assert pruned.count() == 100  # only the [100,199] commit survives
    # the pruned plan lists exactly one commit directory
    files = pruned.inputFiles()
    assert len({f.split("/commit-")[1].split("/")[0] for f in files}) == 1

    # no-stats commits are conservatively kept
    tbl.append(spark.range(900, 910).withColumnRenamed("id", "v"), run_id="nostats")
    kept = tbl.read(spark, where={"v": (150, 160)})
    assert kept.count() == 110  # matching commit + the stats-less one

    # fully disjoint predicate over only-stats commits -> None when nothing survives
    none_df = SnapshotTable(str(tmp_path / "p2"))
    none_df.append(spark.range(5).withColumnRenamed("id", "v"), stats_cols=("v",))
    assert none_df.read(spark, where={"v": (100, 200)}) is None


def test_manifest_stats_timestamp_bounds(spark, tmp_path):
    """Timestamp stats are stored as ISO strings in the manifest; read()
    normalizes datetime where-bounds the same way, so pruning on a
    timestamp column works with native datetime bounds (round-2 advice).
    Stats come from parquet footers (metadata-only) — TIMESTAMP_MICROS
    output keeps footer min/max available (INT96 would not)."""
    from datetime import datetime

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "ts_pruned"))
    for day in (1, 10, 20):
        df = spark.sql(
            f"SELECT TIMESTAMP'2024-03-{day:02d} 12:00:00' AS ts, {day} AS v"
        )
        tbl.append(df, run_id=f"d{day}", stats_cols=("ts",))

    snap = tbl.latest_snapshot()
    recorded = [s["ts"] for s in snap["commit_stats"].values()]
    assert all(isinstance(b, str) for lo_hi in recorded for b in lo_hi)

    got = tbl.read(
        spark,
        where={"ts": (datetime(2024, 3, 5), datetime(2024, 3, 15))},
    )
    rows = got.collect()
    assert [r["v"] for r in rows] == [10]  # only the mid-month commit survives


def test_manifest_stats_timestamp_boundary_equality(spark, tmp_path):
    """Round-3 ADVICE (medium): pyarrow footer stats for TIMESTAMP_MICROS
    are tz-aware, so before normalization the stored string carried a
    '+00:00' suffix while a naive where-bound did not — lexicographically
    hi < stat_min for EQUAL instants, silently pruning a commit whose min
    equals the upper bound. Pruning must be conservative: a bound exactly
    equal to a commit's min (or max) keeps the commit."""
    from datetime import datetime, timezone

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "ts_boundary"))
    df = spark.sql("SELECT TIMESTAMP'2024-03-15 00:00:00' AS ts, 1 AS v")
    tbl.append(df, run_id="d15", stats_cols=("ts",))

    # stored stats must render WITHOUT a utc offset suffix
    snap = tbl.latest_snapshot()
    (lo_hi,) = [s["ts"] for s in snap["commit_stats"].values()]
    assert lo_hi == ["2024-03-15 00:00:00", "2024-03-15 00:00:00"]

    # upper bound == commit min: the commit must survive pruning
    hit_hi = tbl.read(spark, where={"ts": (datetime(2024, 3, 1), datetime(2024, 3, 15))})
    assert hit_hi is not None and hit_hi.count() == 1
    # lower bound == commit max: likewise
    hit_lo = tbl.read(spark, where={"ts": (datetime(2024, 3, 15), datetime(2024, 3, 20))})
    assert hit_lo is not None and hit_lo.count() == 1
    # tz-aware where-bounds normalize to the same naive-UTC rendering
    aware = (
        datetime(2024, 3, 1, tzinfo=timezone.utc),
        datetime(2024, 3, 15, tzinfo=timezone.utc),
    )
    hit_aware = tbl.read(spark, where={"ts": aware})
    assert hit_aware is not None and hit_aware.count() == 1
    # and a genuinely disjoint bound still prunes
    assert tbl.read(spark, where={"ts": (datetime(2024, 3, 16), datetime(2024, 3, 20))}) is None


def test_concurrent_appends_no_lost_update(spark, tmp_path):
    """Round-2 made commits race-safe (tmp-write + O_EXCL hard-link publish
    + id-collision retry); prove it: N writers appending concurrently to the
    same table must ALL become visible — no lost update, snapshot ids form a
    contiguous lineage (round-2 verdict task #9). Threads suffice: the race
    window is the manifest read→link sequence, which is pure file I/O that
    releases the GIL."""
    from concurrent.futures import ThreadPoolExecutor

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "concurrent"))
    n_writers = 6

    def write_one(k: int) -> int:
        df = spark.range(k * 100, k * 100 + 10).withColumnRenamed("id", "v")
        return tbl.append(df, run_id=f"w{k}")

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        ids = list(ex.map(write_one, range(n_writers)))

    # every writer got a DISTINCT snapshot id, contiguous from 1
    assert sorted(ids) == list(range(1, n_writers + 1))
    # the final lineage lists every commit → all rows visible, none lost
    snap = tbl.latest_snapshot()
    assert snap["snapshot_id"] == n_writers
    assert len(snap["data_dirs"]) == n_writers
    rows = {r["v"] for r in tbl.read(spark).collect()}
    assert rows == {k * 100 + j for k in range(n_writers) for j in range(10)}


def test_compact_rewrites_lineage_preserves_rows_and_time_travel(spark, tmp_path):
    """compact(): many small commits → one replacing commit; rows identical,
    old snapshots still readable (time travel), file listing shrinks, and a
    concurrent append during the rewrite aborts instead of losing rows."""
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "compact"))
    for lo in (0, 10, 20, 30):
        tbl.append(spark.range(lo, lo + 10).withColumnRenamed("id", "v"))
    assert len(tbl.latest_snapshot()["data_dirs"]) == 4
    before = sorted(r["v"] for r in tbl.read(spark).collect())

    sid = tbl.compact(spark, target_partitions=1)
    snap = tbl.latest_snapshot()
    assert snap["snapshot_id"] == sid and len(snap["data_dirs"]) == 1
    assert sorted(r["v"] for r in tbl.read(spark).collect()) == before
    # time travel to a pre-compaction snapshot still works
    assert tbl.read(spark, snapshot_id=2).count() == 20
    # appends continue on top of the compacted lineage
    tbl.append(spark.range(100, 105).withColumnRenamed("id", "v"))
    assert tbl.read(spark).count() == 45

    # base-snapshot validation: a publish between read and commit aborts
    import pytest as _pytest

    base = tbl.latest_snapshot()["snapshot_id"]
    df = tbl.read(spark)
    tbl.append(spark.range(200, 202).withColumnRenamed("id", "v"))  # racer
    with _pytest.raises(RuntimeError, match="concurrent append during replace"):
        tbl.append(df, replace=True, require_base_snapshot=base)


def test_expire_snapshots_gc(spark, tmp_path):
    """expire_snapshots(): old manifests go, directories referenced only by
    them are deleted, the surviving snapshot is untouched."""
    import os as _os

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "expire"))
    for lo in (0, 10, 20):
        tbl.append(spark.range(lo, lo + 10).withColumnRenamed("id", "v"))
    tbl.compact(spark, target_partitions=1)

    deleted = tbl.expire_snapshots(keep_latest=1)
    # the three pre-compaction directories are unreferenced by the survivor
    assert len(deleted) == 3
    assert tbl.snapshot_ids() == [4]
    assert tbl.read(spark).count() == 30
    # expired time travel is really gone
    assert tbl.read(spark, snapshot_id=2) is None
    live_dirs = set(tbl.latest_snapshot()["data_dirs"])
    on_disk = set(_os.listdir(tbl.data_dir))
    assert on_disk == live_dirs


def test_schema_evolution_merge_and_compact(spark, tmp_path):
    """Additive schema evolution: a later commit adds a column; plain reads
    keep the base schema semantics, merge_schema=True surfaces the new
    column (NULL for pre-evolution rows), and compaction bakes the merged
    schema in for free afterward."""
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "evolve"))
    tbl.append(spark.range(0, 5).withColumnRenamed("id", "v"))
    tbl.append(
        spark.range(5, 8).withColumnRenamed("id", "v").withColumn("extra", F.lit("x"))
    )

    # a PLAIN read over a heterogeneous lineage must fail loudly (Spark
    # would otherwise sample one file's schema and silently drop columns)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different column sets"):
        tbl.read(spark)

    merged = tbl.read(spark, merge_schema=True)
    assert set(merged.columns) == {"v", "extra"}
    got = {r["v"]: r["extra"] for r in merged.collect()}
    assert got[0] is None and got[5] == "x" and len(got) == 8

    # compaction consolidates the merged schema → PLAIN reads see it now
    tbl.compact(spark, target_partitions=1)
    plain = tbl.read(spark)
    assert set(plain.columns) == {"v", "extra"}
    after = {r["v"]: r["extra"] for r in plain.collect()}
    assert after == got


def _driver_commit(table, urls):
    """Publish one driver-written commit of a one-column ``url`` table."""
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    commit = table.write(pa.table({"url": pa.array(urls, pa.string())}))
    table.publish(commit, StructType([StructField("url", StringType())]))
    return commit


def test_committed_returns_the_committed_subset(tmp_path):
    """``committed`` answers with the distinct non-null values the latest
    snapshot holds: duplicates, nulls and uncommitted values in the
    question do not come back, an empty question or a table without a
    snapshot gets an empty answer, and a manifest without
    ``commit_schemas`` answers the same."""
    import json

    import pyarrow as pa

    table = SnapshotTable(str(tmp_path / "lookup"))
    ask = pa.array(["a", "b", "a", None, "x", "c", "c"], pa.string())
    assert table.committed(ask).to_pylist() == []
    _driver_commit(table, ["a", "b", "q"])
    _driver_commit(table, ["c", "a"])
    assert sorted(table.committed(ask).to_pylist()) == ["a", "b", "c"]
    assert table.committed(ask[:0]).to_pylist() == []
    assert table.committed(pa.array([None, "x"], pa.string())).to_pylist() == []

    path = os.path.join(table.snap_dir, "manifest-2.json")
    with open(path) as fh:
        snap = json.load(fh)
    del snap["commit_schemas"]
    with open(path, "w") as fh:
        json.dump(snap, fh)
    assert sorted(table.committed(ask).to_pylist()) == ["a", "b", "c"]


def test_committed_reads_spark_and_kernel_written_commits(spark, tmp_path):
    """A table whose lineage mixes a commit Spark wrote (``append``, with
    its ``_SUCCESS`` and ``.crc`` files) and commits the kernel's tasks
    wrote answers from all of them, and a resume call over it extracts
    exactly the pages no commit holds."""
    import pyarrow as pa

    from py_image_toolkit_spark.operators.doc_kernel import DOC_SCHEMA, doc_extract_df

    out, runs = _tables(tmp_path, "mixed")
    pages = pages_df(spark, 30)
    third = F.pmod(F.xxhash64("url"), F.lit(3))
    spark_commit = out.write(doc_extract_df(pages.filter(third == 0), CFG))
    out.publish(spark_commit, DOC_SCHEMA, run_id="spark")
    names = os.listdir(os.path.join(out.data_dir, spark_commit))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    a, b, c = (pages.filter(third == k).count() for k in range(3))
    assert min(a, b, c) > 0
    s1 = run_extraction_job(spark, pages.filter(third < 2), out, runs, CFG, run_id="r1")
    s2 = run_extraction_job(spark, pages, out, runs, CFG, run_id="r2")
    assert (s1["docs_in"], s2["docs_in"]) == (b, c)

    urls = [r["url"] for r in pages.select("url").collect()]
    ask = pa.array(urls + ["https://nowhere.invalid/"], pa.string())
    assert sorted(out.committed(ask).to_pylist()) == sorted(urls)


def test_committed_answers_from_live_commits_only(spark, tmp_path):
    """After ``compact``, only the compacted commit is live: a url that
    exists only in a pre-compaction commit dir (kept on disk for time
    travel) or in an unpublished commit dir does not come back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = SnapshotTable(str(tmp_path / "compacted"))
    old = _driver_commit(table, ["a", "b"])
    _driver_commit(table, ["c"])
    table.compact(spark, target_partitions=1)
    assert old not in table.latest_snapshot()["data_dirs"]
    pq.write_table(
        pa.table({"url": ["ghost"]}),
        os.path.join(table.data_dir, old, "part-00001.parquet"),
    )
    table.write(pa.table({"url": ["orphan"]}))  # never published
    ask = pa.array(["a", "b", "c", "ghost", "orphan"], pa.string())
    assert sorted(table.committed(ask).to_pylist()) == ["a", "b", "c"]


def test_null_url_pages_are_never_extracted(spark, tmp_path):
    """A page whose url is null is dropped by a fresh call and by a resume
    call alike: it is not extracted, not counted in ``docs_in``, and a
    resume call whose only uncommitted page has a null url runs no kernel
    job."""
    out, runs = _tables(tmp_path, "nulls")
    pages = pages_df(spark, 10)
    nulls = pages.limit(1).withColumn("url", F.lit(None).cast("string"))
    half = pages.filter(F.xxhash64("url") % 2 == 0)
    n = half.count()

    s1 = run_extraction_job(spark, half.unionByName(nulls), out, runs, CFG, run_id="r1")
    assert s1["docs_in"] == n and s1["rows_out"] == n * len(CFG.rules)
    s2 = run_extraction_job(spark, pages.unionByName(nulls), out, runs, CFG, run_id="r2")
    assert s2["docs_in"] == 10 - n
    s3 = run_extraction_job(spark, pages.unionByName(nulls), out, runs, CFG, run_id="r3")
    assert s3["docs_in"] == 0 and s3["snapshot_id"] is None
    assert out.read(spark).filter(F.col("url").isNull()).count() == 0
    assert out.read(spark).select("url").distinct().count() == 10
