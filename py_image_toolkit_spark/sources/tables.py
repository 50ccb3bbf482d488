"""Snapshot-versioned table: Iceberg-semantics commits over plain parquet
(SURVEY.md §7.3).

The north rule mandates Iceberg tables; this sandbox has no Iceberg runtime
jar, so the same API is provided over a manifest-committed parquet layout:

    {root}/data/commit-<uuid>/part-*.parquet      (written, then committed)
    {root}/_snapshots/manifest-<n>.json           (atomic rename = commit)

Readers resolve the highest manifest and read exactly the data directories
it lists — a crashed job's orphan directory is invisible (≙ the reference's
partial-output cleanup, resize.py:134-140, but free by construction: A9).
Appends are atomic: data lands first (``write``, from a Spark DataFrame or,
for a handful of driver-side rows, a ``pyarrow.Table``), the manifest rename
publishes it (``publish``); ``append`` does both, and a writer that decides
after landing its data not to publish it calls ``discard``. A commit dir may
also be filled by other writers: ``new_commit`` allocates an empty one, and
the extraction job's kernel tasks write their parquet files straight into
it and return their descriptors, which the driver publishes (≙ Iceberg's
writer tasks returning data files to the committing driver). Such writers
run on the executors, so the table root must be the same POSIX path on
every executor and the driver.

The table owns its data-file format (≙ Iceberg's
``write.parquet.compression-codec``/``-level`` table properties), so no
writer chooses one. Every file written outside Spark (the kernel's tasks,
the driver's ``write`` of a ``pyarrow.Table``) goes through ``write_part``;
Spark's writes (``write`` of a DataFrame, ``compact``) state the same codec.
A commit's data files are its non-hidden ``*.parquet`` files
(``_data_files``): Spark also leaves ``_SUCCESS`` and ``.crc`` files, and a
failed task attempt may leave its hidden temp file.

The manifest is the table's metadata: it records the schema and each
commit's column set, so a read whose commits all share the schema's columns
plans its scan without opening a file footer (no Spark job).

``committed`` answers "which of these keys does the table already hold" on
the driver, without Spark: it reads one column of the latest snapshot's
data files with ``pyarrow.dataset`` under an ``isin`` filter, so its memory
is bounded by the keys asked about, never by the table. The resumable
extraction job asks it for the urls of its input, so the driver reads the
table root too.

On a real cluster with iceberg-spark-runtime on the classpath, swap
``SnapshotTable`` for ``df.writeTo(table).append()`` — the pipeline code
only touches this API.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Iterable
from datetime import timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_RE = re.compile(r"manifest-(\d+)\.json$")

# The data-file format: zstd at level 3, the level Spark's parquet writer
# uses (pyarrow's default level 1 stores ~3% more per doc); no Arrow schema
# in the footer, since the manifest holds the schema; footer min/max only
# for the key columns a commit may be pruned on or looked up by (min/max of
# the text columns add ~7 KB to a 250-doc file). ``warc_ts`` is written as
# Arrow holds it, int64 micros adjusted to UTC.
_PARQUET_OPTIONS = {"compression": "zstd", "compression_level": 3, "store_schema": False}
_KEY_COLUMNS = ("url", "warc_ts")
# rows are buffered into row groups of about the size of Spark's parquet
# blocks (parquet.block.size), so a file is one row group unless it is larger
_ROW_GROUP_BYTES = 128 << 20


def part_file(partition_id: int) -> str:
    """The name of the data file ``write_part`` lands for ``partition_id``."""
    return f"part-{partition_id:05d}.parquet"


def _data_files(commit_dir: str) -> list[str]:
    """The paths of a commit dir's data files: its ``*.parquet`` files that
    are not hidden (``.``/``_``)."""
    return [
        os.path.join(commit_dir, f) for f in sorted(os.listdir(commit_dir))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def write_part(
    commit_dir: str,
    partition_id: int,
    attempt_id: int,
    batches: Iterable[pa.RecordBatch],
    schema: pa.Schema,
) -> int:
    """Write ``batches`` (of ``schema``) in the table's format as the data
    file ``part_file(partition_id)`` of ``commit_dir``. Returns the rows
    written; with none, no file is written.

    The file is written under a hidden name of its own attempt and renamed
    into place once complete, so a retried or speculative attempt of the
    same partition replaces it whole."""
    tmp = os.path.join(commit_dir, f".{part_file(partition_id)}.{attempt_id}")
    writer = None
    group: list[pa.RecordBatch] = []
    group_bytes = rows = 0
    try:
        for batch in batches:
            group.append(batch)
            group_bytes += batch.nbytes
            rows += batch.num_rows
            if group_bytes >= _ROW_GROUP_BYTES:
                writer = _write_row_group(writer, tmp, schema, group)
                group, group_bytes = [], 0
        writer = _write_row_group(writer, tmp, schema, group)
    finally:
        if writer is not None:
            writer.close()
    if rows:
        os.replace(tmp, os.path.join(commit_dir, part_file(partition_id)))
    return rows


def _write_row_group(
    writer: pq.ParquetWriter | None,
    path: str,
    schema: pa.Schema,
    group: list[pa.RecordBatch],
) -> pq.ParquetWriter | None:
    """Write the rows of ``group`` as one row group, opening the file on
    the first."""
    table = pa.Table.from_batches(group, schema)
    if not table.num_rows:
        return writer
    if writer is None:
        writer = pq.ParquetWriter(
            path, schema, **_PARQUET_OPTIONS,
            write_statistics=[c for c in _KEY_COLUMNS if c in schema.names],
        )
    writer.write_table(table, row_group_size=table.num_rows)
    return writer


def _load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _manifest_schema(snap: dict, dirs: list[str]) -> StructType | None:
    """The manifest's schema when it describes every commit in ``dirs``:
    each has a ``commit_schemas`` entry naming exactly the schema's columns.
    ``None`` for a lineage recorded before ``commit_schemas`` existed or
    whose commits disagree; the reader then infers the schema from a file
    footer, one Spark job."""
    cs = snap.get("commit_schemas", {})
    schema = StructType.fromJson(snap["schema"])
    if all(cs.get(d) == schema.names for d in dirs):
        return schema
    return None


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Bucketed co-located table (J5): pay the shuffle ONCE at write time —
    every later equi-join or aggregation on ``key`` between tables bucketed
    with the same count is then exchange-free (Spark reads bucket i of both
    sides into the same task). The big-join staging pattern at 100 TB:
    bucket the corpus by url/doc_id when it lands, and the dedup/verify/
    enrich joins that follow never reshuffle the text again
    (tests/test_plan_contracts.py asserts the exchange-free plan)."""
    w = df.write.bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.option("path", path).mode("overwrite").format("parquet").saveAsTable(table_name)


def _json_safe(v):
    """Manifest stats must round-trip through JSON (timestamps → ISO with a
    space separator — lexicographic order == chronological order, so pruning
    comparisons on the stored strings stay correct).

    tz-aware datetimes are normalized to naive UTC first: pyarrow footer
    stats for TIMESTAMP columns come back tz-aware ('… 00:00:00+00:00')
    while a naive where-bound renders without the offset — lexicographic
    compare would then treat EQUAL instants as hi < stat_min and prune a
    commit whose min equals the upper bound (round-3 ADVICE, confirmed
    empirically). Applied to both footer stats and where-bounds, so both
    sides of every pruning comparison share one canonical rendering."""
    if getattr(v, "tzinfo", None) is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return v


def _footer_stats(commit_dir: str, stats_cols: tuple[str, ...]) -> dict[str, list]:
    """Per-column [min, max] from parquet row-group footer statistics —
    metadata-only (never scans column data). A column missing min/max in any
    row group is recorded as [None, None] (pruning keeps it)."""
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    known = set(stats_cols)
    for path in _data_files(commit_dir):
        md = pq.ParquetFile(path).metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        for c in stats_cols:
            if c not in known:
                continue
            i = idx.get(c)
            if i is None:
                known.discard(c)
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    known.discard(c)
                    break
                if c not in mins or st.min < mins[c]:
                    mins[c] = st.min
                if c not in maxs or st.max > maxs[c]:
                    maxs[c] = st.max
    return {
        c: (
            [_json_safe(mins[c]), _json_safe(maxs[c])]
            if c in known and c in mins
            else [None, None]
        )
        for c in stats_cols
    }


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _manifests(self) -> list[tuple[int, str]]:
        out = []
        for f in os.listdir(self.snap_dir):
            m = _MANIFEST_RE.match(f)
            if m:
                out.append((int(m.group(1)), os.path.join(self.snap_dir, f)))
        return sorted(out)

    def latest_snapshot(self) -> dict | None:
        ms = self._manifests()
        return _load_json(ms[-1][1]) if ms else None

    def snapshot_ids(self) -> list[int]:
        return [n for n, _ in self._manifests()]

    # -- write path ----------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        run_id: str | None = None,
        meta: dict | None = None,
        stats_cols: tuple[str, ...] = (),
        replace: bool = False,
        require_base_snapshot: int | None = None,
    ) -> int:
        """Write df to a fresh commit directory, then publish it with an
        optimistic-concurrency manifest commit. Returns the new snapshot id.
        ``write`` + ``publish`` in one call; see them for the arguments."""
        return self.publish(
            self.write(df),
            df.schema,
            run_id=run_id,
            meta=meta,
            stats_cols=stats_cols,
            replace=replace,
            require_base_snapshot=require_base_snapshot,
        )

    def write(self, df: DataFrame | pa.Table) -> str:
        """Land df's data in a fresh commit directory, invisible to readers
        until ``publish``. Returns the commit (the directory's name under
        ``data/``); pass it to ``publish`` or ``discard``.

        A Spark DataFrame is written by a Spark job, zstd-compressed by the
        table rather than by the session's default codec. A
        ``pyarrow.Table`` (rows the driver already holds) is written by the
        driver with ``write_part``, as one file and without a Spark job; an
        empty one lands no file."""
        commit = self.new_commit()
        path = os.path.join(self.data_dir, commit)
        if isinstance(df, pa.Table):
            write_part(path, 0, 0, df.to_batches(), df.schema)
        else:
            df.write.option("compression", "zstd").mode("append").parquet(path)
        return commit

    def new_commit(self) -> str:
        """Create a fresh, empty commit directory, invisible to readers
        until ``publish``, for a writer that lands its own files there (the
        doc kernel's tasks do). Returns the commit (the directory's name
        under ``data/``); pass it to ``publish`` or ``discard``."""
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        os.mkdir(os.path.join(self.data_dir, commit))
        return commit

    def discard(self, commit: str) -> None:
        """Delete an unpublished commit directory."""
        shutil.rmtree(os.path.join(self.data_dir, commit))

    def publish(
        self,
        commit: str,
        schema: StructType,
        run_id: str | None = None,
        meta: dict | None = None,
        stats_cols: tuple[str, ...] = (),
        replace: bool = False,
        require_base_snapshot: int | None = None,
    ) -> int:
        """Publish a commit from ``write`` (whose data has ``schema``) with
        an optimistic-concurrency manifest commit. Returns the new snapshot
        id.

        Concurrency (Iceberg-style optimistic commit): the manifest file is
        created with O_EXCL — if another writer committed the same snapshot
        id first, the create fails, the data_dirs lineage is re-read and the
        commit retries with the next id. Without this, two concurrent appends
        could both read the same latest manifest and the second rename would
        silently drop the first commit's data directory from the lineage.

        ``stats_cols``: record per-commit min/max for these columns in the
        manifest (Iceberg-style data-file stats). ``read(where=...)`` uses
        them to skip whole commit directories — at 10^12 docs this is the
        difference between scanning one day's append and the whole table.
        The stats come from the just-written parquet FOOTERS (pyarrow
        row-group statistics — metadata-only, no column-data scan); a column
        whose footer stats are absent is recorded as unknown and ``read``
        keeps its commits conservatively. Parquet may store truncated bounds
        for long binary values — still valid (loose) bounds, so pruning
        stays conservative."""
        stats: dict[str, list] = {}
        if stats_cols:
            stats = _footer_stats(os.path.join(self.data_dir, commit), stats_cols)

        while True:
            prev = self.latest_snapshot()
            snapshot_id = (prev["snapshot_id"] + 1) if prev else 1
            if require_base_snapshot is not None and (
                prev is None or prev["snapshot_id"] != require_base_snapshot
            ):
                # Iceberg-style validation: a replacing commit built from
                # snapshot N must abort if anyone has published past N —
                # silently replacing would drop their rows from the lineage
                raise RuntimeError(
                    "concurrent append during replace: base snapshot "
                    f"{require_base_snapshot} is no longer latest"
                )
            if replace:
                # replacing commit (compaction): the new lineage is exactly
                # this commit; prior directories stay on disk for time travel
                dirs = [commit]
                commit_stats = {}
                commit_schemas = {}
            else:
                dirs = (prev["data_dirs"] if prev else []) + [commit]
                commit_stats = dict(prev.get("commit_stats", {})) if prev else {}
                commit_schemas = dict(prev.get("commit_schemas", {})) if prev else {}
            if stats:
                commit_stats[commit] = stats
            # per-commit column sets (manifest-only): lets read() detect a
            # heterogeneous lineage without touching any file footer
            commit_schemas[commit] = list(schema.names)
            manifest = {
                "snapshot_id": snapshot_id,
                "data_dirs": dirs,
                "run_id": run_id,
                "committed_at": time.time(),
                "schema": schema.jsonValue(),
                "meta": meta or {},
                "commit_stats": commit_stats,
                "commit_schemas": commit_schemas,
            }
            target = os.path.join(self.snap_dir, f"manifest-{snapshot_id}.json")
            # tmp-write + hard-link publish: link(2) is atomic for readers
            # (no partially-written manifest is ever visible) AND fails with
            # EEXIST if a concurrent writer already claimed this id
            tmp = os.path.join(
                self.snap_dir, f".manifest-{snapshot_id}.json.{commit}.tmp"
            )
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            try:
                os.link(tmp, target)
            except FileExistsError:
                os.unlink(tmp)
                continue  # lost the race: re-read lineage, try the next id
            os.unlink(tmp)
            return snapshot_id

    # -- read path -----------------------------------------------------------

    def committed(self, values: pa.Array, column: str = "url") -> pa.Array:
        """The distinct non-null ``values`` that ``column`` of the latest
        snapshot holds (empty if there is no snapshot), without Spark.

        Only ``column`` of the snapshot's data files is read, under an
        ``isin(values)`` filter, so memory is bounded by ``values``, not by
        the table. Only the commits' data files (``_data_files``) are read.
        Nothing is taken from the manifest's ``commit_schemas``, so a table
        written before it existed answers the same way."""
        values = pc.unique(values.drop_null())
        snap = self.latest_snapshot()
        if snap is None or not len(values):
            return values[:0]
        files = [
            f for commit in snap["data_dirs"]
            for f in _data_files(os.path.join(self.data_dir, commit))
        ]
        found = ds.dataset(
            files, schema=pa.schema([(column, values.type)]), format="parquet"
        ).to_table(filter=ds.field(column).isin(values))
        return pc.unique(found.column(column).combine_chunks())

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        where: dict | None = None,
        merge_schema: bool = False,
    ) -> DataFrame | None:
        """DataFrame over exactly the committed files (None if no snapshot
        exists yet). ``snapshot_id`` time-travels to an older snapshot.

        The scan takes the manifest's schema when every commit read records
        exactly its columns, so planning it opens no file and runs no Spark
        job; otherwise (a table written before ``commit_schemas`` existed)
        Spark infers the schema from a file footer.

        ``merge_schema=True`` unions the schemas of all live commits
        (Iceberg-style additive evolution: a commit may add columns; older
        rows read NULL for them). Off by default — schema merging reads
        every file's footer up front, a real cost at 10^12-doc commit
        counts; compaction rewrites the table under the merged schema, after
        which plain reads see it for free.

        ``where={col: (lo, hi)}`` prunes whole commit directories whose
        recorded [min, max] for ``col`` does not intersect [lo, hi]
        (Iceberg-style manifest pruning; commits without stats for ``col``
        are conservatively kept). The residual row-level filter is still the
        caller's job — this only shrinks the file listing."""
        if snapshot_id is None:
            snap = self.latest_snapshot()
        else:
            path = os.path.join(self.snap_dir, f"manifest-{snapshot_id}.json")
            snap = _load_json(path) if os.path.exists(path) else None
        if snap is None or not snap["data_dirs"]:
            return None
        dirs = snap["data_dirs"]
        if where:
            cstats = snap.get("commit_stats", {})
            # normalize bounds the same way stats were stored (timestamps →
            # ISO strings), so datetime bounds compare against string stats
            # correctly instead of raising/mispruning
            norm = {c: (_json_safe(lo), _json_safe(hi)) for c, (lo, hi) in where.items()}
            dirs = [
                d for d in dirs
                if all(
                    d not in cstats
                    or c not in cstats[d]
                    or cstats[d][c][0] is None
                    or not (hi < cstats[d][c][0] or lo > cstats[d][c][1])
                    for c, (lo, hi) in norm.items()
                )
            ]
        if not dirs:
            return None
        if not merge_schema:
            # Guard against silent column loss: without mergeSchema, Spark
            # samples ONE file's schema for the whole scan, so a lineage
            # whose commits disagree on columns (e.g. an append after an
            # additive schema change) would silently drop or null columns
            # depending on which file wins. Detect it manifest-only (no
            # footer reads) and fail with the remedy. Tables written before
            # commit_schemas existed have no per-commit record — those read
            # as before.
            cs = snap.get("commit_schemas", {})
            col_sets = {tuple(cs[d]) for d in dirs if d in cs}
            if len(col_sets) > 1:
                raise ValueError(
                    f"SnapshotTable at {self.root}: live commits carry "
                    f"{len(col_sets)} different column sets "
                    f"{sorted(col_sets)}; pass merge_schema=True, or "
                    "compact() the table to consolidate the union schema"
                )
        return self._scan(spark, snap, dirs, merge_schema)

    def _scan(
        self, spark: SparkSession, snap: dict, dirs: list[str], merge_schema: bool = False
    ) -> DataFrame:
        """A parquet scan over ``dirs`` of snapshot ``snap``: schema merged
        across files, or taken from the manifest when it describes them all,
        or inferred from one file's footer."""
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        elif (schema := _manifest_schema(snap, dirs)) is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[os.path.join(self.data_dir, d) for d in dirs])

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int | None = None,
        stats_cols: tuple[str, ...] = (),
    ) -> int | None:
        """Rewrite ALL live data directories into one fresh commit and
        publish a manifest whose lineage is exactly that commit — the
        small-files maintenance op (at 10^12 docs, thousands of incremental
        appends otherwise degrade every scan's split planning and footer
        reads; ≙ Iceberg's rewrite_data_files).

        Time travel is preserved: old manifests still list the old
        directories, which are NOT deleted here (garbage collection of
        unreferenced directories is a separate, explicitly-destructive
        step — see ``expire_snapshots``). Readers are never disturbed: data
        lands first, the O_EXCL manifest link publishes atomically. A
        concurrent append racing the rewrite makes the compaction ABORT
        (Iceberg-style base-snapshot validation) rather than silently drop
        the appended rows from the replacing lineage — retry when quiet.
        Returns the new snapshot id (None for an empty table)."""
        base = self.latest_snapshot()
        if base is None or not base["data_dirs"]:
            return None
        # merge_schema: the rewrite consolidates any additive schema
        # evolution — afterwards plain reads see the union schema for free
        df = self.read(spark, snapshot_id=base["snapshot_id"], merge_schema=True)
        if target_partitions:
            df = df.repartition(target_partitions)
        return self.append(
            df,
            run_id="compact",
            stats_cols=stats_cols,
            meta={"compacted": True, "base_snapshot": base["snapshot_id"]},
            replace=True,
            require_base_snapshot=base["snapshot_id"],
        )

    def expire_snapshots(self, keep_latest: int = 1) -> list[str]:
        """Drop manifests older than the ``keep_latest`` most recent and
        delete data directories no surviving manifest references. The
        explicitly-destructive half of compaction — time travel to expired
        snapshots is gone afterward. Returns the deleted directory names."""
        ms = self._manifests()
        if len(ms) <= keep_latest:
            return []
        keep, drop = ms[-keep_latest:], ms[:-keep_latest]
        live: set[str] = set()
        for _, path in keep:
            live.update(_load_json(path)["data_dirs"])
        doomed: set[str] = set()
        for _, path in drop:
            doomed.update(_load_json(path)["data_dirs"])
            os.unlink(path)
        deleted = []
        for d in sorted(doomed - live):
            if os.path.isdir(os.path.join(self.data_dir, d)):
                self.discard(d)
                deleted.append(d)
        return deleted

    def diff(self, spark: SparkSession, from_snapshot: int, to_snapshot: int) -> DataFrame | None:
        """Rows appended between two snapshots (incremental-read primitive),
        under ``to_snapshot``'s schema by the same rule as ``read``."""
        a = _load_json(os.path.join(self.snap_dir, f"manifest-{from_snapshot}.json"))
        b = _load_json(os.path.join(self.snap_dir, f"manifest-{to_snapshot}.json"))
        new_dirs = [d for d in b["data_dirs"] if d not in set(a["data_dirs"])]
        if not new_dirs:
            return None
        return self._scan(spark, b, new_dirs)
