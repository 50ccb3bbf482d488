"""The two workloads: how each builds its inputs, what one unit of work is,
and how its committed output is checked.

Both drive ``plans.job.run_extraction_job`` as a closed loop with one
client: the next call starts only after the previous one has committed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import page_row, pages_df
from py_image_toolkit_spark.oracle.extractor import extract_document
from py_image_toolkit_spark.plans.job import run_extraction_job
from py_image_toolkit_spark.sources.tables import SnapshotTable

CFG = ExtractConfig()
ORACLE_SAMPLE = 16  # committed urls compared byte for byte per checked table


@dataclass
class Op:
    """One ``run_extraction_job`` call."""

    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    summary: dict
    new_docs: int  # docs the call must extract and commit
    offered_replayed: int  # already-committed docs re-offered to the call
    error: str | None = None

    @property
    def latency_s(self) -> float:
        return self.end - self.start


@dataclass
class Unit:
    """One unit of work: a job (extract_job) or a drain (incremental_resume)."""

    out: SnapshotTable
    runs: SnapshotTable
    wall_s: float = 0.0
    ops: list[Op] = field(default_factory=list)

    @property
    def docs(self) -> int:
        return sum(op.new_docs for op in self.ops)


def op_error(op: Op) -> str | None:
    """The per-call output check: the call extracted exactly its new docs,
    one row per rule each, and skipped every re-offered doc."""
    s = op.summary
    if s["docs_in"] != op.new_docs:
        return f"docs_in={s['docs_in']} expected {op.new_docs}"
    if s["rows_out"] != op.new_docs * len(CFG.rules):
        return f"rows_out={s['rows_out']} expected {op.new_docs * len(CFG.rules)}"
    return None


def _row_mismatch(row: dict, rec: dict) -> str | None:
    """The first field where a committed row differs from the oracle's."""
    for key, want in rec.items():
        got = row[key]
        if key == "spans":
            got = [s.asDict() for s in got or []]
        if got != want:
            return f"{rec['url']} {rec['rule']} {key}: {got!r} != {want!r}"
    return None


class Workload:
    """Inputs are a pure function of (seed, size): the set-up generates
    them with ``fixtures.pages_df`` into a fresh directory."""

    name = ""
    WARM_UNITS = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.pages_path = ""

    @property
    def n_docs(self) -> int:
        raise NotImplementedError

    def generate(self, spark, path: str) -> None:
        raise NotImplementedError

    def warm_up(self, spark, root: str) -> None:
        """``WARM_UNITS`` units into scratch tables, untimed and unlabelled,
        so the JVM's JIT and the Python workers are warm before timing."""
        from perfbench.trace import Tracer

        for i in range(self.WARM_UNITS):
            self.run_unit(spark, Tracer(enabled=False), f"{root}/unit{i}", first_op=-1)

    def run_unit(self, spark, tracer, root: str, first_op: int) -> Unit:
        raise NotImplementedError

    def probe_input(self, spark):
        """Pages of one call's new docs, for the per-layer probes."""
        raise NotImplementedError

    def last_call_input(self, spark):
        """The input of a unit's last call, all of it committed once the
        unit is done: (pages, doc count)."""
        raise NotImplementedError

    def _call(self, spark, tracer, pages, unit: Unit, op_index: int, new: int, replayed: int) -> Op:
        summary, error = {}, None
        with tracer.span(f"op:{op_index}", label=True) as sp:
            try:
                summary = run_extraction_job(spark, pages, unit.out, unit.runs, CFG, run_id=f"op-{op_index}")
            except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
                error = f"raised {type(e).__name__}: {e}"
        op = Op(sp.start, sp.end, summary, new, replayed, error)
        op.error = op.error or op_error(op)
        unit.ops.append(op)
        return op

    # -- output checks (outside the timed phase) ---------------------------

    def check_tables(self, spark, units: list[Unit]) -> list[str | None]:
        """One problem (or ``None``) per unit. Every url of a unit's table
        must be committed once with exactly one row per rule, and every
        input doc must be there; the tables of all units are counted in one
        Spark pass. The last unit's table must also hold a fixed url sample
        byte-equal to ``oracle.extractor.extract_document``."""
        problems: list[str | None] = [None] * len(units)
        frames = []
        for i, unit in enumerate(units):
            df = unit.out.read(spark)
            if df is None:
                problems[i] = "no snapshot committed"
            else:
                frames.append(df.select("url").withColumn("unit", F.lit(i)))
        counts = {}
        if frames:
            per_url = reduce(DataFrame.unionByName, frames).groupBy("unit", "url").count()
            counts = {
                r["unit"]: r
                for r in per_url.groupBy("unit").agg(
                    F.count("*").alias("urls"), F.min("count").alias("lo"), F.max("count").alias("hi")
                ).collect()
            }
        rules = len(CFG.rules)
        for i, unit in enumerate(units):
            if problems[i]:
                continue
            c = counts.get(i)
            if c is None or c["urls"] != unit.docs or c["lo"] != rules or c["hi"] != rules:
                got = f"urls={c['urls']}, rows per url in [{c['lo']}, {c['hi']}]" if c else "no rows"
                problems[i] = f"{got} (expected {unit.docs} urls, {rules} rows each)"
        if not problems[-1]:
            problems[-1] = self._oracle_problem(spark, units[-1])
        return problems

    def _oracle_problem(self, spark, unit: Unit) -> str | None:
        idx = random.Random(self.seed).sample(range(unit.docs), min(ORACLE_SAMPLE, unit.docs))
        pages = [page_row(i, self.seed) for i in idx]
        want = {(r["url"], r["rule"]): r for p in pages for r in extract_document(p["url"], p["html"], CFG)}
        got = unit.out.read(spark).where(F.col("url").isin([p["url"] for p in pages])).collect()
        if len(got) != len(want):
            return f"oracle sample: {len(got)} committed rows, expected {len(want)}"
        for row in got:
            problem = _row_mismatch(row.asDict(), want[(row["url"], row["rule"])])
            if problem:
                return "oracle mismatch " + problem
        return None


class ExtractJob(Workload):
    """One production job (CLI ``extract``) over N pages of the default mix
    into a fresh output table; a unit is one job."""

    name = "extract_job"
    N_DOCS = 8_000
    # after one warm-up job the timed jobs still got 10-30% faster; after
    # two, the timed jobs of most runs are within 10% of each other
    WARM_UNITS = 2

    @property
    def n_docs(self) -> int:
        return self.N_DOCS

    def generate(self, spark, path: str) -> None:
        parts = spark.sparkContext.defaultParallelism
        pages_df(spark, self.N_DOCS, seed=self.seed, partitions=parts).write.parquet(path)
        self.pages_path = path

    def run_unit(self, spark, tracer, root: str, first_op: int) -> Unit:
        unit = Unit(SnapshotTable(f"{root}/out"), SnapshotTable(f"{root}/runs"))
        pages = spark.read.parquet(self.pages_path)
        self._call(spark, tracer, pages, unit, first_op, self.N_DOCS, 0)
        return unit

    def probe_input(self, spark):
        return spark.read.parquet(self.pages_path)

    def last_call_input(self, spark):
        return spark.read.parquet(self.pages_path), self.N_DOCS


class IncrementalResume(Workload):
    """A drain of B batches into one table. Batch i offers its K new pages
    plus batch i-1's K pages again; the resume anti-join must skip the
    replayed ones. A unit is one whole drain into a fresh table."""

    name = "incremental_resume"
    BATCHES = 3
    BATCH_NEW = 500

    @property
    def n_docs(self) -> int:
        return self.BATCHES * self.BATCH_NEW

    def generate(self, spark, path: str) -> None:
        parts = spark.sparkContext.defaultParallelism
        index = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("int")
        pages = pages_df(spark, self.n_docs, seed=self.seed, partitions=parts)
        pages.withColumn("batch", (index / self.BATCH_NEW).cast("int")).write.partitionBy(
            "batch"
        ).parquet(path)
        self.pages_path = path

    def batch_input(self, spark, i: int):
        dirs = [f"{self.pages_path}/batch={b}" for b in (i - 1, i) if b >= 0]
        return spark.read.parquet(*dirs)

    def run_unit(self, spark, tracer, root: str, first_op: int) -> Unit:
        unit = Unit(SnapshotTable(f"{root}/out"), SnapshotTable(f"{root}/runs"))
        for i in range(self.BATCHES):
            op = self._call(
                spark, tracer, self.batch_input(spark, i), unit, first_op + i,
                self.BATCH_NEW, self.BATCH_NEW if i else 0,
            )
            if op.error:  # the table no longer matches the drain; stop it
                break
        return unit

    def probe_input(self, spark):
        return spark.read.parquet(f"{self.pages_path}/batch={self.BATCHES - 1}")

    def last_call_input(self, spark):
        return self.batch_input(spark, self.BATCHES - 1), 2 * self.BATCH_NEW


WORKLOADS = {w.name: w for w in (ExtractJob, IncrementalResume)}
