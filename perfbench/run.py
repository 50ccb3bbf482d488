"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 15 --trace 0

One process drives one local-mode session (``local[nproc]``) as a closed
loop with one client. It sets up once (session start, input generation,
untimed units of work as warm-up), then repeats the workload's unit of
work until ``--seconds`` have passed and ``MIN_UNITS`` units are done,
checks the committed outputs, and prints one JSON object as its last line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs an
untraced timed phase, then restarts the session with Spark's event log
on, labels every call with a job group, runs a traced timed phase plus the
per-layer probes, and reports the per-layer metrics; each timed phase
lasts half of ``--seconds``. Spans are written to
``perfbench/out/`` when the run ends. Everything else the run writes lives
under ``perfbench/.work/`` and is deleted before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the checkout root holds the package and perfbench

from perfbench.eventlog import LabelStats, label_table, read_events, union_length  # noqa: E402
from perfbench.stats import median, stored_bytes, tail_percentile  # noqa: E402
from perfbench.trace import RssSampler, Tracer, descendants  # noqa: E402


# Units the untraced timed phase runs at least, so that the median unit has
# one on each side and a single unit slowed by another tenant of the host
# cannot move it.
MIN_UNITS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time another tenant took (``steal`` in
    ``/proc/stat``) between two readings of ``cpu_times``."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Bench:
    """Owns the work directory, the Spark session and the JVM behind it."""

    def __init__(self, workload, tracer, work: str):
        self.wl = workload
        self.tracer = tracer
        self.work = work
        self.spark = None
        self.ops_started = 0
        for sub in ("spark-local", "tmp", "warehouse", "events"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # Spark's scratch space, the JVM's and the workers' temp files, and
        # the workers' import path all point into the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def start_session(self, event_log: bool = False):
        from py_image_toolkit_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
            })
        n = nproc()
        self.spark = build_session(
            f"perfbench-{self.wl.name}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark if event_log else None
        return self.spark

    def setup(self, t_process: float) -> dict[str, float]:
        """Start the session (launching the JVM), generate the inputs and
        warm up; ``setup_s`` runs from process start to the end of it."""
        out = {}
        with self.tracer.span("setup"):
            with self.tracer.span("session.start") as sp:
                self.start_session()
            out["session_s"] = sp.seconds
            with self.tracer.span("fixtures.gen") as sp:
                self.wl.generate(self.spark, os.path.join(self.work, "pages"))
            out["gen_s"] = sp.seconds
            with self.tracer.span("warm_up"):
                self.wl.warm_up(self.spark, os.path.join(self.work, "warm"))
        out["setup_s"] = time.time() - t_process
        print("setup (s): " + " ".join(f"{k}={v:.3f}" for k, v in out.items()), file=sys.stderr)
        return out

    def timed_phase(self, tag: str, seconds: float, min_units: int = 1) -> list:
        """Closed loop: run units back to back until ``seconds`` have passed
        and at least ``min_units`` units are done; the unit in flight at the
        deadline completes."""
        units = []
        before = cpu_times()
        with self.tracer.span(f"timed:{tag}"):
            deadline = time.time() + seconds
            while len(units) < min_units or time.time() < deadline:
                root = os.path.join(self.work, tag, f"unit{len(units)}")
                with self.tracer.span(f"unit:{tag}:{len(units)}") as sp:
                    unit = self.wl.run_unit(self.spark, self.tracer, root, self.ops_started)
                unit.wall_s = sp.seconds
                self.ops_started += len(unit.ops)
                units.append(unit)
        # diagnostics only: a run slowed by other tenants of the host shows here
        print(f"timed:{tag}: steal share {steal_share(before, cpu_times()):.3f}; units (s): "
              + " ".join(f"{u.wall_s:.3f}" for u in units) + "; calls (s): "
              + " ".join(f"{op.latency_s:.3f}" for op in ops_of(units)), file=sys.stderr)
        return units

    def check(self, units: list) -> None:
        """Table-level output checks, outside the timed phase. A unit whose
        table fails marks every call of the unit failed; a unit with a
        failed call is not checked again."""
        t = time.time()
        clean = [u for u in units if not any(op.error for op in u.ops)]
        if clean:
            with self.tracer.span("check", label=True):
                problems = self.wl.check_tables(self.spark, clean)
            for unit, problem in zip(clean, problems):
                if problem:
                    for op in unit.ops:
                        op.error = problem
        print(f"checks: {time.time() - t:.3f} s", file=sys.stderr)

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        run started has ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def ops_of(units: list) -> list:
    return [op for unit in units for op in unit.ops]


def e2e_metrics(setup: dict, units: list) -> dict[str, float]:
    last = units[-1]
    wall_s = median([u.wall_s for u in units])
    return {
        "setup_s": setup["setup_s"],
        "wall_s": wall_s,
        "docs_per_s": last.docs / wall_s,
        "batch_p50_s": median([op.latency_s for op in ops_of(units)]),
        "stored_bytes_per_doc": stored_bytes(last.out.root, last.runs.root, max(1, last.docs))[
            "stored_bytes_per_doc"
        ],
    }


def layer_metrics(bench: Bench, setup, untraced, traced, probes, noops, kernel, peak_rss) -> dict[str, float]:
    table = label_table(read_events(os.path.join(bench.work, "events")))
    wl = bench.wl
    m: dict[str, float] = {
        "session.start_s": setup["session_s"],
        "fixtures.gen_s": setup["gen_s"],
        "fixtures.input_bytes_per_doc": _dir_bytes(wl.pages_path) / wl.n_docs,
    }
    m.update(kernel)

    def labelled(name: str) -> list[LabelStats]:
        return [table.get(f"{name}:{r}", LabelStats()) for r in range(len(probes[name]))]

    stage = labelled("doc_kernel.stage")
    m["doc_kernel.stage_s"] = median(probes["doc_kernel.stage"])
    m["doc_kernel.passthrough_s"] = median(probes["doc_kernel.passthrough"])
    m["doc_kernel.boundary_share"] = m["doc_kernel.passthrough_s"] / m["doc_kernel.stage_s"]
    m["doc_kernel.tasks"] = median([s.tasks for s in stage])
    m["doc_kernel.task_skew"] = median([s.task_skew for s in stage])

    ops = ops_of(traced)
    calls = [table.get(f"op:{i}", LabelStats()) for i in range(bench.ops_started - len(ops), bench.ops_started)]
    lat = [op.latency_s for op in ops]
    m["job.run_s"] = median(lat)
    m["job.overhead_s"] = m["job.run_s"] - m["doc_kernel.stage_s"]
    m["job.resume_noop_s"] = median(probes["job.resume_noop"])
    m["job.spark_jobs"] = median([c.jobs for c in calls])
    m["job.shuffle_write_bytes"] = median([c.shuffle_write_bytes for c in calls])
    # replayed urls: those re-offered within a drain, and the whole input of
    # the no-op re-runs
    offered = sum(op.offered_replayed for op in ops) + sum(s["offered"] for s in noops)
    processed = sum(op.summary.get("docs_in", 0) - op.new_docs for op in ops) + sum(
        s["docs_in"] for s in noops
    )
    m["job.skip_ratio"] = (offered - processed) / offered
    rows = sum(op.summary.get("rows_out", 0) for op in ops)
    m["job.rows_failed_share"] = sum(op.summary.get("rows_failed", 0) for op in ops) / rows

    m["tables.append_s"] = median(probes["tables.append"])
    m["tables.read_s"] = median(probes["tables.read"])
    first = traced[0].ops
    seq = [op.latency_s for op in (first if len(first) >= 4 else ops)]
    q = max(1, len(seq) // 4)
    m["tables.batch_latency_slope_s"] = median(seq[-q:]) - median(seq[:q])
    last = traced[-1]
    sb = stored_bytes(last.out.root, last.runs.root, last.docs)
    for k in ("commits", "files_per_commit", "data_bytes_per_doc", "meta_bytes_per_doc"):
        m[f"tables.{k}"] = sb[k]

    # Spark totals per call (mean over the traced timed phase). Job intervals
    # are clipped to the call's span, so job_s + driver_gap_s = call_wall_s.
    n = len(calls)
    job_s = [union_length([(max(a, op.start), min(b, op.end)) for a, b in c.intervals if b > op.start and a < op.end])
             for c, op in zip(calls, ops)]
    m["spark.executor_run_s"] = sum(c.run_s for c in calls) / n
    m["spark.executor_cpu_s"] = sum(c.cpu_s for c in calls) / n
    m["spark.jvm_gc_s"] = sum(c.gc_s for c in calls) / n
    m["spark.shuffle_read_bytes"] = sum(c.shuffle_read_bytes for c in calls) / n
    m["spark.shuffle_write_bytes"] = sum(c.shuffle_write_bytes for c in calls) / n
    m["spark.spill_bytes"] = sum(c.spill_bytes for c in calls) / n
    m["spark.tasks"] = sum(c.tasks for c in calls) / n
    m["spark.call_wall_s"] = sum(lat) / n
    m["spark.job_s"] = sum(job_s) / n
    m["spark.driver_gap_s"] = m["spark.call_wall_s"] - m["spark.job_s"]

    m["proc.peak_rss_mb"] = peak_rss / 2**20
    m["trace.overhead_s"] = (
        median([u.wall_s for u in traced]) - median([u.wall_s for u in untraced])
    )
    all_ops = ops_of(untraced) + ops
    m["error_share"] = sum(1 for op in all_ops if op.error) / len(all_ops)
    return m


def run(args, bench: Bench, t_process: float) -> tuple[dict, list]:
    """Returns the metrics and every timed, checked call."""
    from perfbench.layers import kernel_split, spark_probes
    from perfbench.workloads import CFG

    sampler = RssSampler() if args.trace else contextlib.nullcontext()
    with sampler:
        setup = bench.setup(t_process)
        # a traced run splits its time between the untraced and the traced
        # phase, so that it takes about as long as an untraced run
        phase_s = args.seconds / 2 if args.trace else args.seconds
        untraced = bench.timed_phase("untraced", phase_s, 1 if args.trace else MIN_UNITS)
        bench.check(untraced)
        if not args.trace:
            return e2e_metrics(setup, untraced), ops_of(untraced)
        tracer = bench.tracer
        spark = bench.start_session(event_log=True)
        with tracer.span("warm_up:traced", label=True):
            bench.wl.warm_up(spark, os.path.join(bench.work, "warm-traced"))
        traced = bench.timed_phase("traced", phase_s)
        probes, noops = spark_probes(spark, tracer, bench.wl, traced[-1], CFG,
                                     os.path.join(bench.work, "probes"))
        bench.check(traced)
        spark.stop()  # flushes the event log
        bench.spark = None
        with tracer.span("kernel.split"):  # with the JVM idle
            kernel = kernel_split(bench.wl.seed, bench.wl.n_docs, CFG)
    metrics = layer_metrics(bench, setup, untraced, traced, probes, noops, kernel, sampler.peak_bytes)
    return metrics, ops_of(untraced) + ops_of(traced)


def main(argv: list[str] | None = None) -> int:
    t_process = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "py_image_toolkit_spark")):
        print("perfbench: run from the root of a checkout (py_image_toolkit_spark/ not found)",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(WORKLOADS[args.workload](args.seed), tracer, work)
    try:
        metrics, ops = run(args, bench, t_process)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    if args.trace:
        tracer.write(os.path.join(ROOT, "perfbench", "out", f"spans-{args.workload}-seed{args.seed}.json"))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    failed = [op for op in ops if op.error]
    for op in failed[:5]:
        print(f"FAILED op: {op.error}", file=sys.stderr)
    for name, value in metrics.items():
        print(f"{name:32s} {value:14.6g} {units[name]}")
    if not args.trace:
        lat = [op.latency_s for op in ops]
        tail = tail_percentile(lat)
        print(f"batch samples: {len(lat)}; "
              + (f"p{tail[0]:g} = {tail[1]:.4f} s" if tail else "no percentile above p50 has >=10 samples beyond it"))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
