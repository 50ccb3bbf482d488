"""Extra benchmarks for the optimization round (bench.py is FROZEN).

Per-query isolation with the noop sink (guide §1.4), job descriptions
(§1.5), and .explain("formatted") capture for plans/r06/. Mirrors bench.py's
methodology (sf0.001 warm-up, interleaved best-of-N), but adds:

  - plan capture:    python bench_extra.py plans [out_dir] [names...]
  - per-query bench: python bench_extra.py time [trials] [names...]

The extraction pipeline is timed by bench.py's ``extract_pipeline`` leaf.

Env: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), $SPARK_GRAFT_CPUS.
The session is session.build_session's: local[$SPARK_GRAFT_CPUS or the CPU
count] with an 8g heap, or under spark-submit the submitted master and
conf, e.g.

    spark-submit --master local[4] --driver-memory 6g bench_extra.py time 3 q06_sessionize_rle
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402
from py_image_toolkit_spark import contract  # noqa: E402
from py_image_toolkit_spark.session import build_session  # noqa: E402


def _session():
    spark = build_session("bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _warm(spark, names) -> None:
    warm_dir = os.path.join(os.path.dirname(_sf_dir().rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        return
    for name in names:
        contract.QUERIES[name](spark, warm_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        contract.release_persists()
        spark.catalog.clearCache()


def cmd_plans(out_dir: str, names: list[str]) -> None:
    spark = _session()
    os.makedirs(out_dir, exist_ok=True)
    for name in names or BENCH_QUERIES:
        df = contract.QUERIES[name](spark, _sf_dir())
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        contract.release_persists()
        spark.catalog.clearCache()
        print(f"wrote {path}", flush=True)
    spark.stop()


def cmd_time(trials: int, names: list[str]) -> None:
    spark = _session()
    names = names or BENCH_QUERIES
    _warm(spark, names)
    timings: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(trials):
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = contract.QUERIES[name](spark, _sf_dir())
            df.write.mode("overwrite").format("noop").save()
            timings[name].append(round(time.time() - t0, 3))
            contract.release_persists()
            spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    out = {
        n: {"min": min(v), "samples": v}
        for n, v in timings.items()
    }
    out["_total_min"] = round(sum(min(v) for v in timings.values()), 3)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        cmd_plans(out_dir, sys.argv[3:])
    elif cmd == "time":
        trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        cmd_time(trials, sys.argv[3:])
    else:
        sys.exit(f"unknown command {cmd!r} (plans | time)")


if __name__ == "__main__":
    main()
