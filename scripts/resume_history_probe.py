"""How a resume call's time grows with the table's history.

For each N, a fresh output table gets one commit of N synthetic urls,
written the way the doc kernel's tasks write theirs (``DOC_SCHEMA`` in
Arrow form, through the table's ``write_part``). The synthetic urls share the
fixture's host names (``https://host-<k>.example/s/<j>``), so no file's
footer min/max can rule it out of a url lookup, and none is ever offered.
Then ``run_extraction_job`` is called once per batch of a drain like
perfbench's ``incremental_resume``: each call offers the previous batch's
500 pages again plus 500 new ones. The first call (500 new pages only) is
a warm-up; the median of the timed calls is printed per N.

    PYTHONPATH=. python scripts/resume_history_probe.py            # N = 0 1M 4M
    PYTHONPATH=. python scripts/resume_history_probe.py 0 100000 --calls 4

One local[4] session serves every N, with a warm-up drain before the first.
Peak memory is that of the session plus one row group of synthetic rows
(``write_part`` buffers up to 128 MB of Arrow data, here 750,000 rows);
the tables go to a temporary directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.pandas.types import to_arrow_schema  # noqa: E402

from py_image_toolkit_spark.fixtures import pages_df  # noqa: E402
from py_image_toolkit_spark.operators.doc_kernel import DOC_SCHEMA  # noqa: E402
from py_image_toolkit_spark.plans.job import run_extraction_job  # noqa: E402
from py_image_toolkit_spark.session import build_session  # noqa: E402
from py_image_toolkit_spark.sources.tables import SnapshotTable, write_part  # noqa: E402

_ARROW_SCHEMA = to_arrow_schema(DOC_SCHEMA)

BATCH = 500
_ROWS_PER_WRITE = 250_000
_ROWS_PER_FILE = 1_000_000
_HOSTS = 200  # the fixture's host-0 .. host-199


def _synthetic_batch(lo: int, hi: int) -> pa.RecordBatch:
    urls = [f"https://host-{j % _HOSTS}.example/s/{j:09d}" for j in range(lo, hi)]
    n = hi - lo
    cols = {
        "url": pa.array(urls, pa.string()),
        "rule": pa.array(["synthetic"] * n, pa.string()),
        "success": pa.array([False] * n, pa.bool_()),
    }
    return pa.RecordBatch.from_arrays(
        [cols.get(f.name, pa.nulls(n, f.type)) for f in _ARROW_SCHEMA],
        schema=_ARROW_SCHEMA,
    )


def seed_history(table: SnapshotTable, n: int) -> None:
    """Publish one commit of ``n`` synthetic urls, in files of at most
    ``_ROWS_PER_FILE`` rows."""
    if not n:
        return
    commit = table.new_commit()
    for f, start in enumerate(range(0, n, _ROWS_PER_FILE)):
        stop = min(n, start + _ROWS_PER_FILE)
        batches = (
            _synthetic_batch(lo, min(stop, lo + _ROWS_PER_WRITE))
            for lo in range(start, stop, _ROWS_PER_WRITE)
        )
        write_part(os.path.join(table.data_dir, commit), f, 0, batches, _ARROW_SCHEMA)
    table.publish(commit, DOC_SCHEMA, run_id="history")


def drain(spark, pages_path: str, root: str, calls: int) -> list[float]:
    """One drain of ``calls + 1`` batches into the table at ``root``: the
    wall times of the calls after the first."""
    out = SnapshotTable(os.path.join(root, "out"))
    runs = SnapshotTable(os.path.join(root, "runs"))
    walls = []
    for i in range(calls + 1):
        dirs = [f"{pages_path}/batch={b}" for b in (i - 1, i) if b >= 0]
        pages = spark.read.parquet(*dirs)
        t0 = time.perf_counter()
        s = run_extraction_job(spark, pages, out, runs, run_id=f"call-{i}")
        wall = time.perf_counter() - t0
        if s["docs_in"] != BATCH:
            raise SystemExit(f"call {i}: docs_in={s['docs_in']}, expected {BATCH}")
        if i:
            walls.append(wall)
    return walls


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", nargs="*", type=int, default=[0, 1_000_000, 4_000_000],
                    help="committed synthetic urls, one drain each")
    ap.add_argument("--calls", type=int, default=6, help="timed calls per drain")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="resume-history-")
    spark = build_session(
        master="local[4]", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        pages_path = os.path.join(work, "pages")
        index = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("int")
        pages_df(spark, BATCH * (args.calls + 1), partitions=4).withColumn(
            "batch", (index / BATCH).cast("int")
        ).write.partitionBy("batch").parquet(pages_path)
        drain(spark, pages_path, os.path.join(work, "warm"), args.calls)
        for n in args.n:
            root = os.path.join(work, f"n{n}")
            seed_history(SnapshotTable(os.path.join(root, "out")), n)
            walls = drain(spark, pages_path, root, args.calls)
            print(
                f"N={n} median_call_s={statistics.median(walls):.3f} "
                f"calls_s={' '.join(f'{w:.3f}' for w in walls)}",
                flush=True,
            )
            shutil.rmtree(root)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
