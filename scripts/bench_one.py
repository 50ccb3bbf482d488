"""Single extraction-throughput measurement in a fresh JVM (used by
bench_scaling.py). Prints one JSON line.

usage: bench_one.py CPUS N_DOCS [TRIALS]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_image_toolkit_spark.config import ExtractConfig  # noqa: E402
from py_image_toolkit_spark.fixtures import pages_df  # noqa: E402
from py_image_toolkit_spark.plans.pipeline import extract  # noqa: E402
from py_image_toolkit_spark.session import build_session  # noqa: E402


def main(cpus: int, n_docs: int, trials: int = 2) -> None:
    spark = build_session(
        f"scale-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix=f"scale_{cpus}_")
    cfg = ExtractConfig()
    try:
        pages_path = os.path.join(work, "pages")
        pages_df(spark, n_docs, partitions=64).write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        best = None
        for _ in range(trials):
            t0 = time.time()
            extract(pages, cfg).write.mode("overwrite").parquet(
                os.path.join(work, "out")
            )
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(json.dumps({"cpus": cpus, "n_docs": n_docs,
                          "wall_s": round(best, 2),
                          "docs_per_sec": round(n_docs / best, 1)}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]),
        int(sys.argv[2]),
        int(sys.argv[3]) if len(sys.argv) > 3 else 2,
    )
