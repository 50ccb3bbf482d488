"""Dev harness: run every contract query vs its DuckDB oracle at sf0.01."""

from __future__ import annotations

import sys
import time

from py_image_toolkit_spark import contract
from py_image_toolkit_spark.oracle_compare import compare_query, duck_connection
from py_image_toolkit_spark.session import build_session

SF_DIR = "/root/testdata/sf0.01"


def main(only: list[str]) -> int:
    spark = build_session("qcheck")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(SF_DIR)
    bad = 0
    from py_image_toolkit_spark.golden import q27_oracle_sql

    oracles = dict(contract.ORACLE_SQL)
    oracles["q27_extract_pipeline"] = q27_oracle_sql(SF_DIR)
    for name, fn in contract.QUERIES.items():
        if only and not any(o in name for o in only):
            continue
        t0 = time.time()
        if name not in oracles:
            n = fn(spark, SF_DIR).count()
            print(f"{name}: rows-only ({n} rows) [{time.time()-t0:.1f}s]", flush=True)
            continue
        try:
            problems = compare_query(spark, con, fn, oracles[name], SF_DIR)
        finally:
            contract.release_persists()
        status = "OK" if not problems else "FAIL"
        print(f"{name}: {status} [{time.time()-t0:.1f}s]", flush=True)
        for p in problems:
            print("   ", p, flush=True)
        bad += bool(problems)
    print("ALL-OK" if bad == 0 else f"{bad} FAILING", flush=True)
    return bad


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
