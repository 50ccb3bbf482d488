"""Dev harness: engine vs oracle byte-parity on N synthetic pages."""

from __future__ import annotations

import sys

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.session import build_session
from py_image_toolkit_spark.testing import diff_frames, engine_frame, oracle_frame


def main(n: int) -> int:
    cfg = ExtractConfig()
    spark = build_session("parity")
    spark.sparkContext.setLogLevel("ERROR")
    problems = diff_frames(engine_frame(spark, n, cfg), oracle_frame(n, cfg))
    for p in problems:
        print("MISMATCH", p)
    print("OK" if not problems else f"{len(problems)}+ mismatches")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 120))
