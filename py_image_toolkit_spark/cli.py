"""J8 deployment surface: the spark-submit job entrypoint.

Spark recast of the reference's runnable batch drivers (resizes.py:135-171,
crops.py:170-196): argparse CLI → frozen config → batch run → counter
summary + per-item error report. Deployment shape per the north rule:

    spark-submit --py-files pyimgtk_spark.zip job.py extract \\
        --input /data/pages --output /data/extractions \\
        --runs /data/runs --rules thirds golden

Subcommands:
    extract   one resumable extraction run over a pages table
              (resume: skips the urls the committed output snapshot holds,
               atomic snapshot commit, per-partition lineage rows)
    resume    alias of extract — resume IS the default behavior; named
              separately so intent shows up in job schedulers
    compact   rewrite all live commits of a snapshot table into one
              (small-files maintenance; --expire additionally GCs
               pre-compaction snapshots)

``--master`` is deliberately absent: spark-submit supplies the master and
any ``--conf``, and the session keeps them; run without spark-submit, the
session is local[N] with N = $SPARK_GRAFT_CPUS or the process's CPU count
(session.build_session).
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_config_args(p: argparse.ArgumentParser) -> None:
    """ExtractConfig knobs (≙ the reference CLI's shared parser,
    resize.py get_parser / crop.py options)."""
    p.add_argument("--rules", nargs="+", default=["thirds", "golden"],
                   help="composition rules fan-out (default: thirds golden)")
    p.add_argument("--method", default="largest", choices=["largest", "center"])
    p.add_argument("--ref-point", default="box", choices=["box", "top"])
    p.add_argument("--ratio", default=None,
                   help='target aspect "W:H" | float | omitted = canvas ratio')
    p.add_argument("--padding-percent", type=float, default=0.0)
    p.add_argument("--min-score", type=float, default=0.6)
    p.add_argument("--wrap-width", type=int, default=80)


def _config_from(args: argparse.Namespace):
    from py_image_toolkit_spark.config import ExtractConfig

    return ExtractConfig(
        wrap_width=args.wrap_width,
        min_score=args.min_score,
        method=args.method,
        ref_point=args.ref_point,
        rules=tuple(args.rules),
        ratio=args.ratio,
        padding_percent=args.padding_percent,
    )


def build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(
        prog="job.py", description="py-image-toolkit-spark batch driver"
    )
    sub = top.add_subparsers(dest="cmd", required=True)

    for name, desc in (
        ("extract", "one resumable extraction run over a pages table"),
        ("resume", "alias of extract (resume is the default behavior)"),
    ):
        p = sub.add_parser(name, help=desc)
        p.add_argument("--input", required=True, help="pages parquet path/table")
        p.add_argument("--output", required=True, help="output snapshot table root")
        p.add_argument("--runs", default=None,
                       help="runs/lineage snapshot table root (default: <output>_runs)")
        p.add_argument("--run-id", default=None)
        _add_config_args(p)

    c = sub.add_parser(
        "compact",
        help="rewrite all live commits of a snapshot table into one "
             "(small-files maintenance; time travel preserved)",
    )
    c.add_argument("--table", required=True, help="snapshot table root")
    c.add_argument("--target-partitions", type=int, default=None)
    c.add_argument("--expire", action="store_true",
                   help="ALSO delete pre-compaction manifests and unreferenced "
                        "data dirs (destroys time travel to them)")
    return top


def cmd_extract(args: argparse.Namespace) -> int:
    from py_image_toolkit_spark.plans.job import run_extraction_job
    from py_image_toolkit_spark.session import build_session
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    spark = build_session("extract-job")
    pages = spark.read.parquet(args.input)
    out_table = SnapshotTable(args.output)
    runs_table = SnapshotTable(args.runs or f"{args.output.rstrip('/')}_runs")
    summary = run_extraction_job(
        spark, pages, out_table, runs_table,
        cfg=_config_from(args), run_id=args.run_id,
    )
    # counter summary + error count ≙ the reference driver's end-of-run
    # report (resizes.py:108-131)
    print(json.dumps(summary))
    return 0 if summary["rows_failed"] == 0 or summary["rows_ok"] > 0 else 1


def cmd_compact(args: argparse.Namespace) -> int:
    from py_image_toolkit_spark.session import build_session
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    spark = build_session("compact-job")
    try:
        tbl = SnapshotTable(args.table)
        before = len(tbl.latest_snapshot()["data_dirs"]) if tbl.latest_snapshot() else 0
        sid = tbl.compact(spark, target_partitions=args.target_partitions)
        expired = tbl.expire_snapshots(keep_latest=1) if (args.expire and sid) else []
        snap = tbl.latest_snapshot()
        after = len(snap["data_dirs"]) if snap else 0
        print(json.dumps({
            "snapshot_id": sid, "dirs_before": before,
            "dirs_after": after, "expired_dirs": len(expired),
        }))
    finally:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd in ("extract", "resume"):
        return cmd_extract(args)
    return cmd_compact(args)


if __name__ == "__main__":
    sys.exit(main())
