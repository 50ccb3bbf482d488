"""J8 deployment-surface smoke: the spark-submit entrypoint end-to-end on a
tiny pages table (north rule: `spark-submit --py-files ... job.py`)."""

import glob
import json
import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from py_image_toolkit_spark.fixtures import pages_df

    p = str(tmp_path_factory.mktemp("cli") / "pages")
    pages_df(spark, 40).write.mode("overwrite").parquet(p)
    return p


def _pyfiles_zip(tmp_path) -> str:
    """Package the library exactly as the north rule deploys it."""
    zpath = str(tmp_path / "pyimgtk_spark.zip")
    pkg = os.path.join(ROOT, "py_image_toolkit_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return zpath


def test_job_extract_and_resume(spark, pages_parquet, tmp_path):
    """Fresh driver process launched by spark-submit (the north rule's
    deployment shape: --master plus a --py-files zip on the executor path),
    extract subcommand, then a second run that must resume to a no-op. The
    submitted master wins over the local default: on local[2] the 8-file
    input runs as 2 kernel tasks, so the runs table gets 2 lineage rows
    (the local default, SPARK_GRAFT_CPUS=4, would give 4)."""
    from pyspark.find_spark_home import _find_spark_home

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    assert len(glob.glob(os.path.join(pages_parquet, "*.parquet"))) == 8
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYSPARK_PYTHON=sys.executable)
    out_root = str(tmp_path / "extractions")
    cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"),
           "--master", "local[2]", "--py-files", _pyfiles_zip(tmp_path),
           os.path.join(ROOT, "job.py"), "extract",
           "--input", pages_parquet, "--output", out_root]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        env=env, cwd=str(tmp_path))
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = json.loads([l for l in r1.stdout.splitlines() if l.startswith("{")][-1])
    assert s1["docs_in"] == 40 and s1["rows_out"] == 80  # 2 rules/url
    assert s1["snapshot_id"] == 1
    assert SnapshotTable(out_root + "_runs").read(spark).count() == 2

    r2 = subprocess.run(cmd + ["--run-id", "again"], capture_output=True,
                        text=True, timeout=600, env=env, cwd=str(tmp_path))
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads([l for l in r2.stdout.splitlines() if l.startswith("{")][-1])
    assert s2["docs_in"] == 0 and s2["snapshot_id"] is None  # resumed: no-op


def test_job_compact_subcommand(spark, pages_parquet, tmp_path):
    """extract twice into the same table (two commits: initial + resumed
    delta over a grown input) → compact --expire leaves one commit
    directory holding all rows."""
    from py_image_toolkit_spark.fixtures import pages_df

    env = dict(os.environ, SPARK_GRAFT_CPUS="4",
               PYTHONPATH=_pyfiles_zip(tmp_path))
    out_root = str(tmp_path / "compactions")
    bigger = str(tmp_path / "pages60")
    pages_df(spark, 60).write.parquet(bigger)  # superset of the 40-doc table
    base = [sys.executable, os.path.join(ROOT, "job.py")]
    r1 = subprocess.run(
        base + ["extract", "--input", pages_parquet, "--output", out_root,
                "--rules", "thirds"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path))
    assert r1.returncode == 0, r1.stderr[-2000:]
    r2 = subprocess.run(
        base + ["extract", "--input", bigger, "--output", out_root,
                "--rules", "thirds"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path))
    assert r2.returncode == 0, r2.stderr[-2000:]

    rc = subprocess.run(
        base + ["compact", "--table", out_root, "--target-partitions", "2",
                "--expire"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path))
    assert rc.returncode == 0, rc.stderr[-2000:]
    s = json.loads([l for l in rc.stdout.splitlines() if l.startswith("{")][-1])
    assert s["dirs_before"] == 2 and s["dirs_after"] == 1
    assert s["expired_dirs"] == 2

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(out_root)
    assert len(tbl.latest_snapshot()["data_dirs"]) == 1
