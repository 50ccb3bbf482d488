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


def _spark_submit(tmp_path, *args):
    """``spark-submit --py-files <library zip> *args`` in a fresh driver
    process with SPARK_GRAFT_CPUS=4 (so the local default would be
    local[4])."""
    from pyspark.find_spark_home import _find_spark_home

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYSPARK_PYTHON=sys.executable)
    cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"),
           "--py-files", _pyfiles_zip(tmp_path), *args]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                          env=env, cwd=str(tmp_path))


def _last_json(stdout: str) -> dict:
    return json.loads([l for l in stdout.splitlines() if l.startswith("{")][-1])


_PROBE = """
import json
from py_image_toolkit_spark.session import build_session

spark = build_session()
conf = spark.sparkContext.getConf()
print(json.dumps({
    "master": spark.sparkContext.master,
    "driver_memory": conf.get("spark.driver.memory"),
    **{k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
    )},
}))
spark.stop()
"""


def test_submitted_conf_wins_over_session_defaults(tmp_path):
    """Under spark-submit, every value the operator submitted reaches the
    session; the session's own value applies only to a key nobody
    submitted (spark.sql.files.maxPartitionBytes)."""
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    r = _spark_submit(
        tmp_path, "--master", "local[2]", "--driver-memory", "2g",
        "--conf", "spark.sql.adaptive.advisoryPartitionSizeInBytes=32m",
        "--conf", "spark.sql.join.preferSortMergeJoin=true",
        "--conf", "spark.sql.shuffle.partitions=7", str(probe))
    assert r.returncode == 0, r.stderr[-2000:]
    assert _last_json(r.stdout) == {
        "master": "local[2]",
        "driver_memory": "2g",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
        "spark.sql.join.preferSortMergeJoin": "true",
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.files.maxPartitionBytes": "16m",
    }


def test_unsubmitted_driver_memory_is_not_claimed(tmp_path):
    """spark-submit without ``--driver-memory`` starts the JVM on Spark's
    own default heap before the session is built, so the session leaves
    ``spark.driver.memory`` unset instead of naming a heap the JVM does
    not have; every other default still applies."""
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    r = _spark_submit(tmp_path, "--master", "local[1]", str(probe))
    assert r.returncode == 0, r.stderr[-2000:]
    assert _last_json(r.stdout) == {
        "master": "local[1]",
        "driver_memory": None,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.join.preferSortMergeJoin": "true",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.files.maxPartitionBytes": "16m",
    }


def test_job_extract_and_resume(spark, pages_parquet, tmp_path):
    """Fresh driver process launched by spark-submit (the north rule's
    deployment shape: --master plus a --py-files zip on the executor path),
    extract subcommand, then a second run that must resume to a no-op. The
    submitted master wins over the local default: on local[2] the 8-file
    input runs as 2 kernel tasks, so the runs table gets 2 lineage rows
    (the local default, SPARK_GRAFT_CPUS=4, would give 4)."""
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    assert len(glob.glob(os.path.join(pages_parquet, "*.parquet"))) == 8
    out_root = str(tmp_path / "extractions")
    args = ["--master", "local[2]", os.path.join(ROOT, "job.py"), "extract",
            "--input", pages_parquet, "--output", out_root]
    r1 = _spark_submit(tmp_path, *args)
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = _last_json(r1.stdout)
    assert s1["docs_in"] == 40 and s1["rows_out"] == 80  # 2 rules/url
    assert s1["snapshot_id"] == 1
    assert SnapshotTable(out_root + "_runs").read(spark).count() == 2

    r2 = _spark_submit(tmp_path, *args, "--run-id", "again")
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = _last_json(r2.stdout)
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
    s = _last_json(rc.stdout)
    assert s["dirs_before"] == 2 and s["dirs_after"] == 1
    assert s["expired_dirs"] == 2

    from py_image_toolkit_spark.sources.tables import SnapshotTable

    tbl = SnapshotTable(out_root)
    assert len(tbl.latest_snapshot()["data_dirs"]) == 1
