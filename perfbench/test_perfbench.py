"""Unit tests of the benchmark's own code (no Spark; runs in well under a
second):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.eventlog import label_table, read_events, union_length
from perfbench.stats import percentile, quartile_spread, stored_bytes, tail_percentile


def _task(stage: int, launch: int, finish: int, run_ms: int, cpu_ns: int, gc_ms: int,
          read: int = 0, write: int = 0, spill: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def _job(jid: int, stages: list[int], submit: int, label: str | None) -> dict:
    props = {"spark.jobGroup.id": label} if label else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
            "Stage IDs": stages, "Properties": props}


SYNTHETIC_LOG = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0, 1], 1_000, "op:0"),
    _task(0, 1_000, 1_400, 380, 200_000_000, 10, write=500),
    _task(0, 1_000, 2_200, 1_150, 900_000_000, 30, write=700),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(1, 2_300, 2_900, 590, 100_000_000, 0, read=600, spill=5),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
    _job(1, [2], 2_500, "op:0"),  # overlaps job 0
    _task(2, 2_600, 3_400, 790, 50_000_000, 0),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3_500},
    _job(2, [3], 4_000, None),
    _task(3, 4_000, 4_100, 90, 1_000_000, 0),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4_200},
]


@pytest.fixture
def log_dir(tmp_path):
    # the rolling layout Spark 4 writes: eventlog_v2_<app>/events_1_<app>
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    with open(app / "events_1_local-1", "w") as fh:
        for ev in SYNTHETIC_LOG:
            fh.write(json.dumps(ev) + "\n")
    return str(tmp_path)


def test_event_log_per_label_table(log_dir):
    table = label_table(read_events(log_dir))
    assert set(table) == {"op:0", ""}
    op = table["op:0"]
    assert (op.jobs, op.stages, op.tasks) == (2, 3, 4)
    assert op.run_s == pytest.approx(2.91)
    assert op.cpu_s == pytest.approx(1.25)
    assert op.gc_s == pytest.approx(0.04)
    assert op.shuffle_read_bytes == 1200
    assert op.shuffle_write_bytes == 1200
    assert op.spill_bytes == 10
    assert op.task_max_s == pytest.approx(1.2)
    assert op.task_median_s == pytest.approx(0.7)  # of 0.4, 1.2, 0.6, 0.8
    assert op.task_skew == pytest.approx(1.2 / 0.7)
    # jobs [1.0, 3.0] and [2.5, 3.5] overlap: the union is 2.5 s, not 3.0 s
    assert op.job_s == pytest.approx(2.5)
    unlabelled = table[""]
    assert (unlabelled.jobs, unlabelled.tasks) == (1, 1)
    assert unlabelled.job_s == pytest.approx(0.2)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 4), (1, 2), (3, 5)]) == 5
    assert union_length([(3, 5), (0, 1), (0.5, 3.5)]) == 5


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    # 100 distinct samples: p99 has 1 beyond, p95 has 5, p90 has 10
    assert tail_percentile([float(v) for v in range(1, 101)]) == (90.0, 90.0)
    # 1000 samples: p99 has exactly 10 beyond it
    assert tail_percentile([float(v) for v in range(1, 1001)]) == (99.0, 990.0)
    # ties are not beyond: a constant sample has no tail at all
    assert tail_percentile([1.0] * 500) is None


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 1) == 1.0


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


def _write(path: str, size: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * size)


def test_stored_bytes_accounting(tmp_path):
    out, runs = str(tmp_path / "out"), str(tmp_path / "runs")
    _write(f"{out}/data/commit-a/part-0.parquet", 100)
    _write(f"{out}/data/commit-a/part-1.parquet", 60)
    _write(f"{out}/data/commit-a/.part-0.parquet.crc", 8)
    _write(f"{out}/data/commit-a/_SUCCESS", 0)
    _write(f"{out}/_snapshots/manifest-1.json", 50)
    _write(f"{runs}/data/commit-b/part-0.parquet", 30)
    _write(f"{runs}/_snapshots/manifest-1.json", 20)
    sb = stored_bytes(out, runs, docs=4)
    # data = the output table's data files; meta = its manifests + the runs table
    assert sb["data_bytes_per_doc"] == 168 / 4
    assert sb["meta_bytes_per_doc"] == (50 + 30 + 20) / 4
    assert sb["stored_bytes_per_doc"] == 268 / 4
    assert sb["commits"] == 2
    assert sb["files_per_commit"] == 3 / 2
