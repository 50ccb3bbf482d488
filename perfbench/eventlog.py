"""Spark event-log parser: JSON events → a per-label table.

A label is the job group the benchmark sets around each call it makes
(``SparkContext.setJobGroup``). Spark copies it into every job's
properties, so every task can be traced back to the call that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class LabelStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executor run time, summed over tasks
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    task_s: list[float] = field(default_factory=list)  # per-task wall
    intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def task_max_s(self) -> float:
        return max(self.task_s, default=0.0)

    @property
    def task_median_s(self) -> float:
        return float(statistics.median(self.task_s)) if self.task_s else 0.0

    @property
    def task_skew(self) -> float:
        """Max over median task wall time (1 = perfectly even)."""
        med = self.task_median_s
        return self.task_max_s / med if med else 0.0

    @property
    def job_s(self) -> float:
        """Length of the union of this label's job intervals."""
        return union_length(self.intervals)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_events(log_dir: str):
    """Yield every event of every log under ``log_dir`` (plain or rolling
    ``eventlog_v2_*`` layout, uncompressed)."""
    for dirpath, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus_"):
                continue
            with open(os.path.join(dirpath, name)) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def label_table(events) -> dict[str, LabelStats]:
    """Fold JobStart/JobEnd/StageCompleted/TaskEnd events into per-label
    stats. Jobs without a job group are filed under ``""``."""
    stage_label: dict[int, str] = {}
    job_label: dict[int, str] = {}
    job_start: dict[int, float] = {}
    table: dict[str, LabelStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_label[jid] = label
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = label
            table.setdefault(label, LabelStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                table[job_label[jid]].intervals.append(
                    (job_start.pop(jid), ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            table.setdefault(stage_label.get(sid, ""), LabelStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            stats = table.setdefault(stage_label.get(ev["Stage ID"], ""), LabelStats())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            stats.tasks += 1
            stats.task_s.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
            stats.run_s += m.get("Executor Run Time", 0) / 1000.0
            stats.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            stats.gc_s += m.get("JVM GC Time", 0) / 1000.0
            read = m.get("Shuffle Read Metrics") or {}
            stats.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            write = m.get("Shuffle Write Metrics") or {}
            stats.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
            stats.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return table

