"""In-memory spans, Spark job-group labels and a /proc RSS sampler.

Spans are recorded around the benchmark's own calls into each layer; the
program itself is not instrumented. With tracing off, ``Tracer.span`` still
times its block (the benchmark needs the durations) but records nothing and
sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._labels: list[str] = []
        self.spark = None  # set once a session exists; job groups go to it

    @contextlib.contextmanager
    def span(self, name: str, label: bool = False):
        """Time a block. ``label=True`` also tags every Spark job the block
        starts with ``name`` as its job group (tracing on only)."""
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name, time.time(), parent=parent)
        self._stack.append(sp)
        sc = self.spark.sparkContext if (label and self.enabled and self.spark) else None
        if sc is not None:
            self._labels.append(name)
            sc.setJobGroup(name, name, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                self._labels.pop()
                if self._labels:  # back to the enclosing label
                    sc.setJobGroup(self._labels[-1], self._labels[-1], False)
                else:  # null removes the properties setJobGroup set
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([vars(s) for s in self.spans], fh, indent=1)


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid`` (not itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the driver
    Python process, the JVM it launched and the JVM's Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread that keeps the peak of ``_tree_rss_bytes``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
