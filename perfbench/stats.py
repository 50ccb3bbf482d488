"""Pure helpers: the percentile rule, quartile spread and stored-bytes
accounting. No Spark here, so the unit tests run in milliseconds."""

from __future__ import annotations

import os
import statistics

# Percentiles considered for the tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil without floats drifting
    return float(ordered[int(rank) - 1])


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_LADDER`` with at least ten samples
    beyond it, as ``(p, value)``; ``None`` when no rung qualifies."""
    for p in TAIL_LADDER:
        value = percentile(values, p)
        if sum(1 for v in values if v > value) >= 10:
            return p, value
    return None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def table_bytes(root: str) -> dict[str, int]:
    """Bytes and files under one snapshot-table root, split into the data
    files (everything under ``data/``) and the rest (manifests and any
    other bookkeeping). ``commits`` counts the published manifests."""
    out = {"data_bytes": 0, "meta_bytes": 0, "data_files": 0, "commits": 0}
    data_root = os.path.join(root, "data")
    for dirpath, _, files in os.walk(root):
        in_data = dirpath == data_root or dirpath.startswith(data_root + os.sep)
        for name in files:
            size = os.path.getsize(os.path.join(dirpath, name))
            if in_data:
                out["data_bytes"] += size
                out["data_files"] += name.endswith(".parquet")
            else:
                out["meta_bytes"] += size
                out["commits"] += name.startswith("manifest-") and name.endswith(".json")
    return out


def stored_bytes(out_root: str, runs_root: str, docs: int) -> dict[str, float]:
    """Per-doc storage of one extraction target: the output table's data
    files count as data; its manifests and the whole runs table (per-run
    lineage) count as metadata."""
    out = table_bytes(out_root)
    runs = table_bytes(runs_root)
    data = out["data_bytes"]
    meta = out["meta_bytes"] + runs["data_bytes"] + runs["meta_bytes"]
    commits = out["commits"] + runs["commits"]
    files = out["data_files"] + runs["data_files"]
    return {
        "stored_bytes_per_doc": (data + meta) / docs,
        "data_bytes_per_doc": data / docs,
        "meta_bytes_per_doc": meta / docs,
        "commits": commits,
        "files_per_commit": files / commits if commits else 0.0,
    }
