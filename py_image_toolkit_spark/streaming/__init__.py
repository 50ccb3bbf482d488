"""Incremental / streaming surface.

The reference is strictly batch (SURVEY.md §2.I); its streaming-adjacent
semantics are idempotent re-run (skip-if-exists) and an append-only sink.
The engine's primary incremental mechanism is therefore **incremental
batch**: snapshot resume skip (plans/job.py) + snapshot ``diff`` reads
(sources/tables.py).

For feed-like inputs this module adds the thin Structured Streaming wrapper:
``Trigger.AvailableNow`` over a parquet/file source, with each micro-batch
routed through the same resumable job (``foreachBatch`` → snapshot commit).
Exactly-once lands on the same url-level idempotence the batch path has —
a replayed micro-batch is absorbed by the resume skip.
"""

from py_image_toolkit_spark.streaming.incremental import run_available_now

__all__ = ["run_available_now"]
