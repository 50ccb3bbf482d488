"""Incremental / streaming surface.

The reference is strictly batch (SURVEY.md §2.I); its streaming-adjacent
semantics are idempotent re-run (skip-if-exists) and an append-only sink.
The engine's primary incremental mechanism is therefore **incremental
batch**: snapshot resume skip (plans/job.py) + snapshot ``diff`` reads
(sources/tables.py).

For feed-like inputs this module adds the thin Structured Streaming wrapper:
``Trigger.AvailableNow`` over a parquet/file source, with each micro-batch
routed through the same resumable job (``foreachBatch`` → snapshot commit).
A replayed micro-batch is absorbed by the job's url-level resume skip, on
two conditions: the batch holds one capture per url, and one writer commits
to the table at a time. Nothing enforces either. A batch that holds a url
twice commits both captures, and two concurrent calls over the same urls
both commit them. Keeping one row per (url, rule) under duplicate inputs
and concurrent writers is ROADMAP.md item 1.
"""

from py_image_toolkit_spark.streaming.incremental import run_available_now

__all__ = ["run_available_now"]
