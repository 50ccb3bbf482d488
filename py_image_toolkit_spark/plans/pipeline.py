"""The full extraction pipeline: pages → per-(url, rule) extraction records.

Equivalent of the reference's batch-driver call graph (SURVEY.md §3.2 Spark
recast). No extraction step crosses document boundaries, so the whole E1→E3
pipeline runs as ONE Arrow-batched stage over the page table — scan →
[balance partitions] → mapInArrow → sink — with per-row error containment
(J6): a failed document yields typed status rows, never a task failure
(operators/doc_kernel.py).

Row contract: exactly ``len(cfg.rules)`` output rows per input url
(success or typed failure), in ``DOC_SCHEMA`` column order, matching the
oracle byte-for-byte.
"""

from __future__ import annotations

from py_image_toolkit_spark.operators.doc_kernel import doc_extract_df as extract

__all__ = ["extract"]
