"""WARC ingestion — parse Web ARChive blobs into page rows.

Common Crawl publishes its corpus as WARC files (ISO 28500): a
concatenation of records, each ``WARC/1.0`` header block + blank line +
payload, separated by ``\\r\\n\\r\\n``. Response-record payloads are raw
HTTP messages (status line + headers + blank line + body). This module
turns a DataFrame of WARC blobs (one blob per row — e.g. whole files from
``spark.read.format("binaryFile")``, or per-record slices fetched by
offset from the CC index) into the (url, warc_ts, html, …) page table the
rest of the engine consumes (BASELINE.json input_hint shape).

Parsing a binary container format is genuinely imperative, so this is one
of the few sanctioned Python stages (SURVEY.md §7.2 rule: built-in
Columns first, Arrow-batched Python only where the format demands it —
same ruling as the DOM segmenter, kernels/segment.py). The parser is a
``mapInArrow`` generator, like the doc kernel: one Python call per Arrow
record batch, never per row, and each input batch's records go out as one
output batch built against the Arrow form of ``WARC_SCHEMA``.

Scale posture (100 TB of WARC): blobs arrive partitioned by file (the
natural CC layout, ~1 GB gzip members); the parse is map-side only — no
shuffle — and emits typed columns so downstream predicate pushdown works
against the *parsed* table once it is checkpointed to parquet/Iceberg.
Malformed records become status rows (``warc_parse_error``) instead of
killing the task, mirroring the pipeline's per-item error containment
(operators/doc_kernel.py J6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from py_image_toolkit_spark.session import arrow_task

WARC_SCHEMA = StructType(
    [
        StructField("blob_id", LongType(), True),
        StructField("record_idx", IntegerType(), True),
        StructField("warc_type", StringType(), True),
        StructField("url", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("body", BinaryType(), True),
        StructField("ok", BooleanType(), True),
        StructField("error", StringType(), True),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(WARC_SCHEMA)

_SEP = b"\r\n\r\n"


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # line 0 is the version/status line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1"
            )
    return headers


def _split_records(blob: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Yield (header_block, payload) per WARC record, using each record's
    Content-Length header (the spec's framing — payloads may themselves
    contain the separator, so splitting on it would corrupt records). A
    missing, negative or over-long Content-Length raises ``ValueError``."""
    pos = 0
    n = len(blob)
    while pos < n:
        if blob[pos:pos + 5] != b"WARC/":
            break
        hdr_end = blob.find(_SEP, pos)
        if hdr_end < 0:
            break
        header_block = blob[pos:hdr_end]
        headers = _parse_headers(header_block)
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            raise ValueError("missing/invalid Content-Length") from None
        body_start = hdr_end + len(_SEP)
        if length < 0:
            raise ValueError(f"negative Content-Length {length}")
        if body_start + length > n:
            raise ValueError(
                f"Content-Length {length} runs past the end of the blob"
            )
        payload = blob[body_start:body_start + length]
        yield header_block, payload
        # records are terminated by two CRLFs after the payload
        pos = body_start + length
        while blob[pos:pos + 2] == b"\r\n":
            pos += 2


def _parse_http(payload: bytes) -> tuple[int | None, bytes]:
    """Split an HTTP response message into (status, body)."""
    if not payload.startswith(b"HTTP/"):
        return None, payload
    sep = payload.find(_SEP)
    if sep < 0:
        return None, payload
    status_line = payload[:sep].split(b"\r\n", 1)[0]
    parts = status_line.split()
    status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else None
    return status, payload[sep + len(_SEP):]


def warc_records(
    blobs: DataFrame, id_col: str = "blob_id", data_col: str = "data"
) -> DataFrame:
    """Explode WARC blobs into typed record rows.

    Output columns: record identity (``blob_id``, ``record_idx``), WARC
    headers (``warc_type``, ``url`` from WARC-Target-URI, ``warc_date``,
    ``content_type``), the raw ``payload``, and for response records the
    parsed HTTP ``http_status`` + ``body``. A blob that fails framing
    yields a single ``ok=false`` row carrying the error — the batch (and
    every other blob in it) survives.
    """

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: list[dict] = []
            for blob_id, blob in zip(
                batch.column(id_col).to_pylist(), batch.column(data_col).to_pylist()
            ):
                try:
                    records = list(_split_records(bytes(blob)))
                except Exception as exc:  # malformed framing: contain per blob
                    out.append(
                        {
                            "blob_id": blob_id,
                            "record_idx": -1,
                            "warc_type": None,
                            "url": None,
                            "warc_date": None,
                            "content_type": None,
                            "payload": None,
                            "http_status": None,
                            "body": None,
                            "ok": False,
                            "error": f"warc_parse_error: {exc}",
                        }
                    )
                    continue
                for idx, (hdr, payload) in enumerate(records):
                    h = _parse_headers(hdr)
                    status, body = (None, None)
                    if h.get("warc-type") == "response":
                        status, body = _parse_http(payload)
                    out.append(
                        {
                            "blob_id": blob_id,
                            "record_idx": idx,
                            "warc_type": h.get("warc-type"),
                            "url": h.get("warc-target-uri"),
                            "warc_date": h.get("warc-date"),
                            "content_type": h.get("content-type"),
                            "payload": payload,
                            "http_status": status,
                            "body": body,
                            "ok": True,
                            "error": None,
                        }
                    )
            yield pa.RecordBatch.from_pylist(out, schema=_ARROW_SCHEMA)

    return blobs.mapInArrow(arrow_task(parse), WARC_SCHEMA)

