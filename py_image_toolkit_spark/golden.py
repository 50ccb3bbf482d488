"""Golden-parquet oracle for the flagship extraction pipeline (q27).

The end-to-end extract pipeline is not SQL-expressible, so its driver-side
oracle is materialized instead of declared: this module re-builds q27's
input pages deterministically in pure Python (mirroring
``contract.pages_from_documents`` byte-for-byte), runs the pure-Python
reference extractor (``oracle.extractor.extract_pages`` — the byte-parity
truth from BASELINE.json:14-15), and writes the expected result to a
parquet file that the driver's DuckDB check reads via ``read_parquet``.

The golden is fingerprinted against the source ``documents.parquet``
(md5 of the file bytes) and rebuilt automatically when the test data
changes, so a stale artifact can never silently pass.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".golden")

_HTML_PRE = (
    '<html><head><meta charset="utf-8"><title>doc</title>'
    "<style>b{}</style></head><body>"
    '<header><nav><a href="/">home</a> <a href="/about">about</a></nav></header>'
    "<article>"
)
_HTML_POST = "</article><footer>copyright <a href='/t'>terms</a></footer></body></html>"

_RESULT_COLS = [
    "url", "warc_ts", "lang", "rule", "success", "message", "encoding",
    "n_blocks", "canvas_w", "canvas_h", "main_block_id", "crop_x1", "crop_y1",
    "crop_x2", "crop_y2", "main_start", "main_end", "extracted_text",
    "document_title", "name", "address", "rrn", "issue_date", "issuer",
    "spans",
]
_INT_COLS = {
    "n_blocks", "canvas_w", "canvas_h", "main_block_id",
    "crop_x1", "crop_y1", "crop_x2", "crop_y2", "main_start", "main_end",
}
_WARC_TS = "2024-01-01 00:00:00"


def _page_payload(doc_id: int, text: str) -> bytes:
    """Byte-identical replica of contract.pages_from_documents' payload
    Columns: every doc_id % 10 == 7 is an uncompressed PDF, the rest HTML."""
    if doc_id % 10 == 7:
        esc = text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        stream = f"BT ({esc}) Tj ET"
        body = (
            "%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n"
            f"2 0 obj << /Length {len(stream.encode('utf-8'))} >>\nstream\n"
            f"{stream}\nendstream\nendobj\n%%EOF\n"
        )
        return body.encode("utf-8")
    return (_HTML_PRE + text + _HTML_POST).encode("utf-8")


def _spans_json(spans: list[dict]) -> str:
    """Match Spark's to_json(array<struct<field,start,end>>): compact
    separators, struct field order fixed."""
    return json.dumps(
        [{"field": d["field"], "start": d["start"], "end": d["end"]} for d in spans],
        separators=(",", ":"),
        ensure_ascii=False,
    )


def build_q27_golden(sf_dir: str, out_path: str) -> None:
    from py_image_toolkit_spark.oracle.extractor import extract_pages

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text", "lang"]
    )
    rows = [
        (
            f"https://docs.example/{str(doc_id).zfill(8)[:8]}",
            _page_payload(doc_id, text),
            _WARC_TS,
            lang,
        )
        for doc_id, text, lang in zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("lang").to_pylist(),
        )
    ]
    recs = extract_pages(rows)
    for r in recs:
        r["spans"] = _spans_json(r["spans"])

    fields = []
    for c in _RESULT_COLS:
        if c == "success":
            fields.append(pa.field(c, pa.bool_()))
        elif c in _INT_COLS:
            fields.append(pa.field(c, pa.int64()))
        else:
            fields.append(pa.field(c, pa.string()))
    schema = pa.schema(fields)
    arrays = [pa.array([r.get(c) for r in recs], type=f.type) for c, f in zip(_RESULT_COLS, fields)]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    tmp = out_path + ".tmp"
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), tmp)
    os.replace(tmp, out_path)


def _fingerprint(sf_dir: str) -> str:
    h = hashlib.md5()
    with open(os.path.join(sf_dir, "documents.parquet"), "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


# modules whose behavior the golden depends on: the payload builder (this
# file) and the whole reference-extractor chain. An edit to any of them
# must invalidate the cached golden (r5 ADVICE: data-only fingerprinting
# silently reused a stale golden across extractor fixes).
_VERSION_SOURCES = (
    "golden.py",
    os.path.join("oracle", "extractor.py"),
    os.path.join("oracle", "labeling.py"),
    os.path.join("oracle", "geometry.py"),
    os.path.join("kernels", "segment.py"),
    os.path.join("kernels", "normalize.py"),
    "config.py",
)


def _version_token() -> str:
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    for rel in _VERSION_SOURCES:
        with open(os.path.join(pkg, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def golden_path(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(GOLDEN_DIR, f"q27_extract_{tag}.parquet")


def ensure_q27_golden(sf_dir: str) -> str:
    """Build (or reuse, when the source fingerprint matches) the q27 golden
    for sf_dir; returns the parquet path. ~2 s for 500 docs, pure Python."""
    path = golden_path(sf_dir)
    meta = path + ".src.json"
    fp = _fingerprint(sf_dir)
    ver = _version_token()
    if os.path.exists(path) and os.path.exists(meta):
        try:
            with open(meta) as f:
                m = json.load(f)
            if m.get("documents_md5") == fp and m.get("extractor_md5") == ver:
                # sanity-check the artifact itself (a valid sidecar must
                # not shield a truncated/corrupted parquet from rebuild)
                pq.ParquetFile(path)
                return path
        except (OSError, ValueError, AttributeError):
            # unreadable or non-object sidecar, corrupt parquet → rebuild
            # (json.JSONDecodeError and pa.ArrowInvalid are ValueErrors)
            pass
    build_q27_golden(sf_dir, path)
    with open(meta + ".tmp", "w") as f:
        json.dump({"documents_md5": fp, "extractor_md5": ver, "sf_dir": sf_dir}, f)
    os.replace(meta + ".tmp", meta)
    return path


def q27_oracle_sql(sf_dir: str) -> str:
    return f"SELECT * FROM read_parquet('{ensure_q27_golden(sf_dir)}')"
