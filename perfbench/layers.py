"""Per-layer probes of the traced run.

The kernel split runs in the driver over a fixed sample of the seed's docs
and calls the public stage functions of ``kernels/`` and ``oracle/`` in the
order ``oracle.extractor.extract_document`` does. The Spark probes time the
doc-kernel stage, the Arrow boundary alone, a resume that finds nothing to
do, and the table layer, each under its own job-group label.
"""

from __future__ import annotations

import random
import statistics
import time

from py_image_toolkit_spark.fixtures import page_row
from py_image_toolkit_spark.kernels.normalize import decode_html, strip_noncontent
from py_image_toolkit_spark.kernels.segment import PDF_MAGIC, extract_pdf_blocks, segment_html
from py_image_toolkit_spark.oracle import geometry as G
from py_image_toolkit_spark.oracle.extractor import (
    char_span,
    crop_text,
    extract_document,
    layout_blocks,
    render_lines,
    select_main,
)
from py_image_toolkit_spark.oracle.labeling import extract_fields
from py_image_toolkit_spark.operators.doc_kernel import doc_extract_df
from py_image_toolkit_spark.plans.job import run_extraction_job
from py_image_toolkit_spark.sources.tables import SnapshotTable

KERNEL_SAMPLE = 200
KERNEL_PASSES = 5
SPARK_REPEATS = 3
STAGES = ("decode", "strip", "segment", "layout", "geometry", "label")


def _split_doc(url: str, html: bytes | None, cfg, acc: dict[str, float]) -> None:
    """``extract_document``'s steps, each timed into ``acc``; the candidate
    filter and record assembly stay untimed (they are the unaccounted part)."""
    clock = time.perf_counter
    t = clock()
    dec = decode_html(html)
    acc["decode"] += clock() - t
    if not dec.success:
        return
    if html is not None and html.startswith(PDF_MAGIC):
        t = clock()
        raw = extract_pdf_blocks(html)
        acc["segment"] += clock() - t
    else:
        t = clock()
        stripped = strip_noncontent(dec.text)
        acc["strip"] += clock() - t
        t = clock()
        raw = segment_html(stripped)
        acc["segment"] += clock() - t
    t = clock()
    laid, canvas_w, canvas_h = layout_blocks(raw, cfg.wrap_width, cfg.norm_mode)
    acc["layout"] += clock() - t
    candidates = [
        b for b in laid
        if b.max_w >= cfg.min_block_w and b.n_lines >= cfg.min_block_h and b.score >= cfg.min_score
    ]
    if not candidates:
        return
    t = clock()
    main = select_main(candidates, canvas_w, canvas_h, cfg)
    lines = render_lines(laid, cfg.wrap_width, cfg.norm_mode)
    acc["layout"] += clock() - t
    ref = main.top_center if cfg.ref_point == "top" else main.bbox_center
    for rule in cfg.rules:
        t = clock()
        rect = G.optimal_crop(canvas_w, canvas_h, ref, G.rule_points(canvas_w, canvas_h, rule),
                              G.parse_ratio(cfg.ratio))
        if rect is None:
            acc["geometry"] += clock() - t
            continue
        rect = G.apply_padding(rect, canvas_w, canvas_h, cfg.padding_percent)
        text = crop_text(lines, rect)
        char_span(lines, rect)
        acc["geometry"] += clock() - t
        t = clock()
        extract_fields(text.split())
        acc["label"] += clock() - t


def kernel_split(seed: int, n_docs: int, cfg) -> dict[str, float]:
    """Microseconds per doc for ``extract_document`` and each stage, as the
    median over passes; ``unaccounted_us`` closes the sum."""
    idx = random.Random(seed).sample(range(n_docs), min(KERNEL_SAMPLE, n_docs))
    docs = [(p["url"], p["html"]) for p in (page_row(i, seed) for i in idx)]
    whole, parts = [], {s: [] for s in STAGES}
    for _ in range(KERNEL_PASSES):
        # whole and split alternate per doc, so both see the same host
        total, acc = 0.0, dict.fromkeys(STAGES, 0.0)
        for url, html in docs:
            t = time.perf_counter()
            extract_document(url, html, cfg)
            total += time.perf_counter() - t
            _split_doc(url, html, cfg, acc)
        whole.append(total)
        for s in STAGES:
            parts[s].append(acc[s])
    per_doc = 1e6 / len(docs)
    out = {"kernel.doc_us": statistics.median(whole) * per_doc}
    for s in STAGES:
        out[f"kernel.{s}_us"] = statistics.median(parts[s]) * per_doc
    out["kernel.unaccounted_us"] = out["kernel.doc_us"] - sum(out[f"kernel.{s}_us"] for s in STAGES)
    return out


def _passthrough(pages):
    """An identity ``mapInPandas`` over the doc kernel's input columns,
    partitioned the way ``doc_extract_df`` partitions them: the Arrow
    boundary and task launch without the per-doc work."""
    from pyspark.sql import functions as F

    src = pages.select("url", "warc_ts", "lang", "html")
    dp = pages.sparkSession.sparkContext.defaultParallelism
    parts = src.rdd.getNumPartitions()
    if parts >= max(2, dp):
        if parts > dp:
            src = src.coalesce(dp)
    else:
        src = src.repartition(2 * dp, F.col("url"))
    return src.mapInPandas(lambda batches: batches, src.schema)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _last_commit(spark, table: SnapshotTable):
    ids = table.snapshot_ids()
    return table.read(spark) if len(ids) == 1 else table.diff(spark, ids[-2], ids[-1])


def spark_probes(spark, tracer, workload, unit, cfg, scratch: str) -> tuple[dict[str, list[float]], list[dict]]:
    """Time each probe ``SPARK_REPEATS`` times under labels
    ``<probe>:<repeat>``. Returns the wall seconds per probe and the
    summaries of the no-op resumes (re-running the unit's last call on the
    table it already committed to)."""
    pages = workload.probe_input(spark)
    last_input, last_docs = workload.last_call_input(spark)
    committed = _last_commit(spark, unit.out)
    probes = {
        "doc_kernel.stage": lambda r: _noop(doc_extract_df(pages, cfg)),
        "doc_kernel.passthrough": lambda r: _noop(_passthrough(pages)),
        "job.resume_noop": lambda r: run_extraction_job(spark, last_input, unit.out, unit.runs, cfg),
        "tables.append": lambda r: SnapshotTable(f"{scratch}/append-{r}").append(committed),
        "tables.read": lambda r: unit.out.read(spark).select("url").distinct().count(),
    }
    walls: dict[str, list[float]] = {k: [] for k in probes}
    noops: list[dict] = []
    for r in range(SPARK_REPEATS):
        for name, fn in probes.items():
            with tracer.span(f"{name}:{r}", label=True) as sp:
                result = fn(r)
            walls[name].append(sp.seconds)
            if name == "job.resume_noop":
                noops.append({**result, "offered": last_docs})
    return walls, noops
