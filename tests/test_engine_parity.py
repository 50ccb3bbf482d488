"""THE correctness gate (BASELINE.json:14): byte-identical engine-vs-oracle
extraction per (url, rule) over the deterministic pages fixture — all columns
including extracted_text, char spans and the 6 E3 fields."""

import pytest

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.testing import (
    assert_parity,
    diff_frames,
    engine_frame,
    oracle_frame,
)


def test_parity_default_config(spark):
    # 200 docs × (88 html / 7 pdf / 5 junk per 100) × 2 rules = 400 records
    assert_parity(spark, 200)


def test_parity_padding_on_degenerate_windows(spark):
    """Regression (found by the hypothesis config sweep): padding must not
    resurrect degenerate (null-coord) windows as full-canvas crops — a
    spurious success row per degenerate (url, rule). The Column form of the
    same guard is cross-checked in tests/test_oracle_geometry.py."""
    cfg = ExtractConfig(rules=("thirds",), ratio="100:1", padding_percent=5.5)
    assert_parity(spark, 14, cfg)


def test_parity_center_method_ratio_padding(spark):
    cfg = ExtractConfig(method="center", ratio="16:9", padding_percent=10.0,
                        rules=("golden",))
    assert_parity(spark, 80, cfg)


def test_parity_degenerate_ratio(spark):
    """Extreme ratio drives some (url, rule) windows degenerate — the
    degenerate failure branch is already per-(url, rule) and must NOT be
    re-fanned per rule (round-1 ADVICE: double-fan emitted len(rules)² rows
    per degenerate url, breaking the exactly-len(rules)-rows-per-url
    contract)."""
    assert_parity(spark, 24, ExtractConfig(ratio="100:1"))


def test_parity_degenerate_ratio_single_rule(spark):
    """Asymmetric check: with one rule the double-fan bug was invisible
    (len(rules)²=1) — use a tall ratio instead to hit the other window axis."""
    assert_parity(spark, 24, ExtractConfig(ratio="1:100"))


def test_parity_top_refpoint_fixed_ratio(spark):
    cfg = ExtractConfig(ref_point="top", ratio="1.5", rules=("thirds",))
    assert_parity(spark, 80, cfg)


@pytest.mark.parametrize("partitions", [2, 16])
def test_partitioning_invariance(spark, partitions):
    """Output is independent of physical partitioning (SURVEY.md §5.2.4)."""
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.plans.pipeline import extract
    from py_image_toolkit_spark.testing import norm_spans

    cfg = ExtractConfig()
    df = extract(pages_df(spark, 60, partitions=partitions), cfg).toPandas()
    df = df.sort_values(["url", "rule"]).reset_index(drop=True)
    df["spans"] = df["spans"].map(norm_spans)
    ora = oracle_frame(60, cfg)
    assert not diff_frames(df, ora)


def test_known_golden_values(spark):
    """Hard-assert a couple of fixture-derived goldens so regressions in the
    generator AND the pipeline both surface."""
    eng = engine_frame(spark, 10, ExtractConfig())
    ora = oracle_frame(10, ExtractConfig())
    # every html doc yields 2 rows; junk/degenerate paths are failures
    assert set(eng["rule"]) == {"thirds", "golden"}
    assert (eng["success"] == ora["success"]).all()
    ok = eng[eng["success"]]
    assert len(ok) > 0
    assert ok["extracted_text"].str.len().min() > 0


@pytest.mark.parametrize("mode", ["fixed", "none"])
def test_parity_norm_modes(spark, mode):
    """B8 normalization dispatch (≙ reference resize.py:106-120
    aspect_ratio|fixed|none): the engine matches the oracle byte-for-byte
    under each mode."""
    assert_parity(spark, 40, ExtractConfig(norm_mode=mode))


def test_parity_driver_pages_with_pdf_route(spark):
    """The q27 driver gate is rows-only; close the loop here — the engine
    over pages_from_documents (90% HTML / 10% Column-built PDF payloads)
    must be byte-identical to the pure-Python oracle on the same pages,
    which also proves the PDF payloads round-trip the kernel's BT..ET
    parser exactly."""
    import pandas as pd

    from py_image_toolkit_spark.contract import pages_from_documents
    from py_image_toolkit_spark.oracle.extractor import extract_pages
    from py_image_toolkit_spark.plans.pipeline import extract
    from py_image_toolkit_spark.testing import norm_spans

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(120)
    rows = pages.collect()
    eng = extract(spark.createDataFrame(rows, pages.schema)).toPandas()
    eng = eng.sort_values(["url", "rule"]).reset_index(drop=True)
    eng["spans"] = eng["spans"].map(norm_spans)

    ora = pd.DataFrame(
        extract_pages(
            ((r["url"], bytes(r["html"]), r["warc_ts"], r["lang"]) for r in rows),
            ExtractConfig(),
        )
    )
    ora["spans"] = ora["spans"].map(
        lambda v: [(d["field"], int(d["start"]), int(d["end"])) for d in v]
    )
    ora = ora.sort_values(["url", "rule"]).reset_index(drop=True)
    problems = diff_frames(eng, ora)
    assert not problems, "driver-pages divergence:\n" + "\n".join(problems)
    # both routes actually exercised
    pdf_urls = {r["url"] for r in rows if bytes(r["html"]).startswith(b"%PDF-")}
    assert pdf_urls and len(pdf_urls) < len(rows)


def test_committed_table_matches_the_oracle(spark, tmp_path):
    """What a job commits, read back through its snapshot, is the oracle's
    extraction of the job's input in every column, ``warc_ts`` and
    ``lang`` included."""
    import pandas as pd

    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.oracle.extractor import extract_pages
    from py_image_toolkit_spark.plans.job import run_extraction_job
    from py_image_toolkit_spark.sources.tables import SnapshotTable
    from py_image_toolkit_spark.testing import norm_spans

    cfg = ExtractConfig()
    pages = pages_df(spark, 40)
    out = SnapshotTable(str(tmp_path / "out"))
    run_extraction_job(spark, pages, out, SnapshotTable(str(tmp_path / "runs")), cfg)
    eng = out.read(spark).toPandas()
    eng = eng.sort_values(["url", "rule"]).reset_index(drop=True)
    eng["spans"] = eng["spans"].map(norm_spans)

    ora = pd.DataFrame(
        extract_pages(
            ((r["url"], bytes(r["html"]), r["warc_ts"], r["lang"]) for r in pages.collect()),
            cfg,
        )
    )
    ora["spans"] = ora["spans"].map(norm_spans)
    ora = ora.sort_values(["url", "rule"]).reset_index(drop=True)
    problems = diff_frames(eng, ora)
    assert not problems, "committed-table divergence:\n" + "\n".join(problems)
    assert eng["warc_ts"].notna().all() and eng["lang"].notna().any()
