"""Round-6 optimization equivalence tests: every restructured operator is
pinned byte-identical to the form it replaced (the DuckDB oracles stay the
independent cross-engine check; these tests pin engine-internal refactors
directly against the pre-optimization plans)."""

from __future__ import annotations

import math
import re

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_image_toolkit_spark.operators import dedup as D


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, "a b c d e f g"),
        (2, "a b c d e f g"),              # exact dup of 1
        (3, "a b c d e f g zz tail"),      # near dup
        (4, "x y z"),                      # exactly k tokens → one shingle
        (5, "x y"),                        # shorter than k → no shingles
        (6, ""),                           # empty
        (7, "r r r r r"),                  # repeated token → duplicate grams
        (8, "one two three four five six"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def _old_shingle_df(df, id_col="doc_id", text_col="text", k=3):
    """The pre-r6 explode → lead-window → DISTINCT implementation."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(D.tokens_array(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    return (
        toks.select(
            F.col(id_col),
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )


def test_shingle_df_matches_window_form(docs):
    for k in (2, 3, 5):
        new = _rows(D.shingle_df(docs, k=k), "doc_id", "shingle")
        old = _rows(_old_shingle_df(docs, k=k), "doc_id", "shingle")
        assert new == old


def test_minhash_shingled_matches_grouped_pairs(docs):
    """Raw (non-distinct, null-tail) arrays through the md5-min groupBy must
    yield the same LSH pair set as signatures over distinct shingle rows."""
    grouped = D.minhash_signatures(D.shingle_df(docs, k=3), num_hashes=8)
    raw = D.minhash_shingled(docs, k=3, num_hashes=8)
    # identical signatures for every doc that has shingles
    sig_cols = [f"sig_{j}" for j in range(8)]
    g = {r["doc_id"]: tuple(r[c] for c in sig_cols) for r in grouped.collect()}
    r = {r["doc_id"]: tuple(r[c] for c in sig_cols) for r in raw.collect()}
    for d, sig in g.items():
        assert r[d] == sig
    # extra raw-only docs (< k tokens) must carry all-null sigs and
    # produce no pairs
    for d in set(r) - set(g):
        assert all(v is None for v in r[d])
    pairs_g = _rows(D.lsh_band_pairs(grouped), "id_a", "id_b")
    pairs_r = _rows(D.lsh_band_pairs(raw), "id_a", "id_b")
    assert pairs_r == pairs_g


def _set_jaccard(texts, pairs, k=3, min_micro=500_000):
    """Pure-Python reference for the verify: distinct word k-gram sets per
    doc (split on the engine's ``\\s+`` class) and their exact Jaccard in
    micro-units, over the given candidate pairs."""
    def grams(text):
        toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    out = []
    for a, b in pairs:
        ga, gb = grams(texts[a]), grams(texts[b])
        inter = len(ga & gb)
        micro = math.floor(inter * 1_000_000 / len(ga | gb) + 0.5)
        if micro >= min_micro:
            out.append((a, b, inter, len(ga), len(gb), micro))
    return sorted(out)


def test_jaccard_verify_arrays_matches_set_jaccard(docs):
    base = D.doc_shingles(docs, k=3)
    shingles = D.shingle_df(docs, k=3)
    cands = D.lsh_band_pairs(D.minhash_signatures(shingles, num_hashes=8))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    pairs = [(r["id_a"], r["id_b"]) for r in cands.collect()]
    arr = _rows(
        D.jaccard_verify_arrays(base, cands, min_jaccard=0.5), "id_a", "id_b"
    )
    assert arr == _set_jaccard(texts, pairs)
    assert len(arr) > 0  # fixture really exercises the verify path


def _old_ngram_pos_df(df, id_col="doc_id", text_col="text", n=5):
    """The pre-array posexplode → lead-window implementation of
    ngram_pos_df."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(D.tokens_array(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    return (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.when(
                parts[-1].isNotNull(), F.md5(F.encode(F.concat_ws(" ", *parts), "UTF-8"))
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )


def test_ngram_pos_df_matches_window_form(spark, docs):
    """The array form of ngram_pos_df (feeding q41, q44, q70, q75, q77)
    emits the same (id, pos, md5) rows as the window form it replaced,
    on edge texts: non-space whitespace, full-width digits, docs shorter
    than n, and one 5,000-char token."""
    extra = spark.createDataFrame(
        [
            (101, "a\tb\x0bc\x0cd e\t\tf\x0b\x0cg h i j"),
            (102, "\x0c lead\ttab\x0btrail \x0b"),
            (103, "１２ ３４ ５６ ７８ ９０ １２ ３４ ５６ ７８"),
            (104, "one two"),
            (105, "one two three four"),
            (106, "pre " + "x" * 5000 + " post tail end more words"),
            (107, "x" * 5000),
        ],
        "doc_id long, text string",
    )
    df = docs.unionByName(extra)
    for n in (3, 5, 8):
        new = _rows(D.ngram_pos_df(df, n=n), "doc_id", "pos")
        old = _rows(_old_ngram_pos_df(df, n=n), "doc_id", "pos")
        assert new == old
        assert len(new) > 0


def test_line_dedup_empty_doc_reports_zero(spark):
    """r5 ADVICE: sequence(0, -1) descends in Spark, so an unguarded empty
    doc emitted two phantom '' lines (n_lines=2) and polluted the
    boilerplate table. The oracle's generate_series(0, -1) is empty — such
    docs produce NO line rows and hence no output row at all; the engine
    must match."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.line_dedup(df, line_tokens=2).collect()}
    assert set(out) == {3}  # empty/whitespace docs drop out, like the oracle
    assert out[3]["n_lines"] == 2
    assert out[3]["n_boiler"] == 0
    assert out[3]["clean_text"] == "a b c"


def test_q17_kernel_matches_relational_chain(spark, sf_dir):
    """The r6 q17 Arrow-kernel form ≡ the relational window chain it
    replaced, over the real contract token table; the kernel is one
    MapInArrow stage."""
    from tests.test_plan_contracts import plan_of

    from py_image_toolkit_spark import contract
    from py_image_toolkit_spark.contract import _e3_tokens_spark
    from py_image_toolkit_spark.operators.extract_fields import (
        label_tokens_df, merge_runs_df, pivot_fields_df,
    )

    labeled = label_tokens_df(_e3_tokens_spark(spark, sf_dir), keys=("doc_id",))
    merged = merge_runs_df(labeled, keys=("doc_id",), drop_label="O")
    relational = pivot_fields_df(merged, keys=("doc_id",)).orderBy("doc_id")
    kernel = contract.QUERIES["q17_merge_pivot"](spark, sf_dir)
    assert [f.name for f in kernel.schema.fields] == [
        f.name for f in relational.schema.fields
    ]
    assert _rows(kernel, "doc_id") == _rows(relational, "doc_id")
    plan = plan_of(kernel)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


def test_golden_rebuilds_on_extractor_version_change(tmp_path, sf_dir, monkeypatch):
    """r5 ADVICE: the golden fingerprint must cover the extractor source,
    not just documents.parquet — a stale sidecar version token (or a
    corrupted golden) forces a rebuild."""
    import json
    import os

    from py_image_toolkit_spark import golden as G

    monkeypatch.setattr(G, "GOLDEN_DIR", str(tmp_path))
    path = G.ensure_q27_golden(sf_dir)
    meta = path + ".src.json"
    first_mtime = os.path.getmtime(path)
    # same data + same sources → reused
    assert G.ensure_q27_golden(sf_dir) == path
    assert os.path.getmtime(path) == first_mtime
    # stale extractor version → rebuilt
    with open(meta) as f:
        m = json.load(f)
    m["extractor_md5"] = "0" * 32
    with open(meta, "w") as f:
        json.dump(m, f)
    G.ensure_q27_golden(sf_dir)
    with open(meta) as f:
        assert json.load(f)["extractor_md5"] == G._version_token()
    # corrupted golden parquet → rebuilt to a readable file
    with open(path, "wb") as f:
        f.write(b"not a parquet")
    G.ensure_q27_golden(sf_dir)
    import pyarrow.parquet as pq

    assert pq.read_table(path).num_rows > 0
