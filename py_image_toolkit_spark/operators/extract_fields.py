"""E3 field extraction: token labeling → run-merge → first-wins pivot,
entirely as Column/Window code (the reference's hardest per-row logic,
ocr.py:135-432, with zero Python on the path).

Mapping (SURVEY.md §2):
- H9-H14 classifier      → one when/otherwise chain over broadcast keyword
  literals (C5) + a lag() road-number guard (C4)
- C2 name inference      → window-min anchors + conditional min() winner
  (fast path rrn_seq == title_seq+2 has no fallback scan — quirk preserved)
- C3 neighbor relabel    → lead() over pre-pass labels (the reference's
  forward in-place loop is equivalent — proven in oracle/labeling.py)
- D5/D6 run-merge        → change-flag running sum → segment ids; date runs
  chunk 3-at-a-time; conditional re-explode keeps invalid triples unmerged
- D4 first-wins pivot    → min(struct(seq, text)) per label (order-safe)

All windows partition by the same keys → a single hash partitioning is
reused across every pass (one shuffle for the whole stage).

Generic over ``keys``; the contract queries (q15-q17) run these
operators over synthesized token tables (keys = doc_id) against a DuckDB SQL
oracle. The production extraction labels inside the doc kernel with the
oracle's pure function (oracle/labeling.py), which
:func:`extract_fields_from_tokens_kernel` also applies for q17.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from py_image_toolkit_spark.functions import vocab as V

DIGITS_RE = "^[0-9]+$"

# Keyword tests compile to ONE Java regex alternation each instead of an
# OR-chain of Contains nodes: a 44-keyword veto as 44 Contains exprs makes
# the whole-stage-codegen method blow past janino's 64 KB limit → silent
# fallback to interpreted evaluation (~10× slower on the token table).
# Keywords are plain Korean words (no regex metachars), but escape anyway.


def _contains_any(c: Column, kws: Sequence[str]) -> Column:
    import re as _re

    return c.rlike("|".join(_re.escape(k) for k in kws))


def _endswith_any(c: Column, sfxs: Sequence[str]) -> Column:
    import re as _re

    return c.rlike("(" + "|".join(_re.escape(s) for s in sfxs) + ")$")


def _anchored(pattern: str) -> str:
    """Python re.fullmatch parity for rlike (search semantics)."""
    return f"^(?:{pattern})$"


def classify_token(t: Column, road_guard: Column) -> Column:
    """H9-H14 classifier for one token under one outcome of the C4 road
    guard (the previous token names a road and this one is a short number):
    the dictionary encoding in :func:`label_pass1` evaluates both outcomes
    on the distinct-token table, where no previous token exists."""
    is_title = t.isin(*V.DOC_TITLE_KEYWORDS)
    rrn_clean = F.regexp_replace(F.regexp_replace(t, "-", ""), " ", "")
    is_rrn = t.rlike(_anchored(V.RRN_DASHED_RE)) | rrn_clean.rlike(_anchored(V.RRN_PLAIN_RE))
    is_issuer = (
        _endswith_any(t, V.ISSUER_SUFFIXES)
        | (_contains_any(t, V.ISSUER_ORG_KEYWORDS) & _endswith_any(t, V.ISSUER_ORG_SUFFIXES))
        | t.contains("학교장")
        | (t.endswith("학교") & ~t.contains("대학교"))
    )
    is_date_comp = (
        t.rlike(_anchored(V.YEAR_RE))
        | t.rlike(_anchored(V.MONTH_RE))
        | t.rlike(_anchored(V.DAY_RE))
    )
    is_addressish = (
        _contains_any(t, V.ADDRESS_KEYWORDS)
        | t.rlike(V.ADDR_UNIT_RE)
        | t.rlike(V.ADDR_ROAD_RE)
        | t.rlike(V.ADDR_SUFFIX_RE)
        | t.rlike(V.ADDR_NUMERIC_RE)
        | (
            (F.size(F.filter(F.split(t, r"\s+"), lambda x: x != "")) > 1)
            & _contains_any(t, V.MULTIWORD_ADDRESS_KEYWORDS)
        )
    )
    short_digit = t.rlike(DIGITS_RE) & (F.length(t) <= 2)
    clear_addr = _contains_any(t, V.CLEAR_ADDRESS_INDICATORS)

    return (
        F.when(is_title, "document_title")
        .when(is_rrn, "rrn")
        .when(is_issuer, "issuer")
        .when(is_date_comp & ~road_guard, "issue_date")
        .when(is_addressish & ~(short_digit & ~clear_addr), "address")
        .otherwise("O")
    )


def label_pass1(tokens: DataFrame, keys: Sequence[str]) -> DataFrame:
    """H9-H14 per-token classifier + C4 road-number guard (window form).

    Runs the ~40 keyword/regex tests once per DISTINCT token and
    broadcast-joins the labels back, instead of once per token occurrence:
    natural-language vocabularies are Zipf-bounded, so at corpus scale this
    cuts classifier CPU by the occurrence/vocabulary ratio (map-side partial
    aggregation keeps the distinct cheap — only vocabulary-sized data
    shuffles). The C4 guard depends on the PREVIOUS token, so the dictionary
    carries both guard outcomes (`_lbl_base`, `_lbl_guard`) plus the two
    per-token guard inputs; the window pass then only evaluates a lag() and
    a boolean pick — byte-identical to the direct per-occurrence form
    (asserted by the q15-q17 SQL oracles)."""
    w = Window.partitionBy(*keys).orderBy("seq")
    # Broadcast-size bound (round-3 ADVICE): the dictionary keeps ONLY
    # tokens whose classification is non-trivial (any label ≠ 'O', or a
    # road/guard flag) — every other token misses the left join and lands on
    # the ``coalesce(..., 'O')`` fallback, which is exactly its true label
    # (the guard can only *remove* label branches, so base='O' ⟹ guard='O').
    # On ID/hash-heavy corpora (near-all-unique vocabulary) random tokens
    # match none of the ~40 patterns, so the broadcast stays bounded by the
    # *pattern-matching* vocabulary, not the distinct-token count.
    t = F.col("token")
    # Pushdown barrier: without it, Catalyst substitutes the aliases and
    # pushes the keep-predicate below the DISTINCT — the ~40-test classifier
    # chain then runs once per token OCCURRENCE in the filter (the exact
    # cost dictionary encoding exists to avoid; measured 2.2× on q17). The
    # predicate references a nondeterministic column (always-true term), so
    # the projection cannot be substituted through and the classifier is
    # evaluated exactly once per distinct token; the barrier column is
    # dropped and never affects output values.
    dic = (
        tokens.select("token")
        .distinct()
        .select(
            "token",
            classify_token(t, F.lit(False)).alias("_lbl_base"),
            classify_token(t, F.lit(True)).alias("_lbl_guard"),
            _contains_any(t, V.ROAD_KEYWORDS).alias("_is_road"),
            (t.rlike(DIGITS_RE) & (F.length(t) <= 2)).alias("_guardable"),
            F.monotonically_increasing_id().alias("_pushdown_barrier"),
        )
        .filter(
            (F.col("_pushdown_barrier") >= -1)  # always true; blocks pushdown
            & (
                (F.col("_lbl_base") != "O")
                | (F.col("_lbl_guard") != "O")
                | F.col("_is_road")
                | F.col("_guardable")
            )
        )
        .drop("_pushdown_barrier")
    )
    # broadcast keeps the input's (keys)-partitioning intact, so the lag()
    # window below still reuses the upstream exchange; size-bounded by the
    # filter above
    joined = tokens.join(F.broadcast(dic), "token", "left")
    prev_road = F.coalesce(F.lag("_is_road").over(w), F.lit(False))
    label = F.coalesce(
        F.when(prev_road & F.col("_guardable"), F.col("_lbl_guard")).otherwise(
            F.col("_lbl_base")
        ),
        F.lit("O"),  # null-token rows miss the dictionary; classifier says O
    )
    return joined.select(*tokens.columns, label.alias("label"))


def label_name_inference(labeled: DataFrame, keys: Sequence[str]) -> DataFrame:
    """C2: anchors via window mins, conditional winner, quirks preserved."""
    t = F.col("token")
    w_all = Window.partitionBy(*keys)

    step1 = labeled.withColumn(
        "title_seq",
        F.min(F.when(F.col("label") == "document_title", F.col("seq"))).over(w_all),
    )
    step2 = step1.withColumn(
        "rrn_seq",
        F.min(
            F.when((F.col("label") == "rrn") & (F.col("seq") > F.col("title_seq")), F.col("seq"))
        ).over(w_all),
    )

    name_pat = t.rlike(V.NAME_RE)
    veto = _contains_any(t, V.NAME_VETO_KEYWORDS)
    anchors_ok = F.col("title_seq").isNotNull() & F.col("rrn_seq").isNotNull()
    fast = F.col("rrn_seq") == F.col("title_seq") + 2
    fast_elig = (
        (F.col("seq") == F.col("title_seq") + 1)
        & name_pat
        & ~veto
        & ~F.col("label").isin("document_title", "rrn", "issuer")
    )
    scan_elig = (
        (F.col("seq") > F.col("title_seq"))
        & (F.col("seq") < F.col("rrn_seq"))
        & F.col("label").isin("O", "address", "issue_date")
        & name_pat
        & ~veto
        & ~((F.col("label") == "address") & (F.length(t) > 5))
    )
    elig = anchors_ok & F.when(fast, fast_elig).otherwise(scan_elig)

    step3 = step2.withColumn(
        "name_seq", F.min(F.when(elig, F.col("seq"))).over(w_all)
    )
    return step3.withColumn(
        "label",
        F.when(F.col("seq") == F.col("name_seq"), "name").otherwise(F.col("label")),
    ).drop("title_seq", "rrn_seq", "name_seq")


def label_neighbor_relabel(labeled: DataFrame, keys: Sequence[str]) -> DataFrame:
    """C3: token before an issuer token gets relabeled issuer (lead() over
    pre-pass labels — the in-place forward loop is equivalent)."""
    w = Window.partitionBy(*keys).orderBy("seq")
    nxt = F.lead("label").over(w)
    cond = (
        F.col("label").isin("address", "O")
        & (nxt == "issuer")
        & _contains_any(F.col("token"), V.REGION_KEYWORDS)
        & (F.length("token") < 10)
    )
    return labeled.withColumn("label", F.when(cond, "issuer").otherwise(F.col("label")))


def label_tokens_df(tokens: DataFrame, keys: Sequence[str] = ("url", "rule")) -> DataFrame:
    """Full labeling: pass1 → name inference → neighbor relabel."""
    return label_neighbor_relabel(
        label_name_inference(label_pass1(tokens, keys), keys), keys
    )


def merge_runs_df(
    labeled: DataFrame,
    keys: Sequence[str] = ("url", "rule"),
    drop_label: str | None = None,
) -> DataFrame:
    """D5/D6: sessionize-by-label-change, merge runs, conditional date
    triples. Output: keys + (seq, text, label) merged stream.

    ``drop_label`` discards that label's rows AFTER the sessionize window
    (segment numbering still sees the full sequence, and segments are
    label-homogeneous, so only whole segments disappear — surviving runs
    are byte-identical). Callers that only pivot the labeled fields pass
    'O': the filler label is the vast majority of tokens, and dropping it
    here keeps it out of the merge agg + explode + pivot shuffles."""
    klist = [F.col(k) for k in keys]
    w_ord = Window.partitionBy(*keys).orderBy("seq")
    chg = F.when(
        F.lag("label").over(w_ord).isNull() | (F.lag("label").over(w_ord) != F.col("label")), 1
    ).otherwise(0)
    seg = labeled.withColumn("segment", F.sum(chg).over(w_ord))
    if drop_label is not None:
        seg = seg.filter(F.col("label") != drop_label)

    w_seg = Window.partitionBy(*keys, "segment").orderBy("seq")
    pos = F.row_number().over(w_seg)
    chunk = (
        F.when(F.col("label") == "issue_date", F.floor((pos - 1) / 3))
        .when(F.col("label").isin("address", "issuer"), F.lit(0))
        .otherwise(pos)
    )
    seg = seg.withColumn("chunk", chunk.cast("long"))

    agg = seg.groupBy(*klist, "segment", "chunk", "label").agg(
        F.array_sort(F.collect_list(F.struct("seq", "token"))).alias("items")
    )

    items = F.col("items")
    n = F.size(items)
    seq0 = items[0]["seq"]
    t1, t2, t3 = items[0]["token"], items[1]["token"], items[2]["token"]
    triple_ok = (
        (n == 3)
        & t1.rlike(_anchored(V.YEAR_RE))
        & t2.rlike(_anchored(V.MONTH_RE))
        & t3.rlike(_anchored(V.DAY_RE))
    )
    joined = F.array_join(F.transform(items, lambda x: x["token"]), " ")
    out_arr = (
        F.when(
            F.col("label") == "issue_date",
            F.when(
                triple_ok,
                F.array(F.struct(seq0.alias("seq"), F.concat_ws(".", t1, t2, t3).alias("token"))),
            ).otherwise(items),
        )
        .when(
            F.col("label").isin("address", "issuer"),
            F.array(F.struct(seq0.alias("seq"), joined.alias("token"))),
        )
        .otherwise(items)
    )

    exploded = agg.select(*klist, "label", F.explode(out_arr).alias("m"))
    return exploded.select(
        *klist, F.col("m.seq").alias("seq"), F.col("m.token").alias("text"), "label"
    )


def pivot_fields_df(merged: DataFrame, keys: Sequence[str] = ("url", "rule")) -> DataFrame:
    """D4 first-wins pivot via min(struct(seq, text)) per label."""
    aggs = []
    for f in V.OUTPUT_FIELDS:
        cond = F.col("label") == f
        if f == "issue_date":
            cond = cond & F.col("text").contains(".") & (
                F.size(F.split(F.col("text"), r"\.", -1)) == 3
            )
        aggs.append(
            F.min(F.when(cond, F.struct("seq", "text")))["text"].alias(f)
        )
    return merged.groupBy(*keys).agg(*aggs)


def extract_fields_from_tokens_kernel(
    tokens: DataFrame,
    keys: Sequence[str] = ("doc_id",),
    order_cols: Sequence[str] = ("seq",),
    token_col: str = "token",
) -> DataFrame:
    """(keys, order, token) rows → 6-field record per key group via the
    oracle labeling function in ONE ``mapInArrow`` stage (guide §4.2
    posture: Spark does the distribution/shuffle, the per-document logic
    runs as native CPython over whole Arrow record batches — the same pure
    function the byte-parity suite pins). The key columns are copied from
    the input batch; the six field columns are built against the Arrow
    form of the output schema.

    Plan shape: one keys-keyed groupBy (collect_list + array_sort — tokens
    shuffle once, partially aggregated map-side) then a group-sized
    MapInArrow stage. Replaces the ~7 window passes of the relational form
    (label_pass1 → name inference → neighbor relabel → sessionize → merge →
    pivot) with a single exchange; byte-identical by construction because
    oracle/labeling.py is the spec both forms implement (asserted by the
    q17 DuckDB oracle and tests/test_r6_optimizations.py)."""
    from collections.abc import Iterator

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, StructField, StructType

    from py_image_toolkit_spark.oracle.labeling import extract_fields
    from py_image_toolkit_spark.session import arrow_task

    key_fields = [tokens.schema[k] for k in keys]
    out_schema = StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in key_fields]
        + [StructField(f, StringType(), True) for f in V.OUTPUT_FIELDS]
    )
    arrow_schema = to_arrow_schema(out_schema)

    ord_struct = F.struct(*[F.col(c) for c in order_cols], F.col(token_col))
    grouped = tokens.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(ord_struct)), lambda s: s[token_col]
        ).alias("_toks")
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # to_numpy converts the token lists in C++; to_pylist builds an
            # Arrow scalar per token, ~10x slower on this column
            recs = [
                extract_fields(toks.tolist())
                for toks in batch.column("_toks").to_numpy(zero_copy_only=False)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(f.name).cast(f.type)
                    if f.name in keys
                    else pa.array([r[f.name] for r in recs], f.type)
                    for f in arrow_schema
                ],
                schema=arrow_schema,
            )

    return grouped.mapInArrow(arrow_task(run), out_schema)
