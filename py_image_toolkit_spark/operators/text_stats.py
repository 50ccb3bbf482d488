"""Text-analysis operators for training-data curation — all pure Columns.

- lang_id        : stopword/particle-count heuristic (en/ko/und)
- quality_score  : length, token stats, punct/digit/stopword ratios →
                   integer-scored quality (micro-units for cross-engine hash
                   stability)
- token_stats    : whitespace tokens + BPE-ish regex token count
- fingerprint    : bottom-k minhash sketch (k lexicographic-min md5 shingle
                   hashes) — an order-independent document fingerprint
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_image_toolkit_spark.operators.dedup import _md5, tokens_array

EN_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it")
KO_PARTICLES = ("이", "가", "은", "는", "을", "를", "에", "의", "로", "와")

# BPE-ish lexer: letter runs | digit runs | single non-space symbol
BPE_RE = r"[A-Za-z]+|[0-9]+|[가-힣]+|[^A-Za-z0-9가-힣\s]"


def _count_token_hits(arr, words) -> F.Column:
    return F.size(F.filter(arr, lambda x: x.isin(*words)))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram-free heuristic language ID: exact-token English stopword hits
    vs Korean-syllable character mass."""
    arr = tokens_array(F.col(text_col))
    en = _count_token_hits(arr, EN_STOPWORDS)
    ko = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "[가-힣]", "")
    )
    return df.select(
        F.col(id_col),
        en.alias("en_hits"),
        ko.cast("long").alias("ko_chars"),
        F.when(ko > en * 2, "ko")
        .when(en > 0, "en")
        .otherwise("und")
        .alias("pred_lang"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Curation quality features + a composite score in micro-units."""
    txt = F.col(text_col)
    arr = tokens_array(txt)
    n_chars = F.length(txt).cast("long")
    n_tokens = F.size(arr).cast("long")
    punct = (n_chars - F.length(F.regexp_replace(txt, r"[^\w\s]", ""))).cast("long")
    digits = (n_chars - F.length(F.regexp_replace(txt, "[0-9]", ""))).cast("long")
    stop = _count_token_hits(arr, EN_STOPWORDS).cast("long")

    mean_tok_len_micro = F.floor(
        (n_chars - (n_tokens - 1)) * 1_000_000.0 / F.greatest(n_tokens, F.lit(1))
        + F.lit(0.5)
    ).cast("long")
    punct_ratio_micro = F.floor(
        punct * 1_000_000.0 / F.greatest(n_chars, F.lit(1)) + F.lit(0.5)
    ).cast("long")
    stop_ratio_micro = F.floor(
        stop * 1_000_000.0 / F.greatest(n_tokens, F.lit(1)) + F.lit(0.5)
    ).cast("long")
    # composite: length credit + stopword credit − punct/digit penalty
    score = (
        F.least(n_chars, F.lit(500)) * 1000
        + stop_ratio_micro
        - punct_ratio_micro
        - digits * 100
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct.alias("n_punct"),
        digits.alias("n_digits"),
        stop.alias("n_stopwords"),
        mean_tok_len_micro.alias("mean_tok_len_micro"),
        punct_ratio_micro.alias("punct_ratio_micro"),
        stop_ratio_micro.alias("stop_ratio_micro"),
        score.cast("long").alias("quality_score"),
    )


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace-token and BPE-ish-token counts (token budgeting)."""
    txt = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(tokens_array(txt)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(BPE_RE), 0)).cast("long").alias("bpe_tokens"),
        F.size(F.array_distinct(tokens_array(txt))).cast("long").alias("distinct_ws_tokens"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_bigram_max_micro: int = 180_000,
    dup_word_max_micro: int = 700_000,
) -> DataFrame:
    """Repetition-based quality signals (the Gopher-style "repetitive
    document" filters used in web-corpus curation):

    - dup_word_frac_micro:     1 − distinct/total whitespace tokens —
                               pure Columns, no shuffle (per-doc arrays)
    - top_bigram_share_micro:  occurrences of the most frequent bigram ÷
                               total bigrams — computed RELATIONALLY
                               (explode → two-level groupBy with map-side
                               partial aggregation), never an O(n²)
                               per-document higher-order-lambda count,
                               so one shuffle keyed by (doc, bigram)
    - repetitive:              either share past its threshold

    Docs with <2 tokens have no bigrams: share is NULL and only the
    dup-word test applies."""
    txt = F.col(text_col)
    arr = tokens_array(txt)
    base = df.select(
        F.col(id_col),
        F.size(arr).cast("long").alias("_n_tok"),
        F.size(F.array_distinct(arr)).cast("long").alias("_n_dist"),
    )
    # guard: sequence(1, 0) is DESCENDING in Spark ([1, 0] — step inferred),
    # so an unguarded 1-token doc would evaluate slice(arr, 0, 2) and throw
    bigram_arr = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.array_join(F.slice(arr, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg_counts = (
        df.select(F.col(id_col), F.explode(bigram_arr).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("_bg_max"), F.sum("c").alias("_bg_tot"))
    )
    out = base.join(bg_counts, id_col, "left")
    dup_micro = F.floor(
        (F.col("_n_tok") - F.col("_n_dist")) * 1_000_000.0
        / F.greatest(F.col("_n_tok"), F.lit(1))
        + F.lit(0.5)
    ).cast("long")
    share_micro = F.when(
        F.col("_bg_tot").isNotNull(),
        F.floor(F.col("_bg_max") * 1_000_000.0 / F.col("_bg_tot") + F.lit(0.5)).cast(
            "long"
        ),
    )
    return out.select(
        F.col(id_col),
        dup_micro.alias("dup_word_frac_micro"),
        share_micro.alias("top_bigram_share_micro"),
        (
            (dup_micro >= dup_word_max_micro)
            | F.coalesce(share_micro >= top_bigram_max_micro, F.lit(False))
        ).alias("repetitive"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3, shingle_k: int = 3
) -> DataFrame:
    """Bottom-k sketch: the k smallest md5(shingle) hex strings, joined —
    an order-independent rolling fingerprint (winnowing-style)."""
    arr = tokens_array(F.col(text_col))
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(arr) - (shingle_k - 1), F.lit(0))),
        lambda i: F.array_join(F.slice(arr, i, shingle_k), " "),
    )
    hashes = F.array_sort(
        F.array_distinct(F.transform(sh, lambda s: _md5(s)))
    )
    return df.select(
        F.col(id_col),
        F.when(F.size(arr) >= shingle_k,
               F.array_join(F.slice(hashes, 1, k), "|")).alias("fingerprint"),
    )


# PII redaction patterns — chosen to behave identically under Java regex
# (Spark) and RE2 (DuckDB): no lookaround, \b is ASCII-word-boundary in both
_PII_PATTERNS = (
    ("rrn", r"\d{6}\s*-\s*\d{7}", "[RRN]"),
    ("rrn13", r"\b\d{13}\b", "[RRN]"),
    ("phone", r"\b0\d{1,2}-\d{3,4}-\d{4}\b", "[PHONE]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
)


def redact_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora — the downstream twin of the E3
    extractor (the extractor FINDS resident-registration numbers; a corpus
    release must REMOVE them). Pure regexp_replace chain (whole-stage
    codegen, no Python), applied in overlap-safe order: dashed RRN before
    the 13-digit form before phone numbers before emails.

    Output: per-category match counts (pre-redaction) and the redacted
    text — counts let a pipeline quarantine PII-dense documents instead of
    shipping them scrubbed."""
    txt = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(txt, F.lit(pat), 0)).cast("long").alias(f"n_{name}")
        for name, pat, _ in _PII_PATTERNS
    ]
    red = txt
    for _, pat, repl in _PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return df.select(F.col(id_col), *counts, red.alias("redacted_text"))


def weighted_sample(
    df: DataFrame,
    rates: dict[str, float],
    key_col: str = "doc_id",
    group_col: str = "source",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-group corpus mixing: keep each row with its
    group's rate, decided by the md5-prefix of the row KEY (same mechanism
    as web.hash_sample — reproducible across engines/runs, co-samples the
    same keys everywhere). This is how a training mix is cut from a web
    corpus: e.g. {'wiki': 1.0, 'cc': 0.1, 'forums': 0.3}.

    A group's sample is a strict superset of every lower-rate sample of the
    same keys (thresholds are nested), so mixes can be re-weighted without
    resampling churn."""

    def _thr(rate: float) -> str:
        t = int(rate * 16**8)
        return "g" if t >= 16**8 else format(t, "08x")

    thr = None
    for g, r in sorted(rates.items()):
        cond = F.when(F.col(group_col) == g, F.lit(_thr(r)))
        thr = cond if thr is None else thr.when(F.col(group_col) == g, F.lit(_thr(r)))
    thr = (thr.otherwise(F.lit(_thr(default_rate))) if thr is not None
           else F.lit(_thr(default_rate)))
    pfx = F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 8)
    return df.filter(pfx < thr)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_buckets: int = 16,
) -> DataFrame:
    """Deterministic concat-and-split sequence packing (the GPT-style
    pre-training batch layout): documents are laid end-to-end in one global
    token stream in a reproducible hash order, then the stream is cut into
    fixed ``budget``-token packs; each document reports the pack where it
    STARTS and its offset inside that pack.

    Scale posture (100 TB): a single global prefix-sum window would funnel
    the corpus through ONE partition, so the cumsum is two-phase — docs are
    bucketed by the first hex nibble of their sort key, the prefix sum runs
    per bucket (parallel windows), and the 16-row bucket-total table is
    cumulated and broadcast back as base offsets. Same pattern scales to
    any bucket count; outputs are identical to the serial layout.

    Everything is exact integer arithmetic on md5-derived ordering —
    bit-reproducible across engines and runs (oracle-hash-gated)."""
    from pyspark.sql import Window

    key = _md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(id_col),
        F.size(tokens_array(F.col(text_col))).cast("long").alias("n_tokens"),
        key.alias("_key"),
        F.substring(key, 1, 1).alias("_bucket"),
    )
    w = Window.partitionBy("_bucket").orderBy("_key", id_col)
    local = base.withColumn("_cum", F.sum("n_tokens").over(w))
    totals = base.groupBy("_bucket").agg(F.sum("n_tokens").alias("_tot"))
    wb = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.select(
        "_bucket", F.coalesce(F.sum("_tot").over(wb), F.lit(0)).alias("_base")
    )
    start = F.col("_base") + F.col("_cum") - F.col("n_tokens")
    return (
        local.join(F.broadcast(bases), "_bucket")
        .select(
            id_col,
            "n_tokens",
            F.floor(start / budget).cast("long").alias("pack_id"),
            (start % budget).cast("long").alias("pack_offset"),
        )
    )


def hashed_linear_score(
    df: DataFrame,
    weights: list[int],
    bias: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FastText-style quality classifier INFERENCE at corpus scale via the
    hashing trick: every token maps to a bucket by md5 (no vocabulary
    lookup table), the model is one integer weight per bucket, and the
    document score is ``bias + Σ_tokens weight[bucket(token)]`` with
    verdict ``keep`` iff score >= 0.

    ``len(weights)`` must be a power of 16 (buckets come from md5 hex
    nibbles); integer weights (train in floats, then quantize — q40's
    trick) make scores bit-reproducible across engines.

    Scale posture (100 TB): the weight table folds into the plan as an
    array literal (a 2^18-bucket int8 model is ~256 KB — broadcast-free),
    bucketing + lookup are whole-stage codegen, and the per-doc sum is one
    map-side-combinable groupBy. No joins, no vocabulary shuffle — this is
    why production pipelines (CCNet, LLaMA) can afford model-based quality
    gating on every crawled page.
    """
    dim = len(weights)
    n_nibs = 0
    while 16 ** (n_nibs + 1) <= dim:
        n_nibs += 1
    if 16 ** n_nibs != dim:
        raise ValueError(f"len(weights) must be a power of 16, got {dim}")
    # explode_outer keeps empty documents as a single NULL-token row, so
    # one aggregation covers the whole corpus — no restore join anywhere
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens_array(F.col(text_col))).alias("tok")
    )
    h = _md5(F.col("tok"))
    bucket = F.lit(0)
    for n in range(n_nibs):
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(h, n + 1, 1)) - 1
        bucket = bucket * 16 + nib
    w = F.when(F.col("tok").isNull(), F.lit(0)).otherwise(
        F.element_at(F.lit(weights), bucket.cast("int") + 1)
    ).cast("long")
    return (
        toks.select(F.col(id_col), F.col("tok"), w.alias("_w"))
        .groupBy(id_col)
        .agg(
            F.count("tok").cast("long").alias("n_tokens"),
            (F.sum("_w") + F.lit(int(bias))).cast("long").alias("score"),
        )
        .select(
            id_col,
            "n_tokens",
            "score",
            F.when(F.col("score") >= 0, "keep").otherwise("drop").alias("verdict"),
        )
    )


# Unicode hygiene classes, built from codepoints so the source stays
# printable; at runtime each is a class of LITERAL chars — the identical
# pattern string compiles in both Java regex (Spark) and RE2 (the DuckDB
# oracle), with no engine-specific escape syntax anywhere.
CTRL_CLASS = "[" + "".join(
    chr(c) for c in (*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0x7F)
) + "]"
ZWSP_CLASS = "[" + "".join(chr(c) for c in (0x200B, 0x200C, 0x200D, 0xFEFF)) + "]"
SPACE_CLASS = (
    "[" + chr(0xA0) + chr(0x2000) + "-" + chr(0x200A)
    + chr(0x202F) + chr(0x205F) + chr(0x3000) + "]"
)


def clean_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode hygiene for crawled text — the normalization pass between
    extraction and tokenization. Four deterministic rewrites, in order:

    1. control chars (C0 minus tab/newline/CR, plus DEL) → removed,
    2. zero-width chars (ZWSP/ZWNJ/ZWJ/BOM) → removed,
    3. exotic unicode spaces (NBSP, en/em/thin/ideographic …) → ASCII
       space,
    4. horizontal whitespace runs → one space; text trimmed.

    Emits ``text`` (cleaned, replacing the input column) plus
    ``n_chars_raw`` / ``n_chars_clean`` so corpus lineage records how much
    each document was touched (a high strip ratio is itself a junk
    signal).

    Scale posture (100 TB): a chain of four codegen regexp_replace calls,
    map-side only — no shuffle, no Python.
    """
    raw = F.col(text_col)
    cleaned = F.regexp_replace(raw, CTRL_CLASS, "")
    cleaned = F.regexp_replace(cleaned, ZWSP_CLASS, "")
    cleaned = F.regexp_replace(cleaned, SPACE_CLASS, " ")
    cleaned = F.trim(F.regexp_replace(cleaned, "[ \t]+", " "))
    keep = [c for c in df.columns if c != text_col]
    return df.select(
        *keep,
        cleaned.alias(text_col),
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
    )


def _char_ngrams(text_col: str, n: int) -> F.Column:
    """Array of all character n-grams of the column (empty when shorter
    than n — guarded because sequence(1, L-n+1) runs DESCENDING for L<n)."""
    return F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"transform(sequence(1, length({text_col}) - {n} + 1), "
        f"i -> substring({text_col}, i, {n})) ELSE array() END"
    )


def char_lm_model(ref: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-trigram conditional-probability model from a reference
    corpus (the CCNet recipe trains a KenLM on trusted text; this is the
    distributed integer-exact analog). One row per observed trigram:

        score_micro = (1e6 · count(c1c2c3)) DIV count(c1c2)   ∈ [0, 1e6]

    i.e. p(c3 | c1c2) in exact micro-units — every trigram occurrence
    contains its prefix-bigram occurrence, so the ratio never exceeds 1.

    Scale posture: counts tables are bounded by charset² / charset³ (not
    corpus size) — two map-side-combinable groupBys over map-side
    exploded n-grams, then one join between two bounded tables. The
    resulting model is broadcastable by construction.
    """
    tri = (
        ref.select(F.explode(_char_ngrams(text_col, 3)).alias("tri"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("c_tri"))
    )
    bi = (
        ref.select(F.explode(_char_ngrams(text_col, 2)).alias("bi"))
        .groupBy("bi")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    return (
        tri.join(bi, F.substring(F.col("tri"), 1, 2) == F.col("bi"))
        .select(
            "tri",
            F.expr("CAST(1000000 AS BIGINT) * c_tri DIV c_bi").alias("score_micro"),
        )
    )


def char_lm_score(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document LM fluency against a char_lm_model: the mean trigram
    conditional probability in exact integer micro-units (unseen trigram
    → 0, the un-smoothed CCNet-style 'surprising text scores low'
    signal). Output: id, n_tri, matched_tri, fluency_micro.

    Scale posture (100 TB): trigram explode is map-side; the model join
    is an explicit broadcast (the model is charset-bounded, never
    corpus-bounded); one doc-keyed groupBy with map-side partial
    aggregation. Docs shorter than 3 chars carry no trigrams and drop
    out — at web scale those are pre-filtered junk anyway.
    """
    tris = df.select(
        F.col(id_col), F.explode(_char_ngrams(text_col, 3)).alias("tri")
    )
    scored = tris.join(F.broadcast(model), "tri", "left")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tri"),
            F.sum((F.col("score_micro").isNotNull()).cast("long"))
            .cast("long")
            .alias("matched_tri"),
            F.sum(F.coalesce(F.col("score_micro"), F.lit(0)))
            .cast("long")
            .alias("_sum_micro"),
        )
        .withColumn(
            "fluency_micro", F.expr("_sum_micro DIV n_tri")
        )
        .select(id_col, "n_tri", "matched_tri", "fluency_micro")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Sliding-window chunker (RAG indexing / pretraining context windows):
    each document's token stream splits into chunks of ``chunk_tokens``
    with ``overlap`` tokens shared between neighbors (stride = chunk −
    overlap). Chunk k starts at k·stride; the last start is the smallest
    k covering the tail (ceil((n − chunk)/stride), 0 when the doc fits in
    one chunk), so no emitted chunk is fully contained in its predecessor
    and every token is covered. Empty docs yield no chunks.

    Output: id, chunk_id, chunk_start (token offset), n_tokens,
    chunk_text (tokens re-joined by ' ').

    Scale posture (100 TB): zero shuffle — tokenization, start
    enumeration (sequence+posexplode) and slicing are all map-side; the
    token array is projected once per row, and per-chunk slice cost is
    bounded by chunk_tokens.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    base = df.select(
        F.col(id_col), tokens_array(F.col(text_col)).alias("_arr")
    ).withColumn("_n", F.size("_arr"))
    kmax = F.when(F.col("_n") <= chunk_tokens, F.lit(0)).otherwise(
        F.floor((F.col("_n") - chunk_tokens + stride - 1) / stride)
    )
    chunks = base.select(
        F.col(id_col),
        "_arr",
        "_n",
        F.posexplode(F.sequence(F.lit(0), kmax.cast("long"))).alias("chunk_id", "_k"),
    ).withColumn("chunk_start", (F.col("_k") * stride).cast("long"))
    return (
        chunks.filter(F.col("_n") > 0)
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "chunk_start",
            F.least(
                F.lit(chunk_tokens).cast("long"), F.col("_n") - F.col("chunk_start")
            ).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_arr"), F.col("chunk_start") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


_SCRIPT_CLASSES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("arabic", "؀-ۿ"),
    ("hangul", "가-힣"),
    ("cjk", "一-鿿"),
)


def script_mix(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Unicode script profiling: per document, the character count in
    each major script block (Latin, Cyrillic, Arabic, Hangul, CJK) plus
    the dominant script and its exact ppm share of non-space characters.
    The router in front of script-specific stages (tokenizers, LM
    filters, q24's lang-id) and a mixed-script spam signal (Cyrillic
    lookalikes inside Latin text score as mixed).

    Scale posture (100 TB): one regexp_replace length-diff per script —
    a fixed chain of codegen Columns, zero shuffle, html/text never
    leaves the map side.
    """
    txt = F.col(text_col)
    nonspace = F.length(F.regexp_replace(txt, r"\s", "")).cast("long")
    counts = {
        name: (
            F.length(txt) - F.length(F.regexp_replace(txt, f"[{cls}]", ""))
        ).cast("long")
        for name, cls in _SCRIPT_CLASSES
    }
    # dominant script: max count, first-in-table tie-break via max_by on
    # (count, reverse-priority) — all per-row, no window
    pairs = [
        F.struct(
            counts[name].alias("n"),
            F.lit(len(_SCRIPT_CLASSES) - i).alias("prio"),
            F.lit(name).alias("script"),
        )
        for i, (name, _) in enumerate(_SCRIPT_CLASSES)
    ]
    dominant = F.greatest(*pairs)
    return df.select(
        F.col(id_col),
        *[counts[name].alias(f"n_{name}") for name, _ in _SCRIPT_CLASSES],
        nonspace.alias("n_nonspace"),
        dominant["script"].alias("dominant_script"),
        F.expr(
            "CAST(1000000 AS BIGINT) * "
            + "GREATEST("
            + ", ".join(
                f"(length({text_col}) - length(regexp_replace({text_col}, '[{cls}]', '')))"
                for _, cls in _SCRIPT_CLASSES
            )
            + f") DIV GREATEST(length(regexp_replace({text_col}, '\\\\s', '')), 1)"
        ).cast("long").alias("dominant_ppm"),
    )
