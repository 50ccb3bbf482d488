"""Deduplication operators for large-scale text corpora.

All variants are pure Column/DataFrame code (JVM-side, no Python on the hot
path) and are keyed so the heavy stages shuffle once on the doc key:

- exact_dedup        : md5 content hash → groupBy (the hash-groupBy baseline)
- shingle_df         : word k-gram shingles (one regex pass per row builds
                       the in-row k-gram array, then explode)
- minhash_signatures : lexicographic-min of md5(seed‖shingle) per seed — a
                       valid min-wise hash family that is reproducible across
                       engines (no platform-specific hash())
- lsh_band_pairs     : banding over the signature → candidate pairs via a
                       bucket self-join (the 100 TB-scale path: candidates
                       only, never the full O(n²) cross join)
- jaccard_verify_arrays : exact k-shingle Jaccard of LSH candidate pairs
                       from the per-doc shingle arrays (size of the array
                       intersection, computed in-row)
- simhash_df         : 16-bit SimHash over word tokens (md5-nibble bits,
                       majority vote per bit), plus hamming-close pairs
- embedding_neardup_pairs : cosine ≥ threshold pairs over embeddings

Scale notes (100 TB): shingling multiplies rows ~L×; minhash/banding reduce
to O(n·bands) bucket keys; the bucket self-join is the only shuffle that
grows with corpus size and AQE skew-split handles hot buckets. The exact
jaccard verifier runs only on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _md5(col: Column) -> Column:
    return F.md5(F.encode(col, "UTF-8"))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (content_hash, canonical_id, n_dups≥2)."""
    return (
        df.select(F.col(id_col), _md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def tokens_array(text_col: Column) -> Column:
    return F.filter(F.split(text_col, r"\s+"), lambda x: x != "")


def shingle_array(text_col: Column, k: int = 3, distinct: bool = True) -> Column:
    """Word k-grams of a text column as one in-row array — zero shuffles
    (r6 optimization, guide §2.4).

    Construction is ONE codegen'd Java regex pass: whitespace runs are
    collapsed to single spaces, then a lookahead capture anchored at token
    starts — ``(?:^| )(?=(tok tok … tok))`` — emits every overlapping
    k-gram in token order. Tokens split on the same ``\\s+`` class as
    tokens_array, so the grams are byte-identical to joining k consecutive
    tokens with single spaces. Two slower in-row forms were measured and
    rejected (r6): ``transform(sequence, i -> slice(arr, i, k))``
    re-splits the text O(L) times per element (14.5 s vs 3 s at sf0.1),
    and a zip_with chain over shifted slices runs through interpreted
    higher-order functions (no codegen) — 1.32 s steady / 3.9 s
    first-trial on q20 vs 1.01 s / 1.6 s for the regex form (JIT warms a
    compiled-regex loop far faster than the interpreted expression
    walker).

    ``distinct=True``: within-doc dedup (array_distinct, first-occurrence
    order), so exploding reproduces the old distinct (id, shingle) rows
    without the explode → window(lead) → DISTINCT shuffle pair.
    ``distinct=False`` keeps duplicate grams for consumers whose
    aggregate ignores them (MIN-based minhash)."""
    norm = F.trim(F.regexp_replace(text_col, r"\s+", " "))
    pat = r"(?:^| )(?=(" + " ".join([r"[^ ]+"] * k) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    if not distinct:
        return grams
    return F.array_distinct(grams)


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingles array<string>) — one row per document, map-side only."""
    return df.select(
        F.col(id_col), shingle_array(F.col(text_col), k).alias("shingles")
    )


def shingle_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle) rows — distinct word k-grams per document.

    r6: computed per-row (shingle_array) and exploded: (id, shingle) rows
    are already distinct because shingles are deduped within the doc array
    and id is part of the key — byte-identical to the former
    explode+lead-window+DISTINCT plan with zero wide shuffles."""
    return doc_shingles(df, id_col, text_col, k).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8) -> DataFrame:
    """One row per doc: sig_0..sig_{n-1} = min md5(seed‖shingle) strings."""
    aggs = [
        F.min(_md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_shingled(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """text → minhash signatures in one pass: raw (non-distinct) in-row
    shingle arrays exploded straight into the md5-min groupBy — MIN
    ignores duplicates, so the signatures are byte-identical to
    minhash_signatures(shingle_df(df)) while skipping the distinct pass
    entirely (r6; measured 1.4 s → 0.9 s on q20 at sf0.1). Docs shorter
    than k tokens produce an empty gram array and drop out at the
    explode, exactly like the grouped form."""
    sh = df.select(
        F.col(id_col),
        F.explode(shingle_array(F.col(text_col), k, distinct=False)).alias(
            "shingle"
        ),
    )
    return minhash_signatures(sh, id_col=id_col, num_hashes=num_hashes)


def lsh_band_pairs(
    sigs: DataFrame, id_col: str = "doc_id", num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket → distinct candidate pairs
    (id_a < id_b)."""
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _md5(
                    F.concat(
                        *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify_arrays(
    base: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs (id_a < id_b) against
    per-doc DISTINCT shingle ARRAYS (doc_shingles output): attach each
    side's array to the pair and take size(array_intersect) in-row. Both
    arrays are deduped, so the intersection size is the number of shared
    distinct k-grams, and sz_a/sz_b are the distinct k-gram counts.
    Output (id_a, id_b, inter, sz_a, sz_b, jaccard_micro), jaccard in
    exact integer micro-units (cross-engine reproducible).

    Scale posture: work is O(candidate pairs × doc length), and the
    corpus-sized shingle table never shuffles. The only broadcast is the
    candidate table, LSH-bounded and payload-free: each pair once per
    member doc, keyed by that doc's id (a broadcast build side holds keys,
    not payload). The shingle rows probe it map-side in one pass, and the
    two arrays of a pair meet in an (id_a, id_b)-keyed aggregation of
    exactly two rows per pair, so only pair-sized rows shuffle and no
    array ever travels through a broadcast. Candidates must be distinct
    pairs (lsh_band_pairs output); a pair missing a side drops out."""
    by_doc = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col), "id_a", "id_b"
    )
    both = (
        base.join(F.broadcast(by_doc), id_col)
        .groupBy("id_a", "id_b")
        # sorted by doc id, so id_a's array comes first
        .agg(F.array_sort(F.collect_list(F.struct(id_col, shingles_col))).alias("_s"))
        .filter(F.size("_s") == 2)
        .select(
            "id_a",
            "id_b",
            F.col("_s")[0][shingles_col].alias("_sh_a"),
            F.col("_s")[1][shingles_col].alias("_sh_b"),
        )
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long")
    return (
        both.select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            F.size("_sh_a").cast("long").alias("sz_a"),
            F.size("_sh_b").cast("long").alias("sz_b"),
        )
        .withColumn(
            "jaccard_micro",
            F.floor(
                F.col("inter") * 1000000.0 / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                + F.lit(0.5)
            ).cast("long"),
        )
        .filter(F.col("jaccard_micro") >= int(min_jaccard * 1_000_000))
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard_micro")
    )


def simhash_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash over word tokens: bit b comes from md5 nibble b//4; per-bit
    majority vote over the document. ``bits`` ≤ 128 (md5 width); corpora
    must scale bits with size (birthday collisions at hamming ≤ 2 grow
    quadratically — 16 bits is a small-fixture setting, web scale wants
    64)."""
    n_nibs = (bits + 3) // 4
    toks = df.select(F.col(id_col), F.explode(tokens_array(F.col(text_col))).alias("tok"))
    h = _md5(F.col("tok"))
    nib_src = "0123456789abcdef"
    nibble_val = [None] * n_nibs
    for n in range(n_nibs):
        c = F.substring(h, n + 1, 1)
        v = F.lit(0)
        for digit, ch in enumerate(nib_src):
            v = F.when(c == ch, digit).otherwise(v)
        nibble_val[n] = v
    toks = toks.select(
        id_col, *[nibble_val[n].alias(f"nib{n}") for n in range(n_nibs)]
    )
    aggs = []
    for b in range(bits):
        nib, pos = divmod(b, 4)
        bit = (F.col(f"nib{nib}") / (2 ** pos)).cast("long") % 2
        aggs.append(F.sum(bit * 2 - 1).alias(f"v{b}"))
    votes = toks.groupBy(id_col).agg(*aggs)
    sim = F.lit(0)
    for b in range(bits):
        sim = sim + F.when(F.col(f"v{b}") > 0, 2 ** b).otherwise(0)
    return votes.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_close_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 2, bits: int = 16
) -> DataFrame:
    """Hamming-close pairs over simhashes via nibble-band LSH — the only
    corpus-sized shuffle is a bucket equijoin, never an all-pairs cross join.

    Exactness by pigeonhole: with 4 nibble bands, any pair within hamming
    distance ≤ 3 differs in at most 3 of the 4 nibbles, so it shares at least
    one identical (band, nibble) bucket and is found by the equijoin. For the
    default max_hamming=2 recall is therefore 100% — same result set as the
    quadratic self-join, at O(n·4) bucket keys.
    """
    n_bands = 4
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"nibble-band LSH guarantees recall only for max_hamming <= "
            f"{n_bands - 1}; got {max_hamming}"
        )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("nib"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sims.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("bb")
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.nib").alias("nib"))
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_pos_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """(id, pos, g) rows — md5 of each word n-gram WITH its position: the
    position-keeping variant of shingle_df. ``pos`` is the 0-based index of
    the gram's first token; docs with fewer than n tokens emit no row.
    Built from the same in-row k-gram array (shingle_array, duplicates
    kept), so it is map-side only: no shuffle, no window."""
    return df.select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col(text_col), n, distinct=False)).alias(
            "pos", "gram"
        ),
    ).select(F.col(id_col), F.col("pos"), _md5(F.col("gram")).alias("g"))


def shared_ngram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Substring-level duplication signal (the cross-document analog of
    "Deduplicating Training Data Makes Language Models Better": repeated
    boilerplate/quotes INSIDE otherwise-distinct documents):

    - an n-gram is SHARED when it occurs in ≥ 2 distinct documents — one
      groupBy on the n-gram hash, map-side combinable;
    - per document: total n-gram positions, positions covered by shared
      n-grams, and the covered fraction in micro-units.

    Scale shape: the only corpus-sized shuffles are the hash groupBy and
    one keyed equijoin of grams against the shared-hash table — never a
    doc × doc comparison. Documents with < n tokens emit no row."""
    grams = ngram_pos_df(df, id_col, text_col, n)
    shared = (
        grams.groupBy("g")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("g", F.lit(1).alias("_sh"))
    )
    return (
        grams.join(shared, "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("_sh"), F.lit(0))).cast("long").alias("shared_ngrams"),
        )
        .select(
            id_col,
            "n_ngrams",
            "shared_ngrams",
            F.floor(
                F.col("shared_ngrams") * 1_000_000.0 / F.col("n_ngrams") + F.lit(0.5)
            )
            .cast("long")
            .alias("shared_frac_micro"),
        )
    )


def contamination_stats(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    flag_min_micro: int = 100_000,
) -> DataFrame:
    """Benchmark decontamination: per-document overlap with an evaluation
    set's n-grams (train/test leakage detection — documents carrying eval
    material must be dropped or flagged before training).

    Scale shape: the eval set is benchmark-sized (thousands of documents),
    so its distinct n-gram table is broadcast and corpus grams probe it
    with a broadcast LEFT SEMI-style mark — the corpus-sized table never
    shuffles for the membership test, only for its own per-doc groupBy.
    Returns (id, n_ngrams, contaminated_ngrams, contaminated_frac_micro,
    flagged); documents shorter than ``n`` tokens emit no row."""
    grams = ngram_pos_df(corpus, id_col, text_col, n)
    eval_grams = (
        ngram_pos_df(eval_set, id_col, text_col, n)
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        grams.join(F.broadcast(eval_grams), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("contaminated_ngrams"),
        )
        .select(
            id_col,
            "n_ngrams",
            "contaminated_ngrams",
            F.floor(
                F.col("contaminated_ngrams") * 1_000_000.0 / F.col("n_ngrams")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("contaminated_frac_micro"),
        )
        .withColumn(
            "flagged", F.col("contaminated_frac_micro") >= flag_min_micro
        )
    )


def dot_cosine(a: Column, b: Column) -> Column:
    """Cosine of two array<float/double> columns via a sequential left fold
    (F.aggregate) — deterministic summation order, identical across engines."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos_micro: int = 990_000,
    bucketed: bool = True,
    dims: tuple[int, ...] = (0, 8, 16, 24),
    probe: int = 0,
) -> DataFrame:
    """Embedding near-duplicates: cosine ≥ threshold pairs.

    ``bucketed=True`` (default, the scale path): sign-LSH bucket the corpus
    first (similarity.sign_lsh_bucket) and pair only within buckets — the
    corpus-sized shuffle is a bucket equijoin, O(n²/2^bits) candidate dot
    products instead of O(n²). Near-identical vectors (cos ≥ 0.99) share sign
    bits on the sampled coordinates except when a coordinate sits near zero.

    ``probe=1`` (multi-probe LSH): one side additionally probes every
    hamming-1-adjacent bucket (len(dims)+1 probes), which recovers exactly
    the pairs separated by a single sign flip on a near-zero sampled
    coordinate — candidate volume grows ×(len(dims)+1), still nowhere near
    O(n²). ``bucketed=False`` is the exact quadratic baseline — small inputs
    only."""
    from py_image_toolkit_spark.operators.similarity import sign_lsh_bucket

    if bucketed:
        src = emb.select(
            F.col(id_col),
            F.col(vec_col),
            sign_lsh_bucket(F.col(vec_col), dims).alias("bucket"),
        )
        if probe >= 1:
            # expand probes on ONE side only (standard multi-probe): the
            # pair (a, b) with hamming(bucket_a, bucket_b) <= 1 is found via
            # a's probe list ∋ b.bucket
            probes = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(len(dims))],
            )
            a = src.withColumn("probe_bucket", F.explode(probes)).alias("a")
            b = src.alias("b")
            cond = (F.col("a.probe_bucket") == F.col("b.bucket")) & (
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
            )
        else:
            a, b = src.alias("a"), src.alias("b")
            cond = (F.col("a.bucket") == F.col("b.bucket")) & (
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
            )
    else:
        a, b = emb.alias("a"), emb.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    cos = dot_cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    out = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.floor(cos * 1_000_000 + F.lit(0.5)).cast("long").alias("cos_micro"),
        )
        .filter(F.col("cos_micro") >= min_cos_micro)
    )
    if bucketed and probe >= 1:
        out = out.distinct()  # a pair can match via several probes
    return out


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Line-level boilerplate removal (CCNet / RefinedWeb style): drop every
    line that occurs in ≥ ``min_docs`` DISTINCT documents, keep the rest in
    order, and reassemble the cleaned text.

    "Lines" are fixed ``line_tokens``-token chunks of the whitespace token
    stream (the fixture corpus has no newlines; on real pages pass text
    pre-split on '\\n' — the relational shape is identical). This is the
    workhorse between exact whole-doc dedup and fuzzy MinHash: navigation
    chrome, cookie banners and footer text repeat VERBATIM across a host's
    pages while the surrounding document does not.

    Scale posture (100 TB): one posexplode (~L/line_tokens rows per doc),
    one groupBy on the line hash with an algebraic count-distinct partial
    (approx-free: distinct doc count per line is computed as groupBy
    (hash, doc) → groupBy hash, two map-side-combinable stages), one
    left_anti equijoin on the hash, one groupBy(doc) to reassemble. No
    self-joins, no windows over the corpus; the line-hash shuffle is the
    only corpus-sized stage and AQE skew-split handles viral lines.

    Returns (id, n_lines, n_boiler, clean_text): total lines, lines dropped
    as boilerplate, and the surviving text re-joined with single spaces.
    """
    arr = tokens_array(F.col(text_col))
    n_lines = F.ceil(F.size(arr) / F.lit(line_tokens)).cast("int")
    # guard empty/whitespace-only docs: sequence(0, -1) DESCENDS in Spark
    # ([0, -1]), which would emit two phantom '' lines where the oracle's
    # generate_series(0, -1) is empty (r5 ADVICE; latent — the fixture has
    # no empty docs, so hashes are unchanged)
    lines = F.when(
        n_lines > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(arr, i * line_tokens + 1, line_tokens), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col), lines.alias("_lines")).select(
        id_col, F.posexplode("_lines").alias("line_no", "line")
    )
    base = base.withColumn("line_hash", _md5(F.col("line")))
    boiler = (
        base.select("line_hash", id_col)
        .distinct()
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_hash")
    )
    kept = base.join(boiler, "line_hash", "left_anti")
    counts = base.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    out = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        counts.join(out, id_col, "left")
        .select(
            id_col,
            F.col("n_lines").cast("long"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_boiler"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def dedup_incremental(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an already-committed
    corpus index — the production shape of crawl ingestion: the historical
    corpus is never re-read as text, only its content-hash index (the
    SnapshotTable runs/lineage layer is exactly where such an index lives).

    Returns every batch row with its content hash and a status:
    ``dup_of_index`` (hash already committed), ``dup_in_batch`` (first
    occurrence within the batch wins by id order), or ``kept``.

    Scale posture (100 TB corpus, TB-scale batch): the index side carries
    ONLY the hash column (distinct'd — map-side combinable); the join is a
    hash-keyed equijoin, so the historical corpus text never shuffles; the
    within-batch window partitions by content hash over batch-sized data
    only. Appending kept hashes back to the index keeps the next increment
    just as cheap.
    """
    hashed = batch.select(
        F.col(id_col), _md5(F.col(text_col)).alias(hash_col)
    )
    # the index side may be the committed hash index itself, or (for ad-hoc
    # use) a text table that still needs hashing
    idx_hashes = (
        index.select(F.col(hash_col))
        if hash_col in index.columns
        else index.select(_md5(F.col(text_col)).alias(hash_col))
    )
    idx = idx_hashes.distinct().withColumn("_in_index", F.lit(1))
    w = Window.partitionBy(hash_col).orderBy(id_col)
    return (
        hashed.join(idx, hash_col, "left")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            hash_col,
            F.when(F.col("_in_index").isNotNull(), "dup_of_index")
            .when(F.col("_rn") > 1, "dup_in_batch")
            .otherwise("kept")
            .alias("status"),
        )
    )


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document novelty against the whole corpus: the share of a
    document's DISTINCT word k-grams whose globally-first occurrence (by
    min id — in a crawl, ingestion order / warc_ts rank) is this document.
    Low novelty ⇒ the document is mostly re-hashed content already seen
    earlier — a cheap corpus-growth/quality signal used when triaging new
    crawl snapshots.

    Scale posture: reuses shingle_df's distinct (doc, k-gram) rows; one
    gram-keyed groupBy (min id, map-side combinable) + one gram-keyed
    equijoin back + one doc-keyed aggregation. Never doc × doc, never a
    global sort; ratio reported in exact integer micro-units (BIGINT DIV).
    """
    grams = shingle_df(df, id_col, text_col, k=k)
    first = grams.groupBy("shingle").agg(F.min(id_col).alias("_first"))
    return (
        grams.join(first, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_ngrams"),
            F.sum((F.col("_first") == F.col(id_col)).cast("long"))
            .cast("long")
            .alias("novel_ngrams"),
        )
        .withColumn(
            "novelty_micro",
            F.expr("CAST(1000000 AS BIGINT) * novel_ngrams DIV total_ngrams"),
        )
    )


def substring_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring removal, the span-level dedup of Lee et
    al. 2021 ("Deduplicating Training Data Makes Language Models Better")
    in relational form: any maximal run of word k-grams that appears in
    ≥ ``min_docs`` distinct documents is cut from every document carrying
    it, and the surviving tokens are re-joined.

    Suffix arrays don't distribute; the equivalent relational shape does:

      1. (doc, pos, gram) rows via ngram_pos_df (map-side, no shuffle);
      2. grams in ≥ min_docs docs via one gram-keyed groupBy;
      3. duplicated gram STARTS back on the docs via a gram-keyed
         left_semi join (candidates only — the corpus never self-joins);
      4. token coverage: token t is inside a duplicated span iff some
         duplicated gram starts in [t-k+1, t] — a doc-keyed window
         max over the previous k-1 positions (positions are dense, so
         ROWS BETWEEN k-1 PRECEDING ≡ the position range);
      5. one doc-keyed agg rebuilds the cleaned token stream and counts.

    Output: id, n_tokens, dup_tokens, dup_micro (exact integer ppm of
    tokens removed), clean_text (surviving tokens joined by ' ' — the
    operator's contract is the token stream, not original whitespace).

    Scale posture (100 TB): shuffles are one gram groupBy, one gram
    equijoin, one (doc,pos) equijoin and one doc-keyed window+agg — all
    keyed, never doc × doc, never a global sort. The gram table is ~L
    rows per doc (same as shingling); AQE skew-split handles hot grams
    (boilerplate); cross-document only (within-doc repeats of a gram do
    not by themselves mark a span — use min_docs=1 semantics upstream
    via line_dedup/shared_ngram_stats for that).
    """
    grams = ngram_pos_df(df, id_col, text_col, n=k)
    dup_grams = (
        grams.groupBy("g")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    dup_starts = grams.join(dup_grams, "g", "left_semi").select(
        F.col(id_col), F.col("pos"), F.lit(1).alias("dstart")
    )

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_array(F.col(text_col))).alias("pos", "tok"),
    )
    w_cov = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(k - 1), Window.currentRow)
    )
    flagged = toks.join(dup_starts, [id_col, "pos"], "left").withColumn(
        "covered", F.max(F.coalesce(F.col("dstart"), F.lit(0))).over(w_cov)
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("covered").cast("long").alias("dup_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("covered") == 0, F.struct("pos", "tok")
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .withColumn(
            "dup_micro",
            F.expr("CAST(1000000 AS BIGINT) * dup_tokens DIV n_tokens"),
        )
        .select(id_col, "n_tokens", "dup_tokens", "dup_micro", "clean_text")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): over every window of ``w`` consecutive word
    k-gram hashes, select the minimum hash (rightmost occurrence wins
    ties); the DISTINCT selected (position, hash) pairs are the document
    fingerprint. Guarantee: any shared substring of ≥ w+k−1 tokens
    produces at least one shared fingerprint, while only ~2/(w+1) of
    gram hashes are kept — the classic sublinear local-dedup sketch.

    Output: id, fp_pos, fp_hash rows (the fingerprint set).

    Scale posture (100 TB): reuses ngram_pos_df's positioned grams
    (map-side); selection is one doc-keyed window shuffle carrying both
    window passes (the frame min and the per-doc max position) + a
    distinct whose keys are doc-local. Never doc × doc; md5 hex compares
    consistently across engines (lexicographic on a fixed-width hex
    alphabet).
    """
    grams = ngram_pos_df(df, id_col, text_col, n=k)
    part = Window.partitionBy(id_col)
    frame = part.orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    # min over (hash asc, pos desc): struct min picks the smallest hash,
    # and for equal hashes the smallest negated position = rightmost one
    pick = F.min(F.struct(F.col("g").alias("h"), (-F.col("pos")).alias("np"))).over(
        frame
    )
    sel = (
        grams.withColumn("_pick", pick)
        .withColumn("_maxpos", F.max("pos").over(part))
        .filter(F.col("pos") <= F.col("_maxpos") - (w - 1))
        .select(
            F.col(id_col),
            (-F.col("_pick.np")).cast("long").alias("fp_pos"),
            F.col("_pick.h").alias("fp_hash"),
        )
        .distinct()
    )
    return sel


def winnow_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_hash_df: int = 16,
) -> DataFrame:
    """MOSS-style near-duplicate detection over winnowing fingerprints:
    document pairs sharing ≥ ``min_shared`` distinct selected hashes.
    This is what the winnowing sketch exists for — candidate pairs from
    ~2/(w+1) of the grams instead of all of them, with the guarantee
    that any shared run of ≥ w+k−1 tokens still collides.

    Fingerprints present in more than ``max_hash_df`` documents are
    dropped before pairing (boilerplate guard — the same bucket-size cap
    every LSH join needs: a hash shared by 10⁶ docs would otherwise
    expand to 10¹² pairs).

    Output: id_a < id_b, shared_fps.

    Scale posture (100 TB): fingerprint sets are doc-local and sparse;
    the pair join is a fp_hash-keyed equijoin whose fan-out is bounded
    by max_hash_df², followed by one pair-keyed groupBy — never
    doc × doc, and AQE skew-split covers residual hot hashes.
    """
    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col), "fp_hash")
        .distinct()
    )
    eligible = (
        fps.groupBy("fp_hash")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= max_hash_df))
        .select("fp_hash")
    )
    pruned = fps.join(eligible, "fp_hash", "left_semi")
    a = pruned.select(F.col("fp_hash"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("fp_hash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def _bloom_bit(col: Column, seed: int, m_bits: int) -> Column:
    """Deterministic Bloom probe: int of md5(seed‖value)'s first 4 hex
    chars, mod m_bits — reproducible across engines (pure md5, no
    platform hash)."""
    h = _md5(F.concat(F.lit(f"{seed}|"), col))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % m_bits).alias("bit")


def bloom_build(
    grams: DataFrame, gram_col: str = "shingle", m_bits: int = 65536, k_hashes: int = 3
) -> DataFrame:
    """The SET BIT POSITIONS of a Bloom filter over a gram column — at
    most ``m_bits`` rows regardless of how many grams went in. This is
    the constant-size membership structure that replaces shipping the
    raw gram set when it no longer broadcasts comfortably."""
    probes = F.array(
        *[_bloom_bit(F.col(gram_col), j, m_bits) for j in range(k_hashes)]
    )
    return grams.select(F.explode(probes).alias("bit")).distinct()


def bloom_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 65536,
    k_hashes: int = 3,
) -> DataFrame:
    """Benchmark decontamination via a relational Bloom filter — the
    scale path beside q44's broadcast-probe: the eval set folds into an
    m-bit filter (≤ m_bits rows, CONSTANT in eval-set size), and a
    corpus n-gram is flagged when ALL k probes hit. False positives are
    possible by design (≈ (1−e^{−kn/m})^k) and fully deterministic —
    both engines replay the same md5 probes, so the oracle matches
    bit-for-bit including the FP set.

    Output per doc: n_grams (distinct), flagged_grams, flagged_micro.

    Scale posture (100 TB): the filter is m_bits rows no matter how big
    the benchmark suite grows — broadcast by construction; corpus grams
    probe map-side (k semi-join-shaped hits counted per gram), then one
    doc-keyed rollup. The corpus never shuffles for membership.
    """
    ev_grams = shingle_df(eval_df, id_col, text_col, k=n).select("shingle").distinct()
    bloom = bloom_build(ev_grams, m_bits=m_bits, k_hashes=k_hashes)

    cg = shingle_df(corpus, id_col, text_col, k=n)
    probes = cg.select(
        F.col(id_col),
        F.col("shingle"),
        F.posexplode(
            F.array(*[_bloom_bit(F.col("shingle"), j, m_bits) for j in range(k_hashes)])
        ).alias("_j", "bit"),
    )
    hits = (
        probes.join(F.broadcast(bloom), "bit", "left_semi")
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == k_hashes)
        .select(F.col(id_col), F.lit(1).alias("_flag"))
    )
    flagged = hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("flagged_grams")
    )
    totals = cg.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    return (
        totals.join(flagged, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("flagged_grams"), F.lit(0)).cast("long").alias(
                "flagged_grams"
            ),
        )
        .withColumn(
            "flagged_micro",
            F.expr("CAST(1000000 AS BIGINT) * flagged_grams DIV n_grams"),
        )
    )


def cms_build(
    items: DataFrame, item_col: str = "tok", depth: int = 3, width: int = 1024
) -> DataFrame:
    """Count-min sketch of item frequencies: ``depth × width`` cells
    (CONSTANT in item cardinality — the frequency analog of bloom_build).
    Each occurrence increments one cell per row via the md5-nibble probe
    family; cell counts are one (row, col)-keyed groupBy, map-side
    combinable, so the sketch costs one bounded shuffle no matter how
    many distinct items exist.

    Output: (row, col, cnt) — at most depth·width rows.
    """
    probes = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("row"),
                _bloom_bit(F.col(item_col), j, width).cast("long").alias("col"),
            )
            for j in range(depth)
        ]
    )
    return (
        items.select(F.explode(probes).alias("p"))
        .select(F.col("p.row"), F.col("p.col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    sketch: DataFrame,
    item_col: str = "tok",
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Frequency estimates from a count-min sketch: est(item) = min over
    the depth rows of that item's cell counts (missing cell ⇒ 0). The
    classic one-sided guarantee holds — est ≥ true count, with
    overestimates bounded by collisions (property-tested).

    Scale posture: the sketch is depth·width rows → broadcast; probes
    expand ×depth map-side, join the broadcast sketch on (row, col) and
    reduce with one item-keyed min — the item stream itself never
    shuffles against other items.
    """
    parr = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("row"),
                _bloom_bit(F.col(item_col), j, width).cast("long").alias("col"),
            )
            for j in range(depth)
        ]
    )
    e = probes.select(F.col(item_col), F.explode(parr).alias("p")).select(
        item_col, F.col("p.row").alias("row"), F.col("p.col").alias("col")
    )
    return (
        e.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_count"))
    )


def kmv_distinct(
    items: DataFrame, item_col: str = "tok", k: int = 64
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch — the cardinality
    member of the sketch family (Bloom: membership, CMS: frequency,
    winnowing: similarity), chosen over HLL because its estimate is a
    DETERMINISTIC function of md5 order and therefore oracle-hashable:

        est = (k−1) · 2^32 DIV kth_smallest_hash32      (≥ k distinct)
        est = exact distinct count                       (< k distinct)

    The intuition: k uniform points in [0, 2^32) with k-th order
    statistic h estimate density k/h ≈ n/2^32.

    Scale posture (10^12 items): distinct-by-hash is one map-side-
    combinable groupBy; the k smallest survivors reduce via
    TakeOrderedAndProject (per-partition top-k, never a global sort of
    the distinct set). Output one row: n_distinct_min(k, n), kth_hash32,
    est_distinct.
    """
    h32 = F.conv(F.substring(_md5(F.col(item_col)), 1, 8), 16, 10).cast("long")
    mins = (
        items.select(h32.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    agg = mins.agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.max("h").alias("kth_hash32"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch")
    ).otherwise(
        F.expr(f"CAST({k - 1} AS BIGINT) * CAST(4294967296 AS BIGINT) DIV kth_hash32")
    )
    return agg.select(
        "n_sketch", "kth_hash32", est.cast("long").alias("est_distinct")
    )
