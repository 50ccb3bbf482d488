"""Dedup operator unit tests: short-document robustness and banded-LSH
equivalence to the brute-force forms (round-1 ADVICE + VERDICT items)."""

import pytest

from pyspark.sql import functions as F

from py_image_toolkit_spark.operators import dedup as D


@pytest.fixture(scope="module")
def short_docs(spark):
    # empty text, 1-token, 2-token (all < k=3 shingle width), plus normal docs
    rows = [
        (1, ""),
        (2, "one"),
        (3, "two words"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "the quick brown fox jumps over the lazy cat"),
        (6, "   "),  # whitespace-only
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _near_dup_pairs(df):
    """The production near-dup chain (q19's): doc_shingles → minhash →
    lsh_band_pairs → jaccard_verify_arrays."""
    base = D.doc_shingles(df, k=3)
    sigs = D.minhash_signatures(
        base.select("doc_id", F.explode("shingles").alias("shingle")), num_hashes=8
    )
    cands = D.lsh_band_pairs(sigs, num_hashes=8, rows_per_band=2)
    return D.jaccard_verify_arrays(base, cands, min_jaccard=0.5)


def test_shingle_df_survives_short_docs(short_docs):
    """Docs with < k tokens must yield zero shingle rows, not abort the job
    (sequence(1, size-(k-1)) is DESCENDING when size < k and slice throws)."""
    sh = D.shingle_df(short_docs, k=3).toPandas()
    assert set(sh["doc_id"]) == {4, 5}
    assert (sh.groupby("doc_id").size() == 7).all()  # 9 tokens → 7 trigrams


def test_full_dedup_chain_with_short_docs(short_docs):
    """The whole shingle→minhash→LSH→jaccard chain runs on a corpus
    containing short docs and still finds the one real near-dup pair."""
    pairs = _near_dup_pairs(short_docs).toPandas()
    assert [(r.id_a, r.id_b) for r in pairs.itertuples()] == [(4, 5)]


@pytest.fixture(scope="module")
def sim_corpus(spark):
    # base doc + variants: identical, tiny edit (hamming-close), unrelated
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [(i, base + f"tail{i % 3}") for i in range(30)] + [
        (100 + i, f"completely different text number {i} with other words")
        for i in range(10)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_banded_equals_bruteforce(spark, sim_corpus):
    """The nibble-band LSH plan returns the identical pair set to the
    quadratic self-join for max_hamming ≤ 3 (pigeonhole guarantee)."""
    sims = D.simhash_df(sim_corpus)
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_close_pairs(sims, max_hamming=2).collect()
    }
    a, b = sims.alias("a"), sims.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    assert banded == brute
    assert len(brute) > 0  # non-vacuous


def test_simhash_banded_rejects_unguaranteed_radius(spark, sim_corpus):
    sims = D.simhash_df(sim_corpus)
    with pytest.raises(ValueError):
        D.simhash_close_pairs(sims, max_hamming=4)


def test_embedding_neardup_bucketed_plan_has_equijoin(spark):
    """The default (bucketed) near-dup plan must join on the LSH bucket key —
    no unconditioned cross join anywhere in the physical plan."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 32).astype("float64")
    vecs[1] = vecs[0] + 0.001  # one near-dup pair
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = D.embedding_neardup_pairs(emb, min_cos_micro=990_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in got

    # exact baseline agrees on this corpus (near-identical vectors share
    # sign buckets when no sampled coordinate flips)
    brute = {
        (r.id_a, r.id_b)
        for r in D.embedding_neardup_pairs(
            emb, min_cos_micro=990_000, bucketed=False
        ).collect()
    }
    assert got == brute


def test_embedding_neardup_multiprobe_recovers_sign_flip(spark):
    """probe=1 finds the pair whose near-zero sampled coordinate flips sign
    between the two vectors (single-probe bucketing misses it by design)."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(32)
    base[0] = 1e-4  # sampled dim 0 sits at the hyperplane
    twin = base.copy()
    twin[0] = -1e-4  # sign flip on dim 0 → different bucket, cos ≈ 1
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in twin])] + [
        (i, [float(x) for x in rng.randn(32)]) for i in range(2, 30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    single = {(r.id_a, r.id_b)
              for r in D.embedding_neardup_pairs(emb, min_cos_micro=990_000).collect()}
    multi = {(r.id_a, r.id_b)
             for r in D.embedding_neardup_pairs(emb, min_cos_micro=990_000,
                                                probe=1).collect()}
    assert (0, 1) not in single  # the known single-probe blind spot
    assert (0, 1) in multi
    brute = {(r.id_a, r.id_b)
             for r in D.embedding_neardup_pairs(emb, min_cos_micro=990_000,
                                                bucketed=False).collect()}
    assert multi == brute  # on this corpus multi-probe is fully exact


def test_dedup_chain_robust_to_arbitrary_text(spark):
    """Fuzz the full shingle→minhash→LSH→jaccard chain with adversarial
    texts (empty, whitespace, unicode digits, huge tokens, newlines, regex
    metachars): the job must complete and never emit a self-pair."""
    texts = [
        "", "   ", "\n\n\t", "one", "１２ ３４ ５６ ７８",
        "a " * 500, "x" * 5000,
        "same same same same same", "same same same same same",
        ".* (|) [a-z] \\d {2,3} $^", "한글 텍스트 토큰 분할 검사 진행",
        "mixed 한글 and english tokens 123 456-789",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = _near_dup_pairs(df).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert {(r.id_a, r.id_b) for r in pairs} >= {(7, 8)}  # the exact dup pair
    # exact dedup agrees on the duplicate group
    groups = D.exact_dedup(df).collect()
    assert {(g.canonical_id, g.n_dups) for g in groups} == {(7, 2)}


def test_ivf_flat_full_probe_equals_bruteforce(spark):
    """IVF-flat exactness property: probing ALL cells makes the candidate
    set the whole corpus, so the result must equal the brute-force top-k
    exactly (rank, id, and score)."""
    import numpy as np

    from py_image_toolkit_spark.operators.similarity import (
        cosine_topk,
        ivf_flat_topk,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter("vec_id < 3")
    corpus = emb.filter("vec_id >= 3")
    cents = corpus.filter("vec_id % 10 = 0")  # 4 cells
    exact = cosine_topk(corpus, probes, k=5).orderBy("probe_id", "rank").collect()
    full = (
        ivf_flat_topk(corpus, probes, cents, k=5, nprobe=4)
        .orderBy("probe_id", "rank")
        .collect()
    )
    assert full == exact


def test_ivf_flat_nprobe_one_recall_and_validity(spark):
    """With nprobe=1 results come only from the probe's nearest cell: every
    returned neighbor must share the probe's cell assignment, scores must
    be correctly ranked, and a planted identical vector must be found (it
    always lands in the probe's own cell)."""
    import numpy as np

    from py_image_toolkit_spark.operators.similarity import ivf_flat_topk

    rng = np.random.RandomState(13)
    vecs = rng.randn(40, 16).astype("float64")
    probe_vec = rng.randn(16)
    vecs[25] = probe_vec  # planted exact duplicate of the probe in corpus
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = spark.createDataFrame(
        [(1000, [float(x) for x in probe_vec])],
        "vec_id long, embedding array<double>",
    )
    corpus = emb
    out = ivf_flat_topk(
        corpus, probes, corpus.filter("vec_id % 8 = 0"), k=3, nprobe=1
    ).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["corpus_id"] == 25 and out[0]["cos_micro"] == 1_000_000
    assert out[0]["cos_micro"] >= out[1]["cos_micro"] >= out[2]["cos_micro"]


def test_repetition_stats_signals_and_edges(spark):
    """Gopher-style repetition filters: a spam-looped doc flags repetitive,
    natural text does not; <2-token docs have NULL bigram share and only
    the dup-word test applies."""
    from py_image_toolkit_spark.operators.text_stats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy now " * 20),            # one bigram dominates
            (2, "the quick brown fox jumps over a lazy dog near the river"),
            (3, "single"),                    # no bigrams -> NULL share
            (4, "a a a a a a a a a a"),       # dup-word fraction 0.9
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["repetitive"] and rows[1]["top_bigram_share_micro"] > 400_000
    assert not rows[2]["repetitive"]
    assert rows[3]["top_bigram_share_micro"] is None and not rows[3]["repetitive"]
    assert rows[4]["dup_word_frac_micro"] == 900_000 and rows[4]["repetitive"]


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated direction clusters in 8 dims: after 3 Lloyd
    iterations each trained centroid must align (cos >= 0.95) with one true
    cluster direction, and the three directions must all be covered."""
    import numpy as np

    from py_image_toolkit_spark.operators.similarity import train_kmeans_centroids

    rng = np.random.RandomState(7)
    axes = np.eye(8)[:3]  # three orthogonal true directions
    rows = []
    for i in range(60):
        base = axes[i % 3]
        v = base + 0.05 * rng.randn(8)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_kmeans_centroids(emb, k=3, iters=3).collect()
    assert len(cents) == 3
    covered = set()
    for r in cents:
        c = np.array(r["embedding"])
        cosines = axes @ c / (np.linalg.norm(c) * 1.0)
        j = int(np.argmax(cosines))
        assert cosines[j] >= 0.95
        covered.add(j)
    assert covered == {0, 1, 2}


def test_kmeans_deterministic_and_empty_cluster_retention(spark):
    """k > distinct directions: surplus centroids keep a value (no empty-
    cluster crash, k rows out), and two runs are bit-identical (the q35
    oracle hash-gate relies on exact int-micro arithmetic)."""
    from py_image_toolkit_spark.operators.similarity import train_kmeans_centroids

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(10)]  # all identical
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = train_kmeans_centroids(emb, k=4, iters=2).orderBy("vec_id").collect()
    b = train_kmeans_centroids(emb, k=4, iters=2).orderBy("vec_id").collect()
    assert len(a) == 4
    assert all(len(r["embedding"]) == 4 for r in a)
    assert a == b


def test_trained_centroids_beat_untrained_recall(spark):
    """On a clustered corpus, nprobe=1 IVF search with TRAINED centroids
    must recall at least as much of the exact top-10 as the deterministic
    untrained sample — and strictly more here, because modulo-sampled
    centroids land inside arbitrary clusters while Lloyd's means separate
    them."""
    import numpy as np

    from py_image_toolkit_spark.operators.similarity import (
        cosine_topk,
        ivf_flat_topk,
        train_kmeans_centroids,
    )

    rng = np.random.RandomState(3)
    axes = np.eye(16)[:4]
    rows = []
    for i in range(80):
        v = axes[i % 4] + 0.15 * rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") < 4)
    corpus = emb.filter(F.col("vec_id") >= 4)

    exact = {
        (r["probe_id"], r["corpus_id"])
        for r in cosine_topk(corpus, probes, k=10).collect()
    }

    def recall(cents):
        got = {
            (r["probe_id"], r["corpus_id"])
            for r in ivf_flat_topk(corpus, probes, cents, k=10, nprobe=1).collect()
        }
        return len(got & exact) / len(exact)

    trained = recall(train_kmeans_centroids(corpus, k=4, iters=3))
    untrained = recall(corpus.filter(F.col("vec_id") % 20 == 0))
    assert trained >= untrained
    assert trained >= 0.9


def test_quantize_int8_error_bound_and_edge_cases(spark):
    """Reconstruction error <= scale/2 per coordinate; values span the full
    [-127, 127] range at the extremes; zero vectors quantize cleanly."""
    import numpy as np

    from py_image_toolkit_spark.operators.similarity import quantize_embeddings_int8

    rng = np.random.RandomState(9)
    vecs = {0: rng.randn(16) * 3.7, 1: np.zeros(16), 2: np.array([1e-9] * 16)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(emb).collect()}
    for i, v in vecs.items():
        true_scale = np.abs(v).max() / 127.0
        q = np.array(out[i]["qvec"])
        assert q.max() <= 127 and q.min() >= -127
        if true_scale == 0:
            assert (q == 0).all() and out[i]["scale_nano"] == 0
        else:
            recon = q * true_scale
            assert np.abs(recon - v).max() <= true_scale / 2 + 1e-12
            # scale_nano is the stored (1e-9-resolution) rendering
            assert out[i]["scale_nano"] == int(np.floor(true_scale * 1e9 + 0.5))
    assert abs(out[0]["qvec"][int(np.argmax(np.abs(vecs[0])))]) == 127


def test_shared_ngram_stats_finds_boilerplate(spark):
    from py_image_toolkit_spark.operators.dedup import shared_ngram_stats

    boiler = "all rights reserved by the site"
    rows = [
        (1, "unique words alpha beta gamma delta " + boiler),
        (2, "different content epsilon zeta eta theta " + boiler),
        (3, "totally unrelated text with enough tokens here"),
        (4, "shrt"),  # < n tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in shared_ngram_stats(df, n=5).collect()}
    assert set(out) == {1, 2, 3}
    # the 6-word boilerplate contributes exactly 2 shared 5-grams per doc
    assert out[1]["shared_ngrams"] == 2 and out[2]["shared_ngrams"] == 2
    assert out[3]["shared_ngrams"] == 0
    assert out[1]["n_ngrams"] == len(rows[0][1].split()) - 4
    assert 0 < out[1]["shared_frac_micro"] < 1_000_000


def test_contamination_stats_flags_leaked_docs(spark):
    from py_image_toolkit_spark.operators.dedup import contamination_stats

    eval_text = "the capital of france is paris said the model"
    rows = [
        (1, "benign words alpha beta gamma delta epsilon zeta"),
        (2, "prefix words then " + eval_text + " suffix tail here"),
        (3, eval_text),  # verbatim eval doc -> 100% contaminated
        (4, "tiny"),  # < n tokens -> no row
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in contamination_stats(corpus, eval_df, n=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["contaminated_ngrams"] == 0 and not out[1]["flagged"]
    assert out[3]["contaminated_frac_micro"] == 1_000_000 and out[3]["flagged"]
    # the embedded copy contributes exactly the eval text's 5 shared 5-grams
    assert out[2]["contaminated_ngrams"] == 5 and out[2]["flagged"]
    # the membership probe is a broadcast, never a shuffled join of the corpus
    plan = contamination_stats(corpus, eval_df, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


def test_line_dedup_removes_shared_keeps_unique(spark):
    from py_image_toolkit_spark.operators.dedup import line_dedup

    banner = "b0 b1 b2"  # one 3-token line shared by docs 1 and 2
    docs = spark.createDataFrame(
        [
            (1, banner + " u1 u2 u3"),
            (2, banner + " v1 v2 v3"),
            (3, "w1 w2 w3 w4 w5 w6"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, line_tokens=3).collect()}
    assert out[1]["n_lines"] == 2 and out[1]["n_boiler"] == 1
    assert out[1]["clean_text"] == "u1 u2 u3"
    assert out[2]["clean_text"] == "v1 v2 v3"
    assert out[3]["n_boiler"] == 0 and out[3]["clean_text"] == "w1 w2 w3 w4 w5 w6"


def test_line_dedup_all_boilerplate_doc_yields_empty(spark):
    from py_image_toolkit_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "same same same"), (2, "same same same")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, line_tokens=3).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_boiler"] == 1
    assert set(out) == {1, 2}


# ---------------------------------------------------------------------------
# substring_span_dedup (Lee et al. span-level exact dedup, q70)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def span_docs(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = one full gram
    rows = [
        # docs 1/2 share an 8-token span mid-text (different surroundings)
        (1, f"one two {shared} three four"),
        (2, f"five six seven {shared} eight"),
        # doc 3: shares NO 8-gram (7-token overlap only — below k)
        (3, "alpha beta gamma delta epsilon zeta eta DIFFERENT nine ten"),
        # doc 4: unique text, longer than k
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        # doc 5: shorter than k — can never be marked
        (5, "tiny doc"),
        # docs 6/7: identical full text of 10 tokens → maximal span = whole doc
        (6, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (7, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_dedup_marks_exact_shared_spans(span_docs):
    out = {
        r.doc_id: r
        for r in D.substring_span_dedup(span_docs, k=8, min_docs=2).collect()
    }
    # docs 1/2: exactly the 8 shared tokens are cut, the rest survives
    assert out[1].dup_tokens == 8 and out[1].clean_text == "one two three four"
    assert out[2].dup_tokens == 8 and out[2].clean_text == "five six seven eight"
    # 7-token overlap is below k → untouched
    assert out[3].dup_tokens == 0 and out[3].clean_text.startswith("alpha beta")
    # unique + short docs untouched
    assert out[4].dup_tokens == 0
    assert out[5].dup_tokens == 0 and out[5].n_tokens == 2
    # identical docs: every token covered, clean_text empty, ppm exact
    for d in (6, 7):
        assert out[d].dup_tokens == 10 and out[d].clean_text == ""
        assert out[d].dup_micro == 1_000_000


def test_span_dedup_merges_overlapping_gram_runs(spark):
    # 12 shared tokens → 5 dup gram starts (k=8) whose intervals overlap;
    # coverage must be the merged 12-token span, not 5 separate grams
    shared = " ".join(f"s{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, f"pre {shared} post"), (2, f"x {shared} y")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.substring_span_dedup(df, k=8).collect()}
    assert out[1].dup_tokens == 12 and out[1].clean_text == "pre post"
    assert out[2].dup_tokens == 12 and out[2].clean_text == "x y"


def test_span_dedup_within_doc_repeat_not_marked(spark):
    # the same 8-gram twice within ONE doc is not a cross-doc duplicate
    s = "r1 r2 r3 r4 r5 r6 r7 r8"
    df = spark.createDataFrame(
        [(1, f"{s} mid {s}"), (2, "totally different words here now ok yes no")],
        "doc_id long, text string",
    )
    out = D.substring_span_dedup(df, k=8, min_docs=2).collect()
    assert all(r.dup_tokens == 0 for r in out)


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS selection, q75)
# ---------------------------------------------------------------------------


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Any shared substring of >= w+k-1 tokens must share >=1 fingerprint."""
    shared = " ".join(f"s{i}" for i in range(8))  # w+k-1 = 4+5-1 = 8 tokens
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {shared} a4 a5"),
            (2, f"b1 {shared} b2 b3 b4 b5"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
        ],
        "doc_id long, text string",
    )
    fp = D.winnow_fingerprints(df, k=5, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnowing_density_and_determinism(spark):
    toks = " ".join(f"w{i % 13}x{i % 7}" for i in range(200))
    df = spark.createDataFrame([(1, toks)], "doc_id long, text string")
    a = sorted((r.fp_pos, r.fp_hash) for r in D.winnow_fingerprints(df).collect())
    b = sorted((r.fp_pos, r.fp_hash) for r in D.winnow_fingerprints(df).collect())
    assert a == b  # deterministic
    n_grams = 200 - 5 + 1
    # winnowing keeps ~2/(w+1) of grams; allow generous bounds
    assert n_grams * 0.1 <= len(a) <= n_grams * 0.8
    # every selected position is a valid gram start
    assert all(0 <= p <= n_grams - 1 for p, _ in a)


def test_winnowing_short_doc_yields_nothing(spark):
    df = spark.createDataFrame(
        [(1, "only seven tokens here not enough grams")],  # 7 toks -> 3 grams < w
        "doc_id long, text string",
    )
    assert D.winnow_fingerprints(df, k=5, w=4).count() == 0


def test_winnow_neardup_pairs_finds_shared_suffix_docs(spark):
    base = " ".join(f"body{i} filler{i % 3}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, "prefix alpha " + base),          # near-dup of 1
            (3, "completely unrelated text " + " ".join(f"z{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    pairs = D.winnow_neardup_pairs(df, min_shared=2).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].shared_fps >= 2


def test_winnow_neardup_hot_hash_cap_suppresses_boilerplate_blowup(spark):
    # 20 docs all sharing the same 12-token boilerplate: every fingerprint
    # from that run has df=20 > max_hash_df=4 and must be pruned
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.winnow_neardup_pairs(df, min_shared=1, max_hash_df=4).count() == 0


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (q81)
# ---------------------------------------------------------------------------


def test_bloom_decontaminate_flags_eval_overlap(spark):
    ev_text = "the exam question about spark shuffles appears here verbatim today"
    docs = spark.createDataFrame(
        [
            (1, ev_text),                                   # the eval doc itself
            (2, f"intro words {ev_text} closing words"),     # contains the eval text
            (3, "entirely disjoint vocabulary zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8"),
        ],
        "doc_id long, text string",
    )
    ev = docs.filter("doc_id = 1")
    out = {r.doc_id: r for r in D.bloom_decontaminate(docs, ev, n=3).collect()}
    # every gram of the eval doc is in the filter -> fully flagged
    assert out[1].flagged_micro == 1_000_000
    # the containing doc flags at least the embedded grams
    assert out[2].flagged_grams >= out[1].n_grams
    # a tiny filter load (24 bits of 65536) makes 3-probe false positives
    # on 6 disjoint grams astronomically unlikely -> exactly zero here
    assert out[3].flagged_grams == 0


def test_bloom_filter_is_constant_size(spark):
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grams = D.shingle_df(docs, k=3).select("shingle").distinct()
    bits = D.bloom_build(grams, m_bits=256, k_hashes=3)
    assert bits.count() <= 256  # bounded by m regardless of gram count


# ---------------------------------------------------------------------------
# count-min sketch (q89)
# ---------------------------------------------------------------------------


def test_cms_one_sided_guarantee_and_zero_path(spark):
    from pyspark.sql import functions as F

    rows = [(i, f"w{i % 17}") for i in range(500)]  # 17 tokens, ~29 each
    toks = spark.createDataFrame(rows, "i long, tok string").select("tok")
    sketch = D.cms_build(toks, depth=3, width=64)
    truth = {r.tok: r.cnt for r in toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()}
    probes = spark.createDataFrame(
        [(t,) for t in list(truth) + ["never-seen"]], "tok string"
    )
    est = {r.tok: r.est_count for r in D.cms_estimate(probes, sketch, depth=3, width=64).collect()}
    # one-sided: estimate never undercounts; absent items may collide but
    # real items are always >= their true frequency
    for tok, n in truth.items():
        assert est[tok] >= n
    assert est["never-seen"] >= 0
    # sketch size bounded by depth*width regardless of stream length
    assert sketch.count() <= 3 * 64


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    small = spark.createDataFrame([(f"t{i % 10}",) for i in range(200)], "tok string")
    r = D.kmv_distinct(small, k=64).collect()[0]
    # fewer than k distinct -> exact
    assert r.n_sketch == 10 and r.est_distinct == 10

    big = spark.createDataFrame([(f"u{i}",) for i in range(5000)], "tok string")
    r2 = D.kmv_distinct(big, k=64).collect()[0]
    assert r2.n_sketch == 64
    # KMV with k=64 has ~12% relative std error; allow a wide band
    assert 3000 <= r2.est_distinct <= 8000
    # determinism
    r3 = D.kmv_distinct(big, k=64).collect()[0]
    assert r3.est_distinct == r2.est_distinct
