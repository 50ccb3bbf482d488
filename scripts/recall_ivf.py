"""Measure IVF-flat recall@10 vs exact brute-force top-k on the driver
embeddings fixture — trained (Lloyd's k-means) vs untrained (deterministic
modulo-sample) centroids, across nprobe settings.

Usage: PYTHONPATH=/root/repo python scripts/recall_ivf.py [sf_dir]
Output: one table; paste into BENCH/BASELINE.md (round-3 verdict task #2).
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from py_image_toolkit_spark.operators.similarity import (
    cosine_topk,
    ivf_flat_topk,
    train_kmeans_centroids,
)
from py_image_toolkit_spark.session import build_session

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = build_session("recall-ivf")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 5)
    probes = emb.filter(F.col("vec_id") < 5)

    exact = {
        (r["probe_id"], r["corpus_id"])
        for r in cosine_topk(corpus, probes, k=10).collect()
    }

    def recall(cents, nprobe: int) -> float:
        got = {
            (r["probe_id"], r["corpus_id"])
            for r in ivf_flat_topk(corpus, probes, cents, k=10, nprobe=nprobe).collect()
        }
        return len(got & exact) / len(exact)

    untrained = corpus.filter(F.col("vec_id") % 40 == 0)  # q32's centroids
    trained = train_kmeans_centroids(corpus, k=8, iters=2).persist()
    n_cents_untrained = untrained.count()
    trained.count()

    print(f"sf_dir={SF_DIR} corpus={corpus.count()} probes={probes.count()} "
          f"untrained_k={n_cents_untrained} trained_k=8 iters=2")
    print("| centroids | nprobe | recall@10 |")
    print("|---|---|---|")
    for nprobe in (1, 2, 4):
        print(f"| untrained (vec_id % 40) | {nprobe} | {recall(untrained, nprobe):.3f} |")
    for nprobe in (1, 2, 4):
        print(f"| trained (kmeans k=8 x2) | {nprobe} | {recall(trained, nprobe):.3f} |")
    # apples-to-apples: same cell count as the untrained sample
    matched = train_kmeans_centroids(corpus, k=n_cents_untrained, iters=2).persist()
    matched.count()
    for nprobe in (1, 2, 4):
        print(f"| trained (kmeans k={n_cents_untrained} x2) | {nprobe} | {recall(matched, nprobe):.3f} |")
    spark.stop()


if __name__ == "__main__":
    main()
