"""J5 skew handling: salted two-stage aggregation (plans/job.py) — exact
results on a skewed-host fixture, for both algebraic and holistic shapes.
The perf evidence (salted beats naive holistic groupBy on the hot key at
local[16]) lives in scripts/bench_salted.py → BENCH/BASELINE.md."""

from pyspark.sql import functions as F

from py_image_toolkit_spark.operators.web import host_of
from py_image_toolkit_spark.plans.job import salted_two_stage_agg


def _skewed_views(spark, n=5000, hot_share=0.3):
    """Synthetic page-view log: one host owns ~hot_share of all rows."""
    n_hot = int(n * hot_share)
    return spark.range(n).select(
        F.when(F.col("id") < n_hot, F.lit("hot.example"))
        .otherwise(F.concat(F.lit("host-"), (F.col("id") % 50).cast("string")))
        .alias("host"),
        # hot host urls repeat 3×: exercises dedup inside salt buckets
        F.when(F.col("id") < n_hot, F.concat(F.lit("/p/"), (F.col("id") % (n_hot // 3)).cast("string")))
        .otherwise(F.concat(F.lit("/q/"), F.col("id").cast("string")))
        .alias("url"),
    )


def test_salted_algebraic_matches_plain_groupby(spark):
    df = _skewed_views(spark).withColumn("w", F.length("url").cast("long"))
    salted = salted_two_stage_agg(
        df,
        "host",
        {
            "n": (lambda c: F.count(F.lit(1)).alias("n"), lambda c: F.sum("n").alias("n")),
            "w_sum": (lambda c: F.sum("w").alias("w_sum"), lambda c: F.sum("w_sum").alias("w_sum")),
        },
        n_salts=8,
    )
    plain = df.groupBy("host").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sum")
    )
    assert salted.orderBy("host").collect() == plain.orderBy("host").collect()


def test_salted_exact_distinct_disjoint_buckets(spark):
    """Holistic shape: exact per-host distinct-url counts. The salt is a
    deterministic hash of the (host, url) row, so a host's distinct urls are
    DISJOINT across salt buckets — stage 2 sums partial set sizes and no
    reducer ever merges the hot host's full element set."""
    df = _skewed_views(spark).select("host", "url")  # project FIRST (contract)
    salted = salted_two_stage_agg(
        df,
        "host",
        {
            "n_urls": (
                lambda c: F.size(F.collect_set("url")).alias("n_urls"),
                lambda c: F.sum("n_urls").alias("n_urls"),
            )
        },
        n_salts=8,
    )
    truth = df.groupBy("host").agg(F.countDistinct("url").alias("n_urls"))
    assert salted.orderBy("host").collect() == truth.orderBy("host").collect()


def test_host_of_extracts(spark):
    rows = spark.createDataFrame(
        [("https://hot.example/p/1",), ("http://a-b.example/x",)], "url string"
    ).select(host_of(F.col("url")).alias("h")).collect()
    assert [r["h"] for r in rows] == ["hot.example", "a-b.example"]
