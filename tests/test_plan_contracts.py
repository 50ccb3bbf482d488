"""Plan-shape contracts for the scale-critical operators.

The 100 TB posture claims (broadcast the small side, keyed equijoins only,
one text shuffle in the extraction pipeline) are asserted here against the
EXECUTED physical plan, so a regression that silently flips a join to a
cartesian product or adds a wide shuffle fails CI instead of surviving as
stale documentation."""

import pytest

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_flat_plan_broadcasts_centroids_no_cartesian(emb):
    from py_image_toolkit_spark.operators.similarity import ivf_flat_topk

    plan = plan_of(
        ivf_flat_topk(
            emb.filter("vec_id >= 5"),
            emb.filter("vec_id < 5"),
            emb.filter("vec_id % 10 = 0"),
            k=5,
            nprobe=2,
        )
    )
    assert "CartesianProduct" not in plan
    # centroid assignment AND probe-cell search both broadcast a small side
    assert plan.count("BroadcastExchange") >= 2


def test_lsh_band_pairs_is_keyed_equijoin(spark):
    from py_image_toolkit_spark.operators.dedup import (
        lsh_band_pairs,
        minhash_signatures,
        shingle_df,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 3 + "common words shared across docs here") for i in range(20)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(shingle_df(docs, k=3))
    plan = plan_of(lsh_band_pairs(sigs))
    # the bucket self-join must be an equijoin on (band, bucket) — the whole
    # point of banding is to NEVER run the quadratic comparison
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _broadcast_inputs(df) -> list[list[tuple[str, str]]]:
    """(name, type) of the input columns of every BroadcastExchange in the
    final plan of ``df`` (run first, so adaptive execution has settled
    every join), including those inside persisted relations."""
    df.collect()
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name == "ReusedExchange":
            stack.append(node.child())
        elif name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        if name == "BroadcastExchange":
            out = node.child().output()
            found.append([
                (out.apply(i).name(), out.apply(i).dataType().simpleString())
                for i in range(out.size())
            ])
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def test_q19_broadcasts_no_shingle_array(spark, sf_dir):
    """q19's Jaccard verify broadcasts the bare candidate ids (each pair
    keyed by a member doc id) and nothing that carries an array payload: a
    broadcast of the per-doc shingle arrays (shingles, _sh_a, _sh_b) grows
    with corpus text and lands whole in the driver and in every
    executor."""
    from py_image_toolkit_spark import contract

    try:
        df = contract.QUERIES["q19_ngram_jaccard"](spark, sf_dir)
        inputs = _broadcast_inputs(df)
        plan = plan_of(df)
    finally:
        contract.release_persists()
    assert [("doc_id", "bigint"), ("id_a", "bigint"), ("id_b", "bigint")] in inputs
    assert not [
        cols for cols in inputs if any(t.startswith("array") for _, t in cols)
    ], inputs
    assert "CartesianProduct" not in plan


def test_doc_pipeline_single_exchange_single_python_stage(spark, tmp_path):
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.operators.doc_kernel import DOC_SCHEMA
    from py_image_toolkit_spark.plans.pipeline import extract

    # the fixture generator is itself one Arrow stage
    pages_plan = plan_of(pages_df(spark, 8))
    assert pages_plan.count("MapInArrow") == 1 and "MapInPandas" not in pages_plan
    # materialize the fixture so the pipeline input is a parquet SCAN (the
    # production shape) — pages_df's own Python stage would otherwise be
    # double-counted below
    src = str(tmp_path / "pages")
    pages_df(spark, 8).write.parquet(src)
    out = extract(spark.read.parquet(src))
    # output columns in kernel-schema order (q27's golden is written in
    # this order)
    assert out.columns == [f.name for f in DOC_SCHEMA.fields]
    plan = plan_of(out)
    # the production plan: scan → ONE url repartition → ONE Arrow stage →
    # (no wide shuffle of document text anywhere)
    assert plan.count("Exchange") <= 1 + plan.count("AQEShuffleRead")
    assert (
        plan.count("MapInPandas") + plan.count("MapInArrow")
        + plan.count("ArrowEvalPython")
    ) == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_extraction_job_one_kernel_pass(spark, spark_jobs, tmp_path):
    """A fresh-table run_extraction_job call on an input of one split per
    core is one Spark job: the collect of the lineage rows that the
    kernel's tasks return once they have written the commit's files, the
    only action over the kernel. The driver publishes the commit and writes
    the runs table itself. A persist/collect pass over the kernel output, a
    second look at it, or a Spark write of the records or the runs rows
    would add jobs."""
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.plans.job import run_extraction_job
    from py_image_toolkit_spark.plans.pipeline import extract
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    src = str(tmp_path / "pages")
    pages_df(spark, 40).write.parquet(src)
    # read (and resolve the schema) before the job group is set
    pages = spark.read.parquet(src)

    # the extraction as the job plans it: one split per core, so straight
    # off the scan
    plan = plan_of(extract(pages))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan

    s, jobs = spark_jobs(
        lambda: run_extraction_job(
            spark, pages,
            SnapshotTable(str(tmp_path / "out")), SnapshotTable(str(tmp_path / "runs")),
        )
    )
    assert s["docs_in"] == 40 and s["snapshot_id"] == 1
    assert jobs == 1


def _half_committed(spark, tmp_path):
    """(pages, out table, runs table, first run's summary): 40 pages, about
    half of them committed to ``out`` by a first run."""
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.plans.job import run_extraction_job
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    src = str(tmp_path / "pages")
    pages_df(spark, 40).write.parquet(src)
    pages = spark.read.parquet(src)
    out = SnapshotTable(str(tmp_path / "out"))
    runs = SnapshotTable(str(tmp_path / "runs"))
    s1 = run_extraction_job(
        spark, pages.filter(F.xxhash64("url") % 2 == 0), out, runs, run_id="r1"
    )
    assert 0 < s1["docs_in"] < 40
    return pages, out, runs, s1


def test_extraction_job_resume_probes_only_the_scan(spark, spark_jobs, tmp_path):
    """A resume call with new docs is two Spark jobs: the Arrow collect of
    the input's urls, and the collect of the lineage rows of the kernel,
    whose tasks drop the urls the table already holds. Asking the table
    which urls it holds reads its url column with pyarrow on the driver,
    and the driver writes the runs table, so neither runs a job; the parse
    partitioning is decided on the scan, which plans its splits without
    one."""
    from py_image_toolkit_spark.plans.job import run_extraction_job

    pages, out, runs, s1 = _half_committed(spark, tmp_path)
    s2, jobs = spark_jobs(lambda: run_extraction_job(spark, pages, out, runs, run_id="r2"))
    assert s1["docs_in"] + s2["docs_in"] == 40
    assert s2["snapshot_id"] == 2
    # measured under the test session (local[8])
    assert jobs == 2


def test_extraction_job_noop_resume_reads_no_html(spark, spark_jobs, tmp_path):
    """A call over an input that is all committed runs only the collect of
    its urls (1 Spark job), publishes no snapshot, allocates no commit dir
    and leaves the runs table as it was."""
    import os

    from py_image_toolkit_spark.plans.job import run_extraction_job

    pages, out, runs, _ = _half_committed(spark, tmp_path)
    run_extraction_job(spark, pages, out, runs, run_id="r2")
    dirs = sorted(os.listdir(out.data_dir))
    run_dirs = sorted(os.listdir(runs.data_dir))
    s3, jobs = spark_jobs(lambda: run_extraction_job(spark, pages, out, runs, run_id="r3"))
    assert s3["rows_out"] == 0 and s3["docs_in"] == 0 and s3["snapshot_id"] is None
    assert out.snapshot_ids() == [1, 2] and runs.snapshot_ids() == [1, 2]
    assert sorted(os.listdir(out.data_dir)) == dirs
    assert sorted(os.listdir(runs.data_dir)) == run_dirs
    assert jobs == 1


def test_extraction_job_noop_resume_runs_no_kernel_task(spark, tmp_path):
    """No job of a call over an all-committed input executes the kernel's
    plan (a ``MapInArrow``), and its jobs run exactly the tasks of the url
    collect, one per split of the url scan: no kernel task and no scan of
    the committed table."""
    import uuid

    from py_image_toolkit_spark.plans.job import run_extraction_job

    pages, out, runs, _ = _half_committed(spark, tmp_path)
    run_extraction_job(spark, pages, out, runs, run_id="r2")
    sc = spark.sparkContext
    group = f"noop-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        s3 = run_extraction_job(spark, pages, out, runs, run_id="r3")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s3["rows_out"] == 0
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    assert tasks == pages.select("url").rdd.getNumPartitions()
    # the SQL executions the call's jobs belong to, with their final plans
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        keys = e.jobs().keys().toList()
        if jobs & {keys.apply(k) for k in range(keys.size())}:
            plans.append(e.physicalPlanDescription())
    assert plans and not any("MapInArrow" in p for p in plans)


def test_extraction_job_balances_a_single_split_input(spark, tmp_path):
    """An input with fewer splits than cores is repartitioned by url before
    the CPU-bound parse into one wave of ``defaultParallelism`` tasks, so
    more than one task, and no more than one per core, runs the kernel:
    the runs table gets one lineage row per task that wrote rows. A resume
    call balances the same way (its tasks drop the committed urls)."""
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.plans.job import run_extraction_job
    from py_image_toolkit_spark.sources.tables import SnapshotTable

    src = str(tmp_path / "pages")
    pages_df(spark, 40, partitions=1).write.parquet(src)
    pages = spark.read.parquet(src)
    assert pages.rdd.getNumPartitions() == 1
    out = SnapshotTable(str(tmp_path / "out"))
    runs = SnapshotTable(str(tmp_path / "runs"))
    dp = spark.sparkContext.defaultParallelism
    s = run_extraction_job(spark, pages, out, runs, run_id="r1")
    assert s["docs_in"] == 40
    assert 1 < runs.read(spark).count() <= dp

    # a larger 1-split input (the same 40 pages plus 80 new ones)
    bigger = str(tmp_path / "pages120")
    pages_df(spark, 120, partitions=1).write.parquet(bigger)
    pages = spark.read.parquet(bigger)
    assert pages.rdd.getNumPartitions() == 1
    s = run_extraction_job(spark, pages, out, runs, run_id="r2")
    assert s["docs_in"] == 80
    assert 1 < runs.read(spark).filter(F.col("run_id") == "r2").count() <= dp


def test_canonical_dedup_single_aggregation_shuffle(spark):
    from py_image_toolkit_spark.operators.web import canonical_dedup

    df = spark.createDataFrame(
        [(i, f"https://h{i % 3}.io/p/{i}") for i in range(10)],
        "doc_id long, url string",
    )
    plan = plan_of(canonical_dedup(df))
    # partial + final hash aggregate around exactly one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 1 + plan.count("AQEShuffleRead")


def test_kmeans_trainer_broadcasts_centroids(emb):
    from py_image_toolkit_spark.operators.similarity import train_kmeans_centroids

    plan = plan_of(train_kmeans_centroids(emb, k=4, iters=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # corpus × centroids via broadcast


def test_quantized_ivf_composition_plan(emb):
    """q47's composition (quantize → trained centroids → IVF search) must
    keep the scale shape: the probe↔corpus match is a centroid_id equijoin,
    never a nested-loop over the corpus."""
    from py_image_toolkit_spark.operators.similarity import (
        ivf_flat_topk,
        quantize_embeddings_int8,
        train_kmeans_centroids,
    )

    qd = quantize_embeddings_int8(emb).select(
        "vec_id",
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("embedding"),
    )
    cents = train_kmeans_centroids(emb.filter("vec_id >= 5"), k=4, iters=1)
    plan = plan_of(
        ivf_flat_topk(
            qd.filter("vec_id >= 5"), qd.filter("vec_id < 5"), cents, k=5, nprobe=2
        )
    )
    assert "CartesianProduct" not in plan
    # the probe↔corpus match is a HASH equijoin on centroid_id — the only
    # nested-loop joins allowed are the intentional corpus × broadcast(tiny
    # centroid table) assignment scans, never probe × corpus
    assert "BroadcastHashJoin [centroid_id" in plan
    assert plan.count("BroadcastExchange") >= 2


def test_large_equijoin_sorts_and_merges(spark):
    """Two sides above the broadcast threshold join by sort-merge, Spark's
    default: a shuffled hash join keeps its whole per-partition build side
    in memory and cannot spill, so a query that wants one asks with a
    ``shuffle_hash`` hint (q02) instead of a session-wide flip."""
    plan = plan_of(spark.range(10**8).join(spark.range(10**7), "id"))
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" not in plan


def test_bucketed_join_and_agg_are_exchange_free(spark, tmp_path):
    """J5 co-location: two tables bucketed on the same key join WITHOUT any
    Exchange (the shuffle was paid once at write time), and a groupBy on
    the bucket key is likewise exchange-free."""
    from py_image_toolkit_spark.sources.tables import write_bucketed

    a = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("w")
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(a, "bkt_a", str(tmp_path / "a"), "doc_id", 4)
        write_bucketed(b, "bkt_b", str(tmp_path / "b"), "doc_id", 4)
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")

        # tiny test tables would auto-broadcast (which disables bucketed
        # reads); force the shuffle-join planner path — the production case
        # this contract protects is two tables both too big to broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ta.join(tb, "doc_id")
        plan = plan_of(joined)
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert "Bucketed: true" in plan
        assert joined.count() == 1000

        agg = ta.groupBy("doc_id").agg(F.sum("v").alias("s"))
        assert "Exchange hashpartitioning" not in plan_of(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_vocab_topk_uses_per_partition_topk_not_global_sort(spark):
    from py_image_toolkit_spark.operators.corpus import vocab_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 3) for i in range(30)],
        "doc_id long, text string",
    )
    plan = plan_of(vocab_topk(docs, k=10))
    # ORDER BY + LIMIT over the vocabulary must compile to per-partition
    # top-k with a driver merge, never a full sort shuffle of all tokens
    assert "TakeOrderedAndProject" in plan


def test_pagerank_rounds_are_keyed_equijoins(spark):
    from py_image_toolkit_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 3 + 1) % 17}") for i in range(40)],
        "src string, dst string",
    )
    plan = plan_of(pagerank(edges, iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_filter_adds_no_shuffle(spark):
    from py_image_toolkit_spark.operators.web import url_filter

    df = spark.createDataFrame(
        [(i, f"https://h{i}.com/p") for i in range(10)], "doc_id long, url string"
    )
    plan = plan_of(url_filter(df, blocked_hosts=("h1.com",), blocked_url_patterns=("x$",)))
    # blocklists are plan literals: the verdict stage is pure codegen
    assert "Exchange" not in plan


def test_hashed_linear_score_has_single_aggregation_no_join_on_tokens(spark):
    from py_image_toolkit_spark.operators.text_stats import hashed_linear_score

    df = spark.createDataFrame(
        [(i, "some words here") for i in range(10)], "doc_id long, text string"
    )
    plan = plan_of(hashed_linear_score(df, weights=[1] * 256))
    # the weight lookup must be an array-literal element_at, never a join
    # against a weights table — and explode_outer keeps empty docs inside
    # the single aggregation, so the whole plan is join-free
    assert "Join" not in plan
    assert plan.count("HashAggregate") <= 2  # partial + final of ONE groupBy


def test_substring_span_dedup_plan_is_keyed_only(spark):
    from py_image_toolkit_spark.operators.dedup import substring_span_dedup

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa") for i in range(12)],
        "doc_id long, text string",
    )
    plan = plan_of(substring_span_dedup(docs, k=8))
    # gram groupBy + gram semi-join + (doc,pos) equijoin + doc window/agg —
    # never a quadratic comparison path
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_neardup_plan_is_keyed_only(spark):
    from py_image_toolkit_spark.operators.dedup import winnow_neardup_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 15))) for i in range(10)],
        "doc_id long, text string",
    )
    plan = plan_of(winnow_neardup_pairs(docs))
    # the pair producer must be an fp_hash equijoin, never all-pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcasts_query_side(spark):
    from py_image_toolkit_spark.operators.corpus import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"term{i % 5} filler common words") for i in range(30)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "term1 common"), (2, "term2")], "query_id long, qtext string"
    )
    plan = plan_of(bm25_topk(docs, queries, k=3))
    assert "CartesianProduct" not in plan
    # the query token set rides a broadcast onto the corpus tf table (the
    # corpus never re-shuffles per query) and the scalar row broadcasts too
    assert plan.count("BroadcastExchange") >= 2


def test_release_gate_no_quadratic_paths(spark):
    from py_image_toolkit_spark.operators.corpus import release_gate
    from py_image_toolkit_spark.operators.text_stats import char_lm_model

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat again and again today", "en") for i in range(20)],
        "doc_id long, text string, lang string",
    )
    model = char_lm_model(docs)
    plan = plan_of(release_gate(docs, lm_model=model))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
