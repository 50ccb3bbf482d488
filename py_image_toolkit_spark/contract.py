"""Driver-contract query registry: each entry pairs an idiomatic-DataFrame
Spark implementation with an equivalent ANSI/DuckDB SQL oracle.

Cross-engine determinism rules (floats hash-compare exactly):
- never SUM raw doubles (partition-order-dependent): sum integer cents via
  ``FLOOR(x*100 + 0.5)`` — floor of identical doubles is identical;
- derived ratios divide the *same* deterministic numerators/denominators;
- Python/engine banker's rounding (``bround``) is reproduced in SQL by an
  explicit floor-based HALF_EVEN formula (``_sql_bround``);
- ``int()`` truncation (reference resize.py:51) maps to FLOOR on positive
  values in both dialects (DuckDB CAST rounds — never cast doubles to ints);
- every computed column is aliased identically on both sides;
- ties in top-k / first-wins are broken by a unique key column.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_PHI_INV = (math.sqrt(5) - 1) / 2

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Multi-consumer intermediates some queries cache (q19/q20). The returned
# DataFrame is lazy, so the query fn cannot unpersist before the caller
# materializes — instead every persist is tracked here and released by
# ``release_persists()``, which harnesses call after materializing (bench.py
# additionally clearCache()s between trials). Without this, contract-test
# runs accumulate cached shingle/candidate tables across queries.
PERSIST_HANDLES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    PERSIST_HANDLES.append(df)
    return df


def release_persists() -> None:
    while PERSIST_HANDLES:
        PERSIST_HANDLES.pop().unpersist()


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def cents(col) -> F.Column:
    """Order-independent money aggregate unit (see module docstring)."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# --------------------------------------------------------------------------
# A. standard relational coverage (scan/filter/join/agg/window/json)
# --------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)            AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2002-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-agg with map-side partial aggregation
    (≙ reference D7 summary counters, SURVEY.md §2)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice*(1-l.l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY revenue_cents DESC, nation
    """,
)
def q02(spark, sf_dir):
    """Star join with explicit broadcast of the small dimensions (SURVEY.md
    §2 C5 small-dim broadcast; at 100 TB the fact side never shuffles for
    these joins)."""
    li, o = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders")
    c, n, r = (t(spark, sf_dir, x) for x in ("customer", "nation", "region"))
    # r6: project the fact side to the 3 needed columns and spread it off
    # the single-row-group scan split before the join probes + partial agg
    # (guide §2.3 project-before-exchange + §2.5 input skew; measured
    # 1.75 s → 1.36 s, then → 1.20 s with the per-order rollup below).
    li = li.select("l_orderkey", "l_extendedprice", "l_discount").repartition(
        spark.sparkContext.defaultParallelism, F.col("l_orderkey")
    )
    # pre-aggregate to one row per order on the existing l_orderkey
    # partitioning: revenue sums are associative integer cents, and
    # COUNT(DISTINCT o_orderkey) over the joined fact rows ≡ COUNT(*) over
    # the per-order rollup (o_orderkey is the orders key) — this removes
    # the count-distinct Expand and its extra exchange (guide §2.3
    # aggregate-before-shuffle; same rows, driver-verified)
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "_rev"
        )
    )
    # orders joins per_order as a shuffled-hash equijoin on the orderkey
    # partitioning per_order already has (guide §3.1): orders is
    # order-of-fact-table-sized, so building a driver broadcast of it is
    # both slower here and wrong at 100 TB; the true dimensions below
    # stay broadcast.
    return (
        per_order.join(o.hint("shuffle_hash"), per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("_rev").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue_cents"), "nation")
    )


@register(
    "q03_priority_semi_join",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q03(spark, sf_dir):
    """left-semi join (≙ A10/C1 existence probe family)."""
    o, li = t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 45)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q04_customers_without_orders",
    """
    SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    ORDER BY nationkey
    """,
)
def q04(spark, sf_dir):
    """left-anti join — the resume mechanism's exact shape (SURVEY.md §2
    A10/C1: pages ⟕̸ committed-outputs)."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("nationkey")
    )


@register(
    "q05_event_deltas",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(ABS(delta)*100 + 0.5) AS BIGINT)) AS BIGINT) AS abs_delta_cents
    FROM (
      SELECT user_id, value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events
    )
    WHERE delta IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q05(spark, sf_dir):
    """lag() analytics (≙ C4 prev-token context check)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("delta", F.col("value") - F.lag("value").over(w))
        .filter(F.col("delta").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.abs(F.col("delta")))).alias("abs_delta_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "q06_sessionize_rle",
    """
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER w IS NULL
                       OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT user_id, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS segment
      FROM flagged
    )
    SELECT user_id, COUNT(DISTINCT segment) AS n_segments,
           COUNT(*) AS n_events
    FROM seg GROUP BY user_id ORDER BY user_id
    """,
)
def q06(spark, sf_dir):
    """run-length sessionize-by-change — the exact D5 segment-merge shape.

    r6: explicit user_id repartition replaces the window's own exchange
    (same key → reused) and pins the partition count — AQE's byte-based
    coalescing otherwise funnels this CPU-bound window onto a handful of
    cores (guide §2.4/§2.5). Without it, sf0.1 on 4 cores ran 17% slower
    in median over 20 interleaved same-session trials (0.92 s vs 0.76 s)."""
    ev = t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, F.col("user_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("segment", F.sum(chg).over(w))
        .groupBy("user_id")
        .agg(
            F.countDistinct("segment").alias("n_segments"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "q07_first_wins_pivot",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id,
      CAST(FLOOR(MAX(CASE WHEN event_type='click'    AND rn=1 THEN value END)*100+0.5) AS BIGINT) AS first_click_cents,
      CAST(FLOOR(MAX(CASE WHEN event_type='view'     AND rn=1 THEN value END)*100+0.5) AS BIGINT) AS first_view_cents,
      CAST(FLOOR(MAX(CASE WHEN event_type='purchase' AND rn=1 THEN value END)*100+0.5) AS BIGINT) AS first_purchase_cents
    FROM ranked GROUP BY user_id ORDER BY user_id
    """,
)
def q07(spark, sf_dir):
    """first-wins pivot (≙ D4) via min(struct(orderkeys, value))."""
    ev = t(spark, sf_dir, "events")
    aggs = []
    for et in ("click", "view", "purchase"):
        first_val = F.min(
            F.when(F.col("event_type") == et, F.struct("ts", "event_id", "value"))
        )["value"]
        aggs.append(cents(first_val).alias(f"first_{et}_cents"))
    return ev.groupBy("user_id").agg(*aggs).orderBy("user_id")


@register(
    "q08_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def q08(spark, sf_dir):
    """JSON scalar functions over events.props (SURVEY.md §2 H-map note)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "q09_topk_per_brand",
    """
    SELECT brand, p_partkey AS partkey, rank
    FROM (
      SELECT p_brand AS brand, p_partkey,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rank
      FROM part
    ) WHERE rank <= 3
    ORDER BY brand, rank
    """,
)
def q09(spark, sf_dir):
    """top-k per group (≙ D1/F2 argmax subject selection).

    r6: explicit p_brand repartition (reused by the window) so the rank
    pass is not bound to the single-row-group scan split's parallelism."""
    p = t(spark, sf_dir, "part").repartition(
        spark.sparkContext.defaultParallelism, F.col("p_brand")
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
        .orderBy("brand", "rank")
    )


@register(
    "q10_argmin_center",
    """
    SELECT n.n_name AS nation, c.c_custkey AS custkey
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    QUALIFY ROW_NUMBER() OVER (PARTITION BY n.n_name
                               ORDER BY ABS(c.c_acctbal - 1000.0), c.c_custkey) = 1
    ORDER BY nation
    """,
)
def q10(spark, sf_dir):
    """argmin with deterministic tie-break (≙ D2 'center' selection)."""
    c, n = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.abs(F.col("c_acctbal") - 1000.0), "c_custkey"
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("n_name").alias("nation"), F.col("c_custkey").alias("custkey"))
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# B. geometry parity (the reference's H1-H7 math, cross-validated in SQL)
# --------------------------------------------------------------------------

def _sql_br(x: str) -> str:
    """Banker's rounding (HALF_EVEN ≙ Python round()/Spark bround) as
    portable SQL over doubles: floor(x+0.5), minus 1 on exact .5 ties that
    landed on an odd integer."""
    return (
        f"(FLOOR(({x}) + 0.5) - CASE WHEN (({x}) + 0.5) = FLOOR(({x}) + 0.5) "
        f"AND CAST(FLOOR(({x}) + 0.5) AS BIGINT) % 2 <> 0 THEN 1 ELSE 0 END)"
    )


_PHI_HI = repr(_PHI_INV)          # 0.618... (same double literal both sides)
_PHI_LO = repr(1 - _PHI_INV)      # 0.382...

_Q11_SQL = """
WITH base AS (
  SELECT p_partkey AS partkey,
         CAST(p_partkey % 1900 + 20 AS BIGINT) AS ow,
         CAST((p_size * 37) % 1060 + 20 AS BIGINT) AS oh,
         CAST(CASE WHEN p_partkey % 7 = 0 THEN 0 ELSE 1280 END AS BIGINT) AS tw,
         CAST(CASE WHEN p_partkey % 5 = 0 THEN 0 ELSE 720 END AS BIGINT) AS th
  FROM part
)
SELECT partkey, ow, oh, tw, th,
  CAST(CASE
    WHEN tw > 0 AND th > 0 THEN GREATEST(1, FLOOR(ow * LEAST(tw*1.0/ow, th*1.0/oh)))
    WHEN tw > 0 THEN tw
    WHEN th > 0 THEN GREATEST(1, FLOOR(ow * (th*1.0/oh)))
    ELSE ow END AS BIGINT) AS new_w,
  CAST(CASE
    WHEN tw > 0 AND th > 0 THEN GREATEST(1, FLOOR(oh * LEAST(tw*1.0/ow, th*1.0/oh)))
    WHEN tw > 0 THEN GREATEST(1, FLOOR(oh * (tw*1.0/ow)))
    WHEN th > 0 THEN th
    ELSE oh END AS BIGINT) AS new_h
FROM base ORDER BY partkey
"""


@register("q11_resize_fit", _Q11_SQL)
def q11(spark, sf_dir):
    """H1 aspect-fit resize with int() *truncation* (reference
    resize.py:41-69) — all four target branches exercised."""
    p = t(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_partkey") % 1900 + 20).cast("long").alias("ow"),
        ((F.col("p_size") * 37) % 1060 + 20).cast("long").alias("oh"),
        F.when(F.col("p_partkey") % 7 == 0, 0).otherwise(1280).cast("long").alias("tw"),
        F.when(F.col("p_partkey") % 5 == 0, 0).otherwise(720).cast("long").alias("th"),
    )
    ow, oh, tw, th = (F.col(c) for c in ("ow", "oh", "tw", "th"))
    ratio = F.least(tw * 1.0 / ow, th * 1.0 / oh)
    new_w = (
        F.when((tw > 0) & (th > 0), F.greatest(F.lit(1), F.floor(ow * ratio)))
        .when(tw > 0, tw)
        .when(th > 0, F.greatest(F.lit(1), F.floor(ow * (th * 1.0 / oh))))
        .otherwise(ow)
    )
    new_h = (
        F.when((tw > 0) & (th > 0), F.greatest(F.lit(1), F.floor(oh * ratio)))
        .when(tw > 0, F.greatest(F.lit(1), F.floor(oh * (tw * 1.0 / ow))))
        .when(th > 0, th)
        .otherwise(oh)
    )
    return base.select(
        "partkey", "ow", "oh", "tw", "th",
        new_w.cast("long").alias("new_w"),
        new_h.cast("long").alias("new_h"),
    ).orderBy("partkey")


def _q12_sql() -> str:
    cols = []
    for i, (wi, hi) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)], start=1):
        px = (
            f"CASE WHEN rule='thirds' THEN w/3.0 WHEN rule='golden' THEN w*{_PHI_LO} ELSE w/2.0 END"
            if wi == 0
            else f"CASE WHEN rule='thirds' THEN 2*w/3.0 WHEN rule='golden' THEN w*{_PHI_HI} ELSE w/2.0 END"
        )
        py = (
            f"CASE WHEN rule='thirds' THEN h/3.0 WHEN rule='golden' THEN h*{_PHI_LO} ELSE h/2.0 END"
            if hi == 0
            else f"CASE WHEN rule='thirds' THEN 2*h/3.0 WHEN rule='golden' THEN h*{_PHI_HI} ELSE h/2.0 END"
        )
        cols.append(f"CAST({_sql_br(px)} AS BIGINT) AS p{i}x")
        cols.append(f"CAST({_sql_br(py)} AS BIGINT) AS p{i}y")
    return f"""
WITH base AS (
  SELECT p_partkey AS partkey,
         CAST(p_partkey % 1900 + 100 AS BIGINT) AS w,
         CAST((p_size * 53) % 1000 + 100 AS BIGINT) AS h,
         CASE WHEN p_partkey % 2 = 0 THEN 'thirds' ELSE 'golden' END AS rule
  FROM part
)
SELECT partkey, rule, {', '.join(cols)}
FROM base ORDER BY partkey
"""


@register("q12_rule_points", _q12_sql())
def q12(spark, sf_dir):
    """H3/H4 rule points with banker's rounding, cross-validated against an
    explicit floor-based HALF_EVEN implementation in SQL."""
    from py_image_toolkit_spark.operators.select import _iround, _rule_point_exprs

    p = t(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_partkey") % 1900 + 100).cast("long").alias("w"),
        ((F.col("p_size") * 53) % 1000 + 100).cast("long").alias("h"),
        F.when(F.col("p_partkey") % 2 == 0, "thirds").otherwise("golden").alias("rule"),
    )
    pts = _rule_point_exprs(
        F.col("rule"), F.col("w").cast("double"), F.col("h").cast("double")
    )
    sel = [F.col("partkey"), F.col("rule")]
    for i, (px, py) in enumerate(pts, start=1):
        sel.append(px.alias(f"p{i}x"))
        sel.append(py.alias(f"p{i}y"))
    return base.select(*sel).orderBy("partkey")


def _q13_sql(padding_percent: float = 10.0) -> str:
    pt_px, pt_py = [], []
    for wi, hi in [(0, 0), (0, 1), (1, 0), (1, 1)]:
        px = (
            f"CASE WHEN rule='thirds' THEN canvas_w/3.0 WHEN rule='golden' THEN canvas_w*{_PHI_LO} ELSE canvas_w/2.0 END"
            if wi == 0
            else f"CASE WHEN rule='thirds' THEN 2*canvas_w/3.0 WHEN rule='golden' THEN canvas_w*{_PHI_HI} ELSE canvas_w/2.0 END"
        )
        py = (
            f"CASE WHEN rule='thirds' THEN canvas_h/3.0 WHEN rule='golden' THEN canvas_h*{_PHI_LO} ELSE canvas_h/2.0 END"
            if hi == 0
            else f"CASE WHEN rule='thirds' THEN 2*canvas_h/3.0 WHEN rule='golden' THEN canvas_h*{_PHI_HI} ELSE canvas_h/2.0 END"
        )
        pt_px.append(f"CAST({_sql_br(px)} AS BIGINT)")
        pt_py.append(f"CAST({_sql_br(py)} AS BIGINT)")
    pxs = ", ".join(f"{e} AS px{i}" for i, e in enumerate(pt_px))
    pys = ", ".join(f"{e} AS py{i}" for i, e in enumerate(pt_py))
    ds = ", ".join(
        f"(cx - px{i})*(cx - px{i}) + (cy - py{i})*(cy - py{i}) AS d{i}" for i in range(4)
    )
    tx = ("CASE WHEN d0 = dbest THEN px0 WHEN d1 = dbest THEN px1 "
          "WHEN d2 = dbest THEN px2 ELSE px3 END")
    ty = ("CASE WHEN d0 = dbest THEN py0 WHEN d1 = dbest THEN py1 "
          "WHEN d2 = dbest THEN py2 ELSE py3 END")
    pct = repr(float(padding_percent))
    return f"""
WITH base AS (
  SELECT p_partkey AS partkey,
         CAST(p_partkey % 1900 + 100 AS BIGINT) AS canvas_w,
         CAST((p_size * 53) % 1000 + 100 AS BIGINT) AS canvas_h,
         CASE WHEN p_partkey % 2 = 0 THEN 'thirds' ELSE 'golden' END AS rule
  FROM part
), centers AS (
  SELECT *, CAST((partkey * 13) % canvas_w AS BIGINT) AS cx,
            CAST((partkey * 29) % canvas_h AS BIGINT) AS cy
  FROM base
), pts AS (
  SELECT *, {pxs}, {pys} FROM centers
), dists AS (
  SELECT *, {ds} FROM pts
), best AS (
  SELECT *, LEAST(d0, d1, d2, d3) AS dbest FROM dists
), chosen AS (
  SELECT *, {tx} AS tx, {ty} AS ty FROM best
), fitted AS (
  SELECT *,
    2 * LEAST(tx, canvas_w - tx) AS max_w_t,
    2 * LEAST(ty, canvas_h - ty) AS max_h_t,
    CASE WHEN partkey % 3 = 0 THEN 16.0/9.0 ELSE canvas_w*1.0/canvas_h END AS aspect
  FROM chosen
), fw_fh AS (
  SELECT *,
    CASE WHEN max_w_t / aspect <= max_h_t + 1e-6 THEN max_w_t * 1.0 ELSE max_h_t * aspect END AS fw,
    CASE WHEN max_w_t / aspect <= max_h_t + 1e-6 THEN max_w_t / aspect ELSE max_h_t * 1.0 END AS fh
  FROM fitted
), rawc AS (
  SELECT *, tx - fw/2 AS x1_raw, ty - fh/2 AS y1_raw FROM fw_fh
), clamped AS (
  SELECT *,
    GREATEST(0, CAST({_sql_br("x1_raw")} AS BIGINT)) AS x1,
    GREATEST(0, CAST({_sql_br("y1_raw")} AS BIGINT)) AS y1,
    LEAST(canvas_w, CAST({_sql_br("x1_raw + fw")} AS BIGINT)) AS x2,
    LEAST(canvas_h, CAST({_sql_br("y1_raw + fh")} AS BIGINT)) AS y2
  FROM rawc
), flagged AS (
  SELECT *, (max_w_t <= 0 OR max_h_t <= 0 OR x1 >= x2 OR y1 >= y2) AS degenerate
  FROM clamped
), padded AS (
  SELECT *,
    CAST({_sql_br(f"(x2 - x1) * {pct} / 100.0 / 2.0")} AS BIGINT) AS pad_x,
    CAST({_sql_br(f"(y2 - y1) * {pct} / 100.0 / 2.0")} AS BIGINT) AS pad_y
  FROM flagged
), padded2 AS (
  SELECT *,
    GREATEST(0, x1 - pad_x) AS nx1, GREATEST(0, y1 - pad_y) AS ny1,
    LEAST(canvas_w, x2 + pad_x) AS nx2, LEAST(canvas_h, y2 + pad_y) AS ny2
  FROM padded
)
SELECT partkey, rule, tx, ty,
  CASE WHEN degenerate THEN NULL WHEN nx1 < nx2 AND ny1 < ny2 THEN nx1 ELSE x1 END AS crop_x1,
  CASE WHEN degenerate THEN NULL WHEN nx1 < nx2 AND ny1 < ny2 THEN ny1 ELSE y1 END AS crop_y1,
  CASE WHEN degenerate THEN NULL WHEN nx1 < nx2 AND ny1 < ny2 THEN nx2 ELSE x2 END AS crop_x2,
  CASE WHEN degenerate THEN NULL WHEN nx1 < nx2 AND ny1 < ny2 THEN ny2 ELSE y2 END AS crop_y2
FROM padded2 ORDER BY partkey
"""


@register("q13_optimal_crop", _q13_sql())
def q13(spark, sf_dir):
    """H6 optimal window + H7 padding end-to-end over synthetic canvases —
    the exact Column pipeline the pages extraction uses (window_geometry),
    cross-validated against a from-scratch SQL transcription."""
    from py_image_toolkit_spark.operators.select import window_geometry

    p = t(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_partkey") % 1900 + 100).cast("long").alias("canvas_w"),
        ((F.col("p_size") * 53) % 1000 + 100).cast("long").alias("canvas_h"),
        F.when(F.col("p_partkey") % 2 == 0, "thirds").otherwise("golden").alias("rule"),
    ).withColumns(
        {
            "cx": (F.col("partkey") * 13 % F.col("canvas_w")).cast("long"),
            "cy": (F.col("partkey") * 29 % F.col("canvas_h")).cast("long"),
        }
    )
    aspect = F.when(F.col("partkey") % 3 == 0, F.lit(16.0 / 9.0)).otherwise(
        F.col("canvas_w") * 1.0 / F.col("canvas_h")
    )
    out = window_geometry(base, aspect, padding_percent=10.0)
    return out.select(
        "partkey", "rule", "tx", "ty", "crop_x1", "crop_y1", "crop_x2", "crop_y2"
    ).orderBy("partkey")


@register(
    "q14_ratio_parse",
    """
    WITH base AS (
      SELECT p_partkey AS partkey,
        CASE p_partkey % 5
          WHEN 0 THEN CONCAT(CAST(p_size AS VARCHAR), ':', CAST(p_partkey % 9 AS VARCHAR))
          WHEN 1 THEN '1.5'
          WHEN 2 THEN 'none'
          WHEN 3 THEN 'abc'
          ELSE CONCAT('-', CAST(p_size AS VARCHAR)) END AS ratio_str
      FROM part
    ), parsed AS (
      SELECT partkey, ratio_str,
        CASE
          WHEN LOWER(TRIM(ratio_str)) = 'none' THEN NULL
          WHEN POSITION(':' IN ratio_str) > 0 THEN
            CASE WHEN TRY_CAST(SPLIT_PART(ratio_str, ':', 1) AS DOUBLE) > 0
                  AND TRY_CAST(SPLIT_PART(ratio_str, ':', 2) AS DOUBLE) > 0
                 THEN TRY_CAST(SPLIT_PART(ratio_str, ':', 1) AS DOUBLE)
                      / TRY_CAST(SPLIT_PART(ratio_str, ':', 2) AS DOUBLE)
            END
          WHEN TRY_CAST(ratio_str AS DOUBLE) > 0 THEN TRY_CAST(ratio_str AS DOUBLE)
        END AS ratio
      FROM base
    )
    SELECT partkey, ratio_str,
           CAST(CASE WHEN ratio IS NULL THEN NULL
                ELSE FLOOR(ratio * 1000000 + 0.5) END AS BIGINT) AS ratio_micro
    FROM parsed ORDER BY partkey
    """,
)
def q14(spark, sf_dir):
    """B7 aspect-ratio string parser as Columns: "W:H" | float | none |
    invalid → NULL (reference crop.py:69-96)."""
    p = t(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").alias("partkey"),
        F.when(F.col("p_partkey") % 5 == 0,
               F.concat_ws(":", F.col("p_size").cast("string"),
                           (F.col("p_partkey") % 9).cast("string")))
        .when(F.col("p_partkey") % 5 == 1, F.lit("1.5"))
        .when(F.col("p_partkey") % 5 == 2, F.lit("none"))
        .when(F.col("p_partkey") % 5 == 3, F.lit("abc"))
        .otherwise(F.concat(F.lit("-"), F.col("p_size").cast("string")))
        .alias("ratio_str"),
    )
    s = F.col("ratio_str")
    num = F.split(s, ":")[0].try_cast("double")
    den = F.split(s, ":")[1].try_cast("double")
    ratio = (
        F.when(F.lower(F.trim(s)) == "none", F.lit(None).cast("double"))
        .when(s.contains(":"), F.when((num > 0) & (den > 0), num / den))
        .when(s.try_cast("double") > 0, s.try_cast("double"))
    )
    return base.withColumn(
        "ratio_micro",
        F.floor(ratio * 1000000 + F.lit(0.5)).cast("long"),
    ).orderBy("partkey")


# --------------------------------------------------------------------------
# C. E3 relational labeling cross-validated in SQL (the reference's hardest
#    logic — ocr.py:135-432 — as DataFrame ops vs a DuckDB transcription)
# --------------------------------------------------------------------------

from py_image_toolkit_spark.functions import vocab as V  # noqa: E402
from py_image_toolkit_spark.operators.extract_fields import (  # noqa: E402
    label_pass1,
    label_tokens_df,
)

# 24-token vocabulary hitting every classifier rule (incl. quirks: vetoed
# name 홍길동, filler 부가정보, "만료일" contains 로 → address, road guard)
_E3_VOCAB = (
    "주민등록증", "김첨지", "홍길동", "123456-1234567", "9901011234567",
    "서울특별시", "종로구", "수표로", "12", "2021", "03", "05",
    "종로구청장", "부가정보", "the", "value", "서울고등학교", "한국대학교",
    "101동", "1502호", "123-456", "여권", "만료일", "07",
)


def _e3_tokens_spark(spark, sf_dir) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("doc_id").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )  # (partkey, suppkey) break ties so equal seq ⇒ equal token
    vocab_arr = F.array(*[F.lit(v) for v in _E3_VOCAB])
    return (
        li.withColumn("doc_id", (F.col("l_orderkey") % 500).cast("long"))
        .withColumn("seq", F.row_number().over(w).cast("long"))
        .withColumn(
            "token",
            F.element_at(
                vocab_arr,
                ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 3 + F.col("l_linenumber")) % 24 + 1).cast("int"),
            ),
        )
        .select("doc_id", "seq", "token")
    )


_E3_TOKENS_SQL = f"""
  SELECT CAST(l_orderkey % 500 AS BIGINT) AS doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey % 500
                                 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS BIGINT) AS seq,
         CASE CAST((l_partkey * 7 + l_suppkey * 3 + l_linenumber) % 24 AS INTEGER)
           {' '.join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(_E3_VOCAB))}
         END AS token
  FROM lineitem
"""


def _sql_contains_any(col: str, kws) -> str:
    return "(" + " OR ".join(f"POSITION('{k}' IN {col}) > 0" for k in kws) + ")"


def _sql_endswith_any(col: str, sfxs) -> str:
    return "(" + " OR ".join(f"{col} LIKE '%{s}'" for s in sfxs) + ")"


def _sql_label_pass1() -> str:
    tok = "token"
    is_title = "(" + " OR ".join(f"{tok} = '{k}'" for k in V.DOC_TITLE_KEYWORDS) + ")"
    is_rrn = (
        f"(regexp_full_match({tok}, '{V.RRN_DASHED_RE}') OR "
        f"regexp_full_match(replace(replace({tok}, '-', ''), ' ', ''), '{V.RRN_PLAIN_RE}'))"
    )
    is_issuer = (
        f"({_sql_endswith_any(tok, V.ISSUER_SUFFIXES)} OR "
        f"({_sql_contains_any(tok, V.ISSUER_ORG_KEYWORDS)} AND {_sql_endswith_any(tok, V.ISSUER_ORG_SUFFIXES)}) OR "
        f"POSITION('학교장' IN {tok}) > 0 OR "
        f"({tok} LIKE '%학교' AND POSITION('대학교' IN {tok}) = 0))"
    )
    is_date = (
        f"(regexp_full_match({tok}, '{V.YEAR_RE}') OR "
        f"regexp_full_match({tok}, '{V.MONTH_RE}') OR "
        f"regexp_full_match({tok}, '{V.DAY_RE}'))"
    )
    road_guard = (
        f"(prev_token IS NOT NULL AND {_sql_contains_any('prev_token', V.ROAD_KEYWORDS)} "
        f"AND regexp_full_match({tok}, '[0-9]+') AND LENGTH({tok}) <= 2)"
    )
    is_addressish = (
        f"({_sql_contains_any(tok, V.ADDRESS_KEYWORDS)} OR "
        f"regexp_matches({tok}, '{V.ADDR_UNIT_RE}') OR "
        f"regexp_matches({tok}, '{V.ADDR_ROAD_RE}') OR "
        f"regexp_matches({tok}, '{V.ADDR_SUFFIX_RE}') OR "
        f"regexp_matches({tok}, '{V.ADDR_NUMERIC_RE}') OR "
        f"(LENGTH(regexp_split_to_array(TRIM({tok}), '\\s+')) > 1 AND "
        f"{_sql_contains_any(tok, V.MULTIWORD_ADDRESS_KEYWORDS)}))"
    )
    short_digit = f"(regexp_full_match({tok}, '[0-9]+') AND LENGTH({tok}) <= 2)"
    clear = _sql_contains_any(tok, V.CLEAR_ADDRESS_INDICATORS)
    return f"""
    SELECT doc_id, seq, token,
      CASE
        WHEN {is_title} THEN 'document_title'
        WHEN {is_rrn} THEN 'rrn'
        WHEN {is_issuer} THEN 'issuer'
        WHEN {is_date} AND NOT COALESCE({road_guard}, FALSE) THEN 'issue_date'
        WHEN {is_addressish} AND NOT ({short_digit} AND NOT {clear}) THEN 'address'
        ELSE 'O'
      END AS label
    FROM (
      SELECT *, LAG(token) OVER (PARTITION BY doc_id ORDER BY seq) AS prev_token
      FROM toks
    )
    """


def _sql_label_full() -> str:
    """pass1 + name inference + neighbor relabel, as chained CTEs."""
    name_pat = "regexp_full_match(token, '[가-힣]{2,5}')"
    veto = _sql_contains_any("token", V.NAME_VETO_KEYWORDS)
    return f"""
    WITH toks AS ({_E3_TOKENS_SQL}),
    p1 AS ({_sql_label_pass1()}),
    anch1 AS (
      SELECT *, MIN(CASE WHEN label = 'document_title' THEN seq END)
                  OVER (PARTITION BY doc_id) AS title_seq
      FROM p1
    ),
    anch2 AS (
      SELECT *, MIN(CASE WHEN label = 'rrn' AND seq > title_seq THEN seq END)
                  OVER (PARTITION BY doc_id) AS rrn_seq
      FROM anch1
    ),
    elig AS (
      SELECT *,
        CASE WHEN title_seq IS NOT NULL AND rrn_seq IS NOT NULL AND
          CASE WHEN rrn_seq = title_seq + 2
            THEN seq = title_seq + 1 AND {name_pat} AND NOT {veto}
                 AND label NOT IN ('document_title', 'rrn', 'issuer')
            ELSE seq > title_seq AND seq < rrn_seq
                 AND label IN ('O', 'address', 'issue_date')
                 AND {name_pat} AND NOT {veto}
                 AND NOT (label = 'address' AND LENGTH(token) > 5)
          END
        THEN TRUE ELSE FALSE END AS is_elig
      FROM anch2
    ),
    winner AS (
      SELECT *, MIN(CASE WHEN is_elig THEN seq END)
                  OVER (PARTITION BY doc_id) AS name_seq
      FROM elig
    ),
    named AS (
      SELECT doc_id, seq, token,
             CASE WHEN seq = name_seq THEN 'name' ELSE label END AS label
      FROM winner
    ),
    relabeled AS (
      SELECT doc_id, seq, token,
        CASE WHEN label IN ('address', 'O')
                  AND LEAD(label) OVER (PARTITION BY doc_id ORDER BY seq) = 'issuer'
                  AND {_sql_contains_any("token", V.REGION_KEYWORDS)}
                  AND LENGTH(token) < 10
             THEN 'issuer' ELSE label END AS label
      FROM named
    )
    """


@register(
    "q15_label_first_pass",
    f"WITH toks AS ({_E3_TOKENS_SQL}) {_sql_label_pass1()} ORDER BY doc_id, seq",
)
def q15(spark, sf_dir):
    """H9-H14 + C4: the per-token classifier as one Column when-chain over
    broadcast keyword literals, vs a full SQL transcription."""
    return label_pass1(_e3_tokens_spark(spark, sf_dir), keys=("doc_id",)).orderBy(
        "doc_id", "seq"
    )


@register(
    "q16_label_full",
    _sql_label_full() + "SELECT doc_id, seq, token, label FROM relabeled ORDER BY doc_id, seq",
)
def q16(spark, sf_dir):
    """Full labeling: pass1 → C2 name inference (fast path + greedy scan,
    quirks preserved) → C3 neighbor relabel."""
    return label_tokens_df(_e3_tokens_spark(spark, sf_dir), keys=("doc_id",)).orderBy(
        "doc_id", "seq"
    )


_Q17_MERGE_SQL = f"""
, seg0 AS (
  SELECT *, CASE WHEN LAG(label) OVER w IS NULL OR LAG(label) OVER w <> label
                 THEN 1 ELSE 0 END AS chg
  FROM relabeled
  WINDOW w AS (PARTITION BY doc_id ORDER BY seq)
),
seg AS (
  SELECT *, SUM(chg) OVER (PARTITION BY doc_id ORDER BY seq) AS segment
  FROM seg0
),
chunked AS (
  SELECT *,
    CASE WHEN label = 'issue_date'
         THEN CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY doc_id, segment ORDER BY seq) - 1) / 3) AS BIGINT)
         WHEN label IN ('address', 'issuer') THEN 0
         ELSE ROW_NUMBER() OVER (PARTITION BY doc_id, segment ORDER BY seq) END AS chunk
  FROM seg
),
date_groups AS (
  SELECT doc_id, segment, chunk, COUNT(*) AS n, MIN(seq) AS seq0,
         MAX(CASE WHEN rn = 1 THEN token END) AS t1,
         MAX(CASE WHEN rn = 2 THEN token END) AS t2,
         MAX(CASE WHEN rn = 3 THEN token END) AS t3
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, segment, chunk ORDER BY seq) AS rn
        FROM chunked WHERE label = 'issue_date')
  GROUP BY doc_id, segment, chunk
),
date_ok AS (
  SELECT *, (n = 3 AND regexp_full_match(t1, '{V.YEAR_RE}')
                  AND regexp_full_match(t2, '{V.MONTH_RE}')
                  AND regexp_full_match(t3, '{V.DAY_RE}')) AS ok
  FROM date_groups
),
mstream AS (
  SELECT doc_id, MIN(seq) AS seq,
         STRING_AGG(token, ' ' ORDER BY seq) AS text, label
  FROM chunked WHERE label IN ('address', 'issuer')
  GROUP BY doc_id, segment, chunk, label
  UNION ALL
  SELECT doc_id, seq0 AS seq, CONCAT(t1, '.', t2, '.', t3) AS text,
         'issue_date' AS label
  FROM date_ok WHERE ok
  UNION ALL
  SELECT c.doc_id, c.seq, c.token AS text, c.label
  FROM chunked c JOIN date_ok d
    ON c.doc_id = d.doc_id AND c.segment = d.segment AND c.chunk = d.chunk
  WHERE c.label = 'issue_date' AND NOT d.ok
  UNION ALL
  SELECT doc_id, seq, token AS text, label
  FROM chunked WHERE label NOT IN ('address', 'issuer', 'issue_date')
)
"""


@register(
    "q17_merge_pivot",
    _sql_label_full()
    + _Q17_MERGE_SQL
    + """
, qual AS (
  SELECT *, (label <> 'issue_date' OR (POSITION('.' IN text) > 0
             AND LENGTH(string_split(text, '.')) = 3)) AS ok_field
  FROM mstream
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, label, ok_field ORDER BY seq) AS rn
  FROM qual
)
SELECT doc_id,
  MAX(CASE WHEN label = 'document_title' AND ok_field AND rn = 1 THEN text END) AS document_title,
  MAX(CASE WHEN label = 'name'           AND ok_field AND rn = 1 THEN text END) AS name,
  MAX(CASE WHEN label = 'address'        AND ok_field AND rn = 1 THEN text END) AS address,
  MAX(CASE WHEN label = 'rrn'            AND ok_field AND rn = 1 THEN text END) AS rrn,
  MAX(CASE WHEN label = 'issue_date'     AND ok_field AND rn = 1 THEN text END) AS issue_date,
  MAX(CASE WHEN label = 'issuer'         AND ok_field AND rn = 1 THEN text END) AS issuer
FROM ranked GROUP BY doc_id ORDER BY doc_id
""",
)
def q17(spark, sf_dir):
    """D5/D6 run-merge + D4 first-wins pivot → one 6-field record per doc.

    Computed by ``extract_fields_from_tokens_kernel`` (guide §4.2): a
    doc-keyed groupBy (collect_list + array_sort), then ONE mapInArrow
    stage that applies the oracle labeling function to whole Arrow record
    batches, in place of the ~7 window passes of the relational chain
    (label_pass1 → name inference → neighbor relabel → sessionize →
    merge → pivot; measured 3.6 s → 1.3 s at sf0.1). The relational form
    stays the SQL-verified decomposition via q15/q16 and
    operators/extract_fields.py; byte-equality of the two forms over this
    exact token table, and the single MapInArrow plan, are pinned by
    tests/test_r6_optimizations.py::test_q17_kernel_matches_relational_chain.
    The row_number seq window is skipped too: the kernel needs only the
    ORDER, so the raw (l_orderkey, l_linenumber, l_partkey, l_suppkey)
    sort key rides the collected structs directly."""
    from py_image_toolkit_spark.operators.extract_fields import (
        extract_fields_from_tokens_kernel,
    )

    li = t(spark, sf_dir, "lineitem")
    vocab_arr = F.array(*[F.lit(v) for v in _E3_VOCAB])
    # pre-partition by doc_id so the collect_list groupBy reuses this
    # exchange in COMPLETE mode: otherwise its partial aggregation builds
    # every token list inside the single-split parquet scan task (the
    # bundled tables are one row group — guide §2.5 input skew). The vocab
    # token is attached AFTER the exchange: the shuffle then carries five
    # longs per row instead of longs+string, and the lookup runs on every
    # core (guide §2.3 shuffle keys/metadata, not payloads).
    toks = li.select(
        (F.col("l_orderkey") % 500).cast("long").alias("doc_id"),
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    ).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    ).withColumn(
        "token",
        F.element_at(
            vocab_arr,
            (
                (F.col("l_partkey") * 7 + F.col("l_suppkey") * 3 + F.col("l_linenumber")) % 24 + 1
            ).cast("int"),
        ),
    )
    return extract_fields_from_tokens_kernel(
        toks,
        keys=("doc_id",),
        order_cols=("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D. training-data pipeline operators: dedup / similarity / text analysis
#    (documents are all-unique in the fixture → duplicates are synthesized
#    deterministically inside the query, identically in both engines)
# --------------------------------------------------------------------------

from py_image_toolkit_spark.operators import dedup as D  # noqa: E402
from py_image_toolkit_spark.operators import similarity as S  # noqa: E402
from py_image_toolkit_spark.operators import text_stats as T  # noqa: E402

_DOCS_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' zz near dup tail' AS text
  FROM documents WHERE doc_id % 7 = 0
)
"""

_SHINGLES_SQL = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
  FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(arr[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(arr) - 2)) AS t(i)
  WHERE len(arr) >= 3
)
"""


def _docs_df(spark, sf_dir, spread: bool = True) -> DataFrame:
    # r6: one scan instead of three (base ∪ exact-dup ∪ near-dup branches
    # each re-read documents.parquet; guide §1.2 "don't compute things
    # twice") — every row fans out its 0-2 synthesized duplicates via an
    # in-row array + explode; the same (doc_id, text) multiset results.
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.struct((F.col("doc_id") + 10000).alias("doc_id"), F.col("text")),
        ),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.struct(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz near dup tail")).alias("text"),
            ),
        ),
    )
    out = d.select(
        F.explode(F.filter(variants, lambda v: v.isNotNull())).alias("v")
    ).select("v.doc_id", "v.text")
    if spread:
        # r6 (guide §2.5 input skew): the bundled corpus tables are single
        # row-group parquet, so the scan is ONE split and every map-side
        # text stage (shingling, md5, simhash) runs on one core. One cheap
        # doc_id-keyed exchange of the raw text spreads the CPU-bound work
        # across the cluster; downstream doc_id-keyed groupBys reuse the
        # partitioning. Keyed (not round-robin): deterministic under task
        # retry and no sort-before-repartition pass.
        out = out.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
    return out


@register(
    "q18_dedup_exact",
    f"""
    WITH {_DOCS_SQL}
    SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_dups
    FROM docs GROUP BY md5(text) HAVING COUNT(*) >= 2
    ORDER BY canonical_id
    """,
)
def q18(spark, sf_dir):
    """exact dedup: content-hash groupBy (the 100 TB baseline dedup)."""
    return D.exact_dedup(_docs_df(spark, sf_dir)).orderBy("canonical_id")


@register(
    "q19_ngram_jaccard",
    None,  # SQL attached below (needs the LSH candidate CTE)
)
def q19(spark, sf_dir):
    """n-gram Jaccard verification over MinHash-LSH candidate pairs — the
    composed scale architecture: shingle arrays → MinHash → banded LSH
    candidates → exact Jaccard of each candidate from the two arrays. A
    full shingle self-join is quadratic in shared-shingle frequency (397 s
    at sf0.1 vs seconds this way); LSH recall vs that exhaustive join was
    measured at 99.4%. The verify broadcasts only the bare candidate ids
    (jaccard_verify_arrays), never a shingle array."""
    # persist the per-doc shingle ARRAYS (r6: one row per doc instead of the
    # exploded+DISTINCT table — the explode → lead-window → distinct pair
    # of shuffles is gone, guide §2.4): the arrays feed minhash, the
    # verify's probe, AND the size counts. At 100 TB this is a
    # materialized staging table, not an executor cache.
    base = _persist(D.doc_shingles(_docs_df(spark, sf_dir), k=3))
    shingles = base.select("doc_id", F.explode("shingles").alias("shingle"))
    # sigs feeds both sides of the band self-join — persist, or the whole
    # explode+minhash chain runs twice (r6)
    sigs = _persist(D.minhash_signatures(shingles, num_hashes=8))
    cands = D.lsh_band_pairs(sigs, num_hashes=8, rows_per_band=2)
    # r6: verify with size(array_intersect) over the cached arrays — the
    # shingle table never re-shuffles for the verify (1.98 s → 1.28 s)
    return D.jaccard_verify_arrays(base, cands, min_jaccard=0.5).orderBy(
        "id_a", "id_b"
    )


def _minhash_banded_cte(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    """WITH-clause body ending in ``banded(doc_id, band, bucket)``: the
    docs and shingle CTEs, then MinHash signatures per doc (``sigs``) and
    one md5 bucket per band of ``rows_per_band`` signatures — the LSH front
    half shared by q19, q20 and the q34/q36 pair graph."""
    sig_cols = ", ".join(
        f"MIN(md5(CONCAT('{j}|', shingle))) AS sig_{j}" for j in range(num_hashes)
    )
    n_bands = num_hashes // rows_per_band
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(CONCAT(sig_{b * rows_per_band}, sig_{b * rows_per_band + 1})) AS bucket FROM sigs"
        for b in range(n_bands)
    )
    return f"""{_DOCS_SQL}, {_SHINGLES_SQL},
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    banded AS ({band_selects})"""


def _q20_sql(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    return f"""
    WITH {_minhash_banded_cte(num_hashes, rows_per_band)}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


def _q19_sql(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    return f"""
    WITH {_minhash_banded_cte(num_hashes, rows_per_band)},
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(FLOOR(inter * 1000000.0 / (sa.sz + sb.sz - inter) + 0.5) AS BIGINT) AS jaccard_micro
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE FLOOR(inter * 1000000.0 / (sa.sz + sb.sz - inter) + 0.5) >= 500000
    ORDER BY id_a, id_b
    """


ORACLE_SQL["q19_ngram_jaccard"] = _q19_sql()


@register("q20_minhash_lsh", _q20_sql())
def q20(spark, sf_dir):
    """MinHash+LSH candidate pairs: shingle → 8 min-wise hashes → 4 bands →
    bucket self-join (the scale path: no O(n²) cross join)."""
    # r6: raw in-row shingle arrays exploded straight into the codegen'd
    # minhash groupBy (no lead-window / DISTINCT shuffles — guide §2.4)
    # sigs is tiny (1 row/doc) but feeds BOTH sides of the bucket self-join —
    # without the persist the whole shingle+minhash chain runs twice
    sigs = _persist(D.minhash_shingled(_docs_df(spark, sf_dir), num_hashes=8))
    return D.lsh_band_pairs(sigs, num_hashes=8, rows_per_band=2).orderBy("id_a", "id_b")


def _simhash_cte(bits: int = 16, with_docs: bool = True, toks_name: str = "toks") -> str:
    """WITH-clause body ending in a ``sims(doc_id, simhash)`` CTE — shared by
    q21 (per-doc hashes), q28 (hamming-close pairs) and q34/q36 (cluster
    canonicalization, which composes it with the shingle CTEs — pass
    ``with_docs=False`` and a fresh ``toks_name`` to avoid CTE-name
    collisions with _DOCS_SQL/_SHINGLES_SQL)."""
    nib_case = lambda n: (  # noqa: E731
        "CASE "
        + " ".join(
            f"WHEN SUBSTRING(md5(tok), {n + 1}, 1) = '{c}' THEN {v}"
            for v, c in enumerate("0123456789abcdef")
        )
        + " ELSE 0 END"
    )
    votes = ", ".join(
        f"SUM((CAST(FLOOR(nib{b // 4} / {2 ** (b % 4)}) AS BIGINT) % 2) * 2 - 1) AS v{b}"
        for b in range(bits)
    )
    sim = " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(bits))
    head = f"{_DOCS_SQL}," if with_docs else ""
    n_nibs = (bits + 3) // 4
    nib_cols = ", ".join(f"{nib_case(n)} AS nib{n}" for n in range(n_nibs))
    return f"""{head}
    {toks_name} AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
      FROM docs
    ),
    nibs AS (
      SELECT doc_id, {nib_cols}
      FROM {toks_name}
    ),
    votes AS (SELECT doc_id, {votes} FROM nibs GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes)"""


def _q21_sql(bits: int = 16) -> str:
    return f"""
    WITH {_simhash_cte(bits)}
    SELECT doc_id, simhash FROM sims ORDER BY doc_id
    """


@register("q21_simhash", _q21_sql())
def q21(spark, sf_dir):
    """16-bit SimHash per document (md5-nibble bits, majority vote)."""
    return D.simhash_df(_docs_df(spark, sf_dir)).orderBy("doc_id")


@register(
    "q22_ann_cosine_topk",
    """
    WITH probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id < 5),
    corpus AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id >= 5),
    scored AS (
      SELECT probe_id, corpus_id,
        CAST(FLOOR(list_dot_product(pv, cv)
             / (SQRT(list_dot_product(pv, pv)) * SQRT(list_dot_product(cv, cv)))
             * 1000000 + 0.5) AS BIGINT) AS cos_micro
      FROM probes, corpus
    )
    SELECT probe_id, rank, corpus_id, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cos_micro DESC, corpus_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q22(spark, sf_dir):
    """brute-force cosine top-k (exact ANN baseline): broadcast probes ×
    corpus, sequential-fold dot products, row_number top-k."""
    emb = t(spark, sf_dir, "embeddings")
    # r6: spread the corpus side off the single scan split before the
    # broadcast-probe dot products (interpreted array folds are the CPU
    # cost here — guide §2.5; measured 0.67 s → 0.52 s at sf0.1)
    corpus = emb.filter(F.col("vec_id") >= 5).repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    return S.cosine_topk(
        corpus, emb.filter(F.col("vec_id") < 5), k=10
    ).orderBy("probe_id", "rank")


@register(
    "q23_ann_lsh_bucketed",
    """
    WITH coded AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
        CAST((CASE WHEN embedding[1]  >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[9]  >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    probes AS (SELECT vec_id AS probe_id, embedding AS pv, bucket FROM coded WHERE vec_id < 5),
    corpus AS (SELECT vec_id AS corpus_id, embedding AS cv, bucket FROM coded WHERE vec_id >= 5),
    scored AS (
      SELECT probe_id, corpus_id,
        CAST(FLOOR(list_dot_product(pv, cv)
             / (SQRT(list_dot_product(pv, pv)) * SQRT(list_dot_product(cv, cv)))
             * 1000000 + 0.5) AS BIGINT) AS cos_micro
      FROM probes JOIN corpus USING (bucket)
    )
    SELECT probe_id, rank, corpus_id, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cos_micro DESC, corpus_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q23(spark, sf_dir):
    """sign-LSH bucketed ANN (the scale path: bucket-equijoin prunes the
    candidate set ~2^bits before any dot product)."""
    emb = t(spark, sf_dir, "embeddings")
    return S.cosine_topk_lsh(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5), k=10
    ).orderBy("probe_id", "rank")


@register(
    "q24_lang_id",
    f"""
    SELECT doc_id,
      CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
           x -> x IN ({', '.join(repr(w) for w in T.EN_STOPWORDS)}))) AS INTEGER) AS en_hits,
      CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[가-힣]', '', 'g')) AS BIGINT) AS ko_chars,
      CASE WHEN (LENGTH(text) - LENGTH(regexp_replace(text, '[가-힣]', '', 'g')))
                > len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                      x -> x IN ({', '.join(repr(w) for w in T.EN_STOPWORDS)}))) * 2 THEN 'ko'
           WHEN len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                x -> x IN ({', '.join(repr(w) for w in T.EN_STOPWORDS)}))) > 0 THEN 'en'
           ELSE 'und' END AS pred_lang
    FROM documents ORDER BY doc_id
    """,
)
def q24(spark, sf_dir):
    """language-ID heuristic (stopword hits vs Hangul character mass)."""
    return T.lang_id(t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "q25_quality_score",
    f"""
    WITH base AS (
      SELECT doc_id, text,
        CAST(LENGTH(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
             x -> x IN ({', '.join(repr(w) for w in T.EN_STOPWORDS)}))) AS BIGINT) AS n_stopwords
      FROM documents
    ), derived AS (
      SELECT *,
        CAST(FLOOR((n_chars - (n_tokens - 1)) * 1000000.0 / GREATEST(n_tokens, 1) + 0.5) AS BIGINT) AS mean_tok_len_micro,
        CAST(FLOOR(n_punct * 1000000.0 / GREATEST(n_chars, 1) + 0.5) AS BIGINT) AS punct_ratio_micro,
        CAST(FLOOR(n_stopwords * 1000000.0 / GREATEST(n_tokens, 1) + 0.5) AS BIGINT) AS stop_ratio_micro
      FROM base
    )
    SELECT doc_id, n_chars, n_tokens, n_punct, n_digits, n_stopwords,
           mean_tok_len_micro, punct_ratio_micro, stop_ratio_micro,
           CAST(LEAST(n_chars, 500) * 1000 + stop_ratio_micro - punct_ratio_micro
                - n_digits * 100 AS BIGINT) AS quality_score
    FROM derived ORDER BY doc_id
    """,
)
def q25(spark, sf_dir):
    """curation quality features + composite score.

    r6: spread the docs off the single scan split before the regex/token
    feature projection (guide §2.5; measured 0.74 s → 0.62 s at sf0.1)."""
    docs = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    return T.quality_score(docs).orderBy("doc_id")


@register(
    "q26_token_stats_fingerprint",
    f"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    )
    SELECT doc_id,
      CAST(len(arr) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '{T.BPE_RE}')) AS BIGINT) AS bpe_tokens,
      CAST(len(list_distinct(arr)) AS BIGINT) AS distinct_ws_tokens,
      CASE WHEN len(arr) >= 3 THEN
        array_to_string(
          (list_sort(list_distinct([md5(array_to_string(arr[i:i+2], ' '))
                                    FOR i IN generate_series(1, len(arr) - 2)])))[1:3], '|')
      END AS fingerprint
    FROM toks ORDER BY doc_id
    """,
)
def q26(spark, sf_dir):
    """token budgeting (whitespace + BPE-ish lexer) + bottom-k fingerprint."""
    d = t(spark, sf_dir, "documents")
    return (
        T.token_stats(d)
        .join(T.fingerprint(d), "doc_id")
        .orderBy("doc_id")
    )


@register(
    "q28_simhash_close_pairs",
    f"""
    WITH {_simhash_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    ORDER BY id_a, id_b
    """,
)
def q28(spark, sf_dir):
    """SimHash hamming-close pairs via nibble-band LSH — the engine's only
    corpus-sized shuffle is the (band, nibble) bucket equijoin; pigeonhole
    (4 bands, hamming ≤ 2 < 4) makes its recall exact, so the banded plan
    returns the identical set to the oracle's quadratic self-join."""
    sims = D.simhash_df(_docs_df(spark, sf_dir))
    return (
        D.simhash_close_pairs(sims, max_hamming=2)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


def _pair_graph(spark, sf_dir) -> DataFrame:
    """The q20 ∪ q28 pair graph — MinHash-LSH candidates plus SimHash
    hamming-close pairs over the synthesized-duplicate corpus (multi-edge
    components: exact dups pair under both methods)."""
    docs = _docs_df(spark, sf_dir)
    sigs = _persist(D.minhash_shingled(docs, num_hashes=8))
    mh = D.lsh_band_pairs(sigs, num_hashes=8, rows_per_band=2)
    # 32-bit SimHash here (vs q21/q28's 16-bit fixture setting): at 16 bits
    # the hamming-2 birthday-collision density degenerates the pair graph
    # toward one giant component as the corpus grows, which makes q36's
    # survivor set a weak demonstration — 32 bits keeps components realistic
    # at every bundled sf while remaining the same operator
    sh = D.simhash_close_pairs(D.simhash_df(docs, bits=32), max_hamming=2, bits=32)
    return mh.select("id_a", "id_b").unionByName(sh.select("id_a", "id_b"))


def _cc_sql_prefix(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    """WITH-RECURSIVE body ending in ``comp(doc_id, component_id)`` —
    connected components of the q20 ∪ q28 pair graph via min-label
    reachability (DuckDB's recursive-CTE UNION dedups the frontier, so the
    recursion terminates at the transitive closure; MIN over reachable
    labels = the component's min id — the same canonicalization the
    engine's large-star/small-star fixpoint produces)."""
    return f"""{_minhash_banded_cte(num_hashes, rows_per_band)},
    mh_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    {_simhash_cte(bits=32, with_docs=False, toks_name="stoks")},
    sh_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    ),
    pairs AS (SELECT id_a, id_b FROM mh_pairs UNION SELECT id_a, id_b FROM sh_pairs),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b AS u, id_a AS v FROM pairs),
    reach(id, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY id)"""


@register(
    "q34_dedup_clusters",
    f"""
    WITH RECURSIVE {_cc_sql_prefix()}
    SELECT doc_id, component_id FROM comp ORDER BY doc_id
    """,
)
def q34(spark, sf_dir):
    """Dedup cluster canonicalization (the pair family's last mile):
    connected components over the q20 ∪ q28 pair graph via alternating
    large-star/small-star — O(log n) keyed-shuffle rounds, no driver-side
    union-find (operators/cluster.py). component_id = min(doc_id) per
    component, matching the oracle's recursive-CTE min-label closure."""
    from py_image_toolkit_spark.operators.cluster import cluster_pairs

    return cluster_pairs(_pair_graph(spark, sf_dir)).orderBy("doc_id")


@register(
    "q36_dedup_apply",
    f"""
    WITH RECURSIVE {_cc_sql_prefix()},
    losers AS (SELECT doc_id FROM comp WHERE component_id <> doc_id)
    SELECT d.doc_id, length(d.text) AS n_chars
    FROM docs d ANTI JOIN losers l ON d.doc_id = l.doc_id
    ORDER BY d.doc_id
    """,
)
def q36(spark, sf_dir):
    """apply_dedup: filter the corpus to one canonical document per
    duplicate component (keyed anti-join; reference analog — the act-on-
    decision step of skip-if-exists, resize.py:158-162). Survivors =
    min-id member of every component + documents never seen in a pair.

    Scale note: the pair graph uses 32-bit SimHash (q21/q28 demonstrate the
    16-bit fixture setting) because hamming-2 accidental-collision density
    grows quadratically with corpus size (birthday effect) — 16 bits
    degenerates toward one giant component at sf0.1. Production corpora
    scale bits with corpus size (64-bit at web scale); the operator takes
    ``bits`` directly."""
    from py_image_toolkit_spark.operators.cluster import apply_dedup, cluster_pairs

    corpus = _docs_df(spark, sf_dir)
    clusters = cluster_pairs(_pair_graph(spark, sf_dir))
    return (
        apply_dedup(corpus, clusters)
        .select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


@register(
    "q29_embedding_neardup",
    """
    WITH coded AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        CAST((CASE WHEN embedding[1]  >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[9]  >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      CAST(FLOOR(list_dot_product(a.v, b.v)
           / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
           * 1000000 + 0.5) AS BIGINT) AS cos_micro
    FROM coded a JOIN coded b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE FLOOR(list_dot_product(a.v, b.v)
          / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
          * 1000000 + 0.5) >= 400000
    ORDER BY id_a, id_b
    """,
)
def q29(spark, sf_dir):
    """Embedding near-duplicate pairs, sign-LSH bucketed (the scale path:
    bucket equijoin prunes candidates ~2^bits before any dot product — never
    the O(n²) cross join). Oracle applies the identical bucketing.

    Threshold note: the operator-API default is 0.99 cosine, but the driver
    fixture's max *bucketed* pairwise cosine is 0.472 at sf0.01 / 0.517 at
    sf0.1 — a 0.99 registration matches a 0-row oracle vacuously (round-2
    verdict). 0.40 attests the full bucket→join→cosine path with real rows."""
    emb = t(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs(emb, min_cos_micro=400_000).orderBy(
        "id_a", "id_b"
    )


@register(
    "q30_embedding_neardup_multiprobe",
    """
    WITH coded AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        CAST((CASE WHEN embedding[1]  >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[9]  >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    probed AS (  -- one side probes its bucket plus the 4 hamming-1 buckets
      SELECT vec_id, v, xor(bucket, flip) AS probe_bucket
      FROM coded, UNNEST([0, 1, 2, 4, 8]) AS t(flip)
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
      CAST(FLOOR(list_dot_product(a.v, b.v)
           / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
           * 1000000 + 0.5) AS BIGINT) AS cos_micro
    FROM probed a JOIN coded b
      ON a.probe_bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE FLOOR(list_dot_product(a.v, b.v)
          / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
          * 1000000 + 0.5) >= 400000
    ORDER BY id_a, id_b
    """,
)
def q30(spark, sf_dir):
    """Multi-probe sign-LSH near-duplicates (probe=1): one side also probes
    every hamming-1 bucket, recovering pairs split by a single sign flip on
    a near-zero coordinate — candidates ×(bits+1), never O(n²). Oracle
    applies the identical probe expansion.

    Threshold 0.40 (not the 0.99 API default) so the fixture attests the
    probe expansion with non-zero rows — see q29's threshold note; the
    multiprobe result is a strict superset of q29's on identical inputs."""
    emb = t(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs(emb, min_cos_micro=400_000, probe=1).orderBy(
        "id_a", "id_b"
    )


@register(
    "q33_repetition_filter",
    """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
                  THEN text || ' spam spam spam spam spam spam spam spam'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM docs
    ),
    base AS (
      SELECT doc_id, len(arr) AS n_tok, len(list_distinct(arr)) AS n_dist FROM toks
    ),
    bigrams AS (
      SELECT doc_id, array_to_string(arr[i:i+1], ' ') AS bg
      FROM toks, UNNEST(generate_series(1, len(arr) - 1)) AS t(i)
      WHERE len(arr) >= 2
    ),
    bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg),
    bga AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM bgc GROUP BY doc_id)
    SELECT b.doc_id,
      CAST(FLOOR((b.n_tok - b.n_dist) * 1000000.0 / GREATEST(b.n_tok, 1) + 0.5) AS BIGINT) AS dup_word_frac_micro,
      CAST(FLOOR(a.mx * 1000000.0 / a.tot + 0.5) AS BIGINT) AS top_bigram_share_micro,
      (CAST(FLOOR((b.n_tok - b.n_dist) * 1000000.0 / GREATEST(b.n_tok, 1) + 0.5) AS BIGINT) >= 700000
       OR COALESCE(CAST(FLOOR(a.mx * 1000000.0 / a.tot + 0.5) AS BIGINT) >= 180000, FALSE)) AS repetitive
    FROM base b LEFT JOIN bga a USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q33(spark, sf_dir):
    """Gopher-style repetition filters: dup-word fraction (per-doc Columns)
    + top-bigram share (relational explode→groupBy — the scale path; never
    an O(n²) per-doc lambda count). A deterministic spam tail is appended
    to every 13th doc so the `repetitive` flag fires on real rows."""
    from py_image_toolkit_spark.operators.text_stats import repetition_stats

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" spam" * 8)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_stats(d).orderBy("doc_id")


_COS_SQL = (
    "CAST(FLOOR(list_dot_product({a}, {b}) / (SQRT(list_dot_product({a}, {a}))"
    " * SQRT(list_dot_product({b}, {b}))) * 1000000 + 0.5) AS BIGINT)"
)


@register(
    "q32_ann_ivf_flat",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings WHERE vec_id >= 5 AND vec_id % 40 = 0
    ),
    corpus AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id >= 5),
    probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings WHERE vec_id < 5),
    corpus_cells AS (
      SELECT corpus_id, cv, centroid_id FROM (
        SELECT corpus_id, cv, centroid_id,
          ROW_NUMBER() OVER (PARTITION BY corpus_id ORDER BY
            {_COS_SQL.format(a="cv", b="nv")} DESC, centroid_id) AS r
        FROM corpus, cents
      ) WHERE r = 1
    ),
    probe_cells AS (
      SELECT probe_id, pv, centroid_id FROM (
        SELECT probe_id, pv, centroid_id,
          ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
            {_COS_SQL.format(a="pv", b="nv")} DESC, centroid_id) AS r
        FROM probes, cents
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT probe_id, corpus_id, {_COS_SQL.format(a="pv", b="cv")} AS cos_micro
      FROM probe_cells JOIN corpus_cells USING (centroid_id)
    )
    SELECT probe_id, rank, corpus_id, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cos_micro DESC, corpus_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q32(spark, sf_dir):
    """IVF-flat ANN (inverted-file index, relational form): corpus assigned
    to deterministic coarse centroids via broadcast + map-side argmax;
    probes search their 2 nearest cells through a centroid_id equijoin —
    never the O(P×N) cross join (operators/similarity.py ivf_flat_topk)."""
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.ivf_flat_topk(
        corpus,
        emb.filter(F.col("vec_id") < 5),
        corpus.filter(F.col("vec_id") % 40 == 0),
        k=10,
        nprobe=2,
    ).orderBy("probe_id", "rank")


def _kmeans_cte(k: int = 8, iters: int = 2) -> str:
    """WITH-body ending in ``tcents(centroid_id, nv)`` — seeded Lloyd's
    k-means unrolled to ``iters`` fixed iterations (assignment = argmax
    cosine over the previous centroids; update = per-coordinate mean,
    FLOOR of an IEEE double division of exact int64 micro sums — see
    operators/similarity.py train_kmeans_centroids for why every compared
    quantity is bit-identical across engines)."""
    # raw double cosine (no micro flooring) for the argmax — dot products of
    # int-valued doubles are exact, so DESC order is engine-independent
    rawcos = (
        "(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
        " list_transform({b}, x -> CAST(x AS DOUBLE)))"
        " / (SQRT(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
        " list_transform({a}, x -> CAST(x AS DOUBLE))))"
        " * SQRT(list_dot_product(list_transform({b}, x -> CAST(x AS DOUBLE)),"
        " list_transform({b}, x -> CAST(x AS DOUBLE))))))"
    )
    parts = [
        f"""kmicro AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS mv
      FROM embeddings WHERE vec_id >= 5
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS centroid_id,
             mv AS cv
      FROM (SELECT vec_id, mv FROM kmicro ORDER BY vec_id LIMIT {k}) s
    )"""
    ]
    for i in range(1, iters + 1):
        cos_mc = rawcos.format(a="m.mv", b="c.cv")
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, mv, centroid_id FROM (
        SELECT m.vec_id, m.mv, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY m.vec_id
                             ORDER BY {cos_mc} DESC, c.centroid_id) AS r
        FROM kmicro m, c{i - 1} c
      ) WHERE r = 1
    ),
    u{i} AS (
      SELECT centroid_id, pos,
             CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS nv
      FROM (
        SELECT centroid_id, i AS pos, mv[i] AS val
        FROM a{i}, UNNEST(generate_series(1, len(mv))) AS t(i)
      ) GROUP BY centroid_id, pos
    ),
    c{i} AS (
      SELECT o.centroid_id, COALESCE(n.cv, o.cv) AS cv
      FROM c{i - 1} o LEFT JOIN (
        SELECT centroid_id, list(nv ORDER BY pos) AS cv FROM u{i} GROUP BY centroid_id
      ) n USING (centroid_id)
    )"""
        )
    parts.append(
        f"""tcents AS (
      SELECT centroid_id, list_transform(cv, x -> CAST(x AS DOUBLE)) AS nv
      FROM c{iters}
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "q35_ann_ivf_trained",
    f"""
    WITH {_kmeans_cte(k=8, iters=2)},
    corpus AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id >= 5),
    probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings WHERE vec_id < 5),
    corpus_cells AS (
      SELECT corpus_id, cv, centroid_id FROM (
        SELECT corpus_id, cv, centroid_id,
          ROW_NUMBER() OVER (PARTITION BY corpus_id ORDER BY
            {_COS_SQL.format(a="cv", b="nv")} DESC, centroid_id) AS r
        FROM corpus, tcents
      ) WHERE r = 1
    ),
    probe_cells AS (
      SELECT probe_id, pv, centroid_id FROM (
        SELECT probe_id, pv, centroid_id,
          ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
            {_COS_SQL.format(a="pv", b="nv")} DESC, centroid_id) AS r
        FROM probes, tcents
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT probe_id, corpus_id, {_COS_SQL.format(a="pv", b="cv")} AS cos_micro
      FROM probe_cells JOIN corpus_cells USING (centroid_id)
    )
    SELECT probe_id, rank, corpus_id, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cos_micro DESC, corpus_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q35(spark, sf_dir):
    """IVF-flat ANN over TRAINED coarse centroids (round-3 verdict #2):
    seeded Lloyd's k-means (k=8, 2 broadcast-assign → groupBy-mean rounds,
    int64-micro exact arithmetic) feeding the same cell-equijoin search as
    q32 — the production IVF shape end to end. Recall@10 vs q22's exact
    top-k is measured by scripts/recall_ivf.py → BENCH/BASELINE.md."""
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    cents = S.train_kmeans_centroids(corpus, k=8, iters=2)
    return S.ivf_flat_topk(
        corpus, emb.filter(F.col("vec_id") < 5), cents, k=10, nprobe=2
    ).orderBy("probe_id", "rank")


@register(
    "q31_salted_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q31(spark, sf_dir):
    """J5 skew handling through the driver gate: exact per-key distinct via
    the salted two-stage aggregation (plans/job.py). event_type has ~5
    values over the whole table — the canonical hot-key shape. The salt is
    a hash of the (key, value) row, so a key's values are DISJOINT across
    salt buckets and stage 2 sums partial set sizes. Registered as a
    CORRECTNESS demonstration of the pattern; the round-3 measurements
    (BENCH/BASELINE.md "salted holistic agg") found Spark's own partial
    aggregation makes explicit salting marginal-to-harmful for these
    aggs, so the engine's hot path does NOT use it — honesty over a fake
    perf claim."""
    from py_image_toolkit_spark.plans.job import salted_two_stage_agg

    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    out = salted_two_stage_agg(
        ev,
        "event_type",
        {
            "n_users": (
                lambda c: F.size(F.collect_set("user_id")).alias("n_users"),
                lambda c: F.sum("n_users").cast("long").alias("n_users"),
            )
        },
        n_salts=8,
    )
    return out.orderBy("event_type")


# --------------------------------------------------------------------------
# D2. web-corpus hygiene: URL canonicalization/dedup, host rollup,
#     deterministic hash sampling (operators/web.py)
# --------------------------------------------------------------------------

_URLS_SQL = """
urls AS (
  SELECT doc_id, n_chars, lang,
         'https://Host-' || CAST(doc_id % 40 AS VARCHAR) || '.Example:443/p/'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id + 100000, n_chars, lang,
         'https://HOST-' || CAST(doc_id % 40 AS VARCHAR) || '.Example/p/'
           || CAST(doc_id AS VARCHAR) || '?utm_source=abc&utm_medium=z#frag'
  FROM documents WHERE doc_id % 11 = 0
)
"""


def _urls_df(spark, sf_dir) -> DataFrame:
    """Synthesized URL table mirroring _URLS_SQL — base rows carry an
    explicit :443 port and mixed-case host; every 11th doc gets a variant
    row (uppercase host, tracking params, fragment) that must canonicalize
    to the same URL."""
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    did = F.col("doc_id").cast("string")
    base = d.select(
        "doc_id", "n_chars", "lang",
        F.concat(
            F.lit("https://Host-"), (F.col("doc_id") % 40).cast("string"),
            F.lit(".Example:443/p/"), did,
        ).alias("url"),
    )
    variants = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "n_chars", "lang",
        F.concat(
            F.lit("https://HOST-"), (F.col("doc_id") % 40).cast("string"),
            F.lit(".Example/p/"), did,
            F.lit("?utm_source=abc&utm_medium=z#frag"),
        ).alias("url"),
    )
    return base.unionByName(variants)


def _canon_sql(col: str) -> str:
    """DuckDB rendering of operators/web.py canonical_url — byte-identical
    regex chain ('g' = replace-all, Spark's default)."""
    head = (
        f"regexp_replace(lower(regexp_extract({col}, "
        "'^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)), '(:(80|443))+$', '')"
    )
    rest = f"regexp_replace({col}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '', 'g')"
    rest = f"regexp_replace({rest}, '#.*$', '', 'g')"
    rest = f"regexp_replace({rest}, '(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g')"
    rest = f"regexp_replace({rest}, '&&+', '&', 'g')"
    rest = f"regexp_replace({rest}, '\\?&', '?', 'g')"
    rest = f"regexp_replace({rest}, '[/?&]+$', '', 'g')"
    return f"({head} || {rest})"


@register(
    "q37_canonical_url_dedup",
    f"""
    WITH {_URLS_SQL}
    SELECT {_canon_sql("url")} AS canonical_url,
           MIN(doc_id) AS canonical_id, COUNT(*) AS n_variants
    FROM urls
    GROUP BY 1 HAVING COUNT(*) >= 2
    ORDER BY canonical_url
    """,
)
def q37(spark, sf_dir):
    """URL canonicalization + duplicate-URL groups (operators/web.py):
    lowercase scheme/host, default-port & fragment strip, tracking-param
    removal — whole-stage-codegen regex chain, then one groupBy on the
    canonical key (the url-level analog of q18's content-hash dedup)."""
    from py_image_toolkit_spark.operators.web import canonical_dedup

    return canonical_dedup(_urls_df(spark, sf_dir)).orderBy("canonical_url")


@register(
    "q38_host_rollup",
    f"""
    WITH {_URLS_SQL}
    SELECT lower(regexp_replace(regexp_extract(url,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', '')) AS host,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(FLOOR(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS short_share_micro
    FROM urls GROUP BY 1 ORDER BY host
    """,
)
def q38(spark, sf_dir):
    """Per-host corpus accounting (docs, byte volume, language mix, short-doc
    share): one keyed groupBy, every aggregate algebraic/map-side-combinable
    — the standard first look at a crawl's host distribution and the input
    to host-level quality gating."""
    from py_image_toolkit_spark.operators.web import host_rollup

    return host_rollup(_urls_df(spark, sf_dir)).orderBy("host")


@register(
    "q39_hash_sample",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
    ORDER BY doc_id
    """,
)
def q39(spark, sf_dir):
    """Deterministic 25% corpus subsample by md5-prefix threshold
    (operators/web.py hash_sample): reproducible across engines and runs
    (no rand()), co-samples the same keys in every table sharing them —
    the right way to cut a dev slice out of a 100 TB corpus."""
    from py_image_toolkit_spark.operators.web import hash_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return hash_sample(d, 0.25, "doc_id").orderBy("doc_id")


@register(
    "q40_quantize_embeddings",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    s AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
          FROM v)
    SELECT vec_id,
           CAST(FLOOR(scale * 1000000000 + 0.5) AS BIGINT) AS scale_nano,
           array_to_string(
             CASE WHEN scale > 0
                  THEN list_transform(dv, x -> CAST(CAST(FLOOR(x / scale + 0.5) AS INTEGER) AS VARCHAR))
                  ELSE list_transform(dv, x -> '0') END, ',') AS qvec_csv
    FROM s ORDER BY vec_id
    """,
)
def q40(spark, sf_dir):
    """Per-vector symmetric int8 quantization (operators/similarity.py):
    the storage/IO half of a 100 TB ANN index — 4-8× smaller vectors,
    int-safe dot products. Round-half-up on IEEE doubles is engine-
    deterministic; qvec serialized to CSV for the driver's value hash."""
    from py_image_toolkit_spark.operators.similarity import quantize_embeddings_int8

    q = quantize_embeddings_int8(t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale_nano",
        F.concat_ws(",", F.transform(F.col("qvec"), lambda x: x.cast("string"))).alias(
            "qvec_csv"
        ),
    ).orderBy("vec_id")


@register(
    "q41_shared_ngram_spans",
    """
    WITH docs2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0
                  THEN text || ' all rights reserved contact site admin for removal details'
                  ELSE text END AS text
      FROM documents
    ),
    ntoks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM docs2
    ),
    grams AS (
      SELECT doc_id, i AS pos, md5(array_to_string(arr[i:i+4], ' ')) AS g
      FROM ntoks, UNNEST(generate_series(1, len(arr) - 4)) AS t(i)
      WHERE len(arr) >= 5
    ),
    shared AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT doc_id, COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN g IN (SELECT g FROM shared) THEN 1 ELSE 0 END) AS BIGINT) AS shared_ngrams,
           CAST(FLOOR(SUM(CASE WHEN g IN (SELECT g FROM shared) THEN 1 ELSE 0 END)
                * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS shared_frac_micro
    FROM grams GROUP BY doc_id ORDER BY doc_id
    """,
)
def q41(spark, sf_dir):
    """Cross-document repeated n-gram detection (substring-level dedup
    signal — boilerplate/quote contamination inside otherwise-distinct
    docs). A deterministic 10-word disclaimer is appended to every 6th doc
    so shared 5-grams exist; the operator finds them with one hash groupBy
    + one keyed semi-equijoin, never doc × doc (operators/dedup.py
    shared_ngram_stats)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.col("text"),
                F.lit(" all rights reserved contact site admin for removal details"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.shared_ngram_stats(d, n=5).orderBy("doc_id")


@register(
    "q44_decontamination",
    """
    WITH ctoks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    cgrams AS (
      SELECT doc_id, md5(array_to_string(arr[i:i+4], ' ')) AS g
      FROM ctoks, UNNEST(generate_series(1, len(arr) - 4)) AS t(i)
      WHERE len(arr) >= 5
    ),
    egrams AS (SELECT DISTINCT g FROM cgrams WHERE doc_id % 25 = 0)
    SELECT doc_id, COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN g IN (SELECT g FROM egrams) THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_ngrams,
           CAST(FLOOR(SUM(CASE WHEN g IN (SELECT g FROM egrams) THEN 1 ELSE 0 END)
                * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS contaminated_frac_micro,
           (FLOOR(SUM(CASE WHEN g IN (SELECT g FROM egrams) THEN 1 ELSE 0 END)
                * 1000000.0 / COUNT(*) + 0.5) >= 100000) AS flagged
    FROM cgrams GROUP BY doc_id ORDER BY doc_id
    """,
)
def q44(spark, sf_dir):
    """Benchmark decontamination (train/test leakage): per-doc 5-gram
    overlap against an eval set, broadcast-probed so the corpus never
    shuffles for the membership test (operators/dedup.py
    contamination_stats). The eval set is every 25th document, so those
    docs score 100% contaminated and everything else attests the negative
    path — both branches exercised with real rows."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.contamination_stats(
        d, d.filter(F.col("doc_id") % 25 == 0), n=5
    ).orderBy("doc_id")


@register(
    "q45_embedding_dedup_clusters",
    """
    WITH RECURSIVE coded AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        CAST((CASE WHEN embedding[1]  >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[9]  >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE FLOOR(list_dot_product(a.v, b.v)
            / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
            * 1000000 + 0.5) >= 400000
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b AS u, id_a AS v FROM pairs),
    reach(id, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    )
    SELECT id AS doc_id, MIN(lbl) AS component_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def q45(spark, sf_dir):
    """The dedup last mile composed over the EMBEDDING pair family:
    cluster_pairs (large-star/small-star) on q29's sign-LSH near-dup pairs
    — one cluster_pairs implementation serves every pair producer (text
    MinHash, SimHash, embeddings) because they share the (id_a, id_b)
    contract. WITH RECURSIVE min-label closure as the oracle."""
    from py_image_toolkit_spark.operators.cluster import cluster_pairs

    emb = t(spark, sf_dir, "embeddings")
    pairs = D.embedding_neardup_pairs(emb, min_cos_micro=400_000)
    return cluster_pairs(pairs).orderBy("doc_id")


@register(
    "q46_ann_quantized_topk",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    s AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
          FROM v),
    q AS (SELECT vec_id,
                 CASE WHEN scale > 0
                      THEN list_transform(dv, x -> CAST(FLOOR(x / scale + 0.5) AS DOUBLE))
                      ELSE list_transform(dv, x -> 0.0) END AS qv
          FROM s),
    probes AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id < 5),
    corpus AS (SELECT vec_id AS corpus_id, qv AS cv FROM q WHERE vec_id >= 5),
    scored AS (
      SELECT probe_id, corpus_id,
        CAST(FLOOR(list_dot_product(pv, cv)
             / (SQRT(list_dot_product(pv, pv)) * SQRT(list_dot_product(cv, cv)))
             * 1000000 + 0.5) AS BIGINT) AS cos_micro
      FROM probes, corpus
    )
    SELECT probe_id, rank, corpus_id, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cos_micro DESC, corpus_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q46(spark, sf_dir):
    """ANN search over the int8-QUANTIZED vectors (q40's output actually
    used): cosine on quantized coordinates — every dot product is a sum of
    exact small-int products, bit-reproducible across engines; cosine's
    scale-invariance makes the per-vector quantization scale drop out, so
    only the rounding error separates this ranking from q22's float
    baseline."""
    from py_image_toolkit_spark.operators.similarity import (
        cosine_topk,
        quantize_embeddings_int8,
    )

    q = quantize_embeddings_int8(t(spark, sf_dir, "embeddings"))
    qd = q.select(
        "vec_id",
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("embedding"),
    )
    return cosine_topk(
        qd.filter(F.col("vec_id") >= 5), qd.filter(F.col("vec_id") < 5), k=10
    ).orderBy("probe_id", "rank")


@register(
    "q47_ann_ivf_quantized",
    f"""
    WITH {_kmeans_cte(k=8, iters=2)},
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    s AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
          FROM v),
    q AS (SELECT vec_id,
                 CASE WHEN scale > 0
                      THEN list_transform(dv, x -> CAST(FLOOR(x / scale + 0.5) AS DOUBLE))
                      ELSE list_transform(dv, x -> 0.0) END AS qv
          FROM s),
    corpus AS (SELECT vec_id AS corpus_id, qv AS cv FROM q WHERE vec_id >= 5),
    probes AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id < 5),
    corpus_cells AS (
      SELECT corpus_id, cv, centroid_id FROM (
        SELECT corpus_id, cv, centroid_id,
          ROW_NUMBER() OVER (PARTITION BY corpus_id ORDER BY
            {_COS_SQL.format(a="cv", b="nv")} DESC, centroid_id) AS r
        FROM corpus, tcents
      ) WHERE r = 1
    ),
    probe_cells AS (
      SELECT probe_id, pv, centroid_id FROM (
        SELECT probe_id, pv, centroid_id,
          ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
            {_COS_SQL.format(a="pv", b="nv")} DESC, centroid_id) AS r
        FROM probes, tcents
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT probe_id, corpus_id, {_COS_SQL.format(a="pv", b="cv")} AS cos_micro
      FROM probe_cells JOIN corpus_cells USING (centroid_id)
    )
    SELECT probe_id, rank, corpus_id, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cos_micro DESC, corpus_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q47(spark, sf_dir):
    """The full scale-path ANN composition, end to end: int8 quantization
    (q40) → trained IVF coarse centroids (q35's seeded Lloyd's over the raw
    corpus) → cell-equijoin IVF search (q32's plan shape) executed over the
    QUANTIZED vectors. This is the 100 TB story in one query — 4-8× smaller
    index bytes, probes touch only nprobe cells via a centroid_id equijoin,
    and the corpus × K assignment dot products never leave the map side.
    q46 remains the brute-force recall reference on the same quantized
    column. Cosine over int-valued doubles is exact (sums ≪ 2^53), so the
    ranking hash-matches DuckDB bit-for-bit."""
    emb = t(spark, sf_dir, "embeddings")
    qd = S.quantize_embeddings_int8(emb).select(
        "vec_id",
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("embedding"),
    )
    cents = S.train_kmeans_centroids(emb.filter(F.col("vec_id") >= 5), k=8, iters=2)
    return S.ivf_flat_topk(
        qd.filter(F.col("vec_id") >= 5),
        qd.filter(F.col("vec_id") < 5),
        cents,
        k=10,
        nprobe=2,
    ).orderBy("probe_id", "rank")


@register(
    "q42_pii_redaction",
    """
    WITH pdocs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
                  THEN text || ' contact 010-1234-5678 or hong@example.com rrn 880505-1122334 plain 8805051122334'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '\\d{6}\\s*-\\s*\\d{7}')) AS BIGINT) AS n_rrn,
      CAST(len(regexp_extract_all(text, '\\b\\d{13}\\b')) AS BIGINT) AS n_rrn13,
      CAST(len(regexp_extract_all(text, '\\b0\\d{1,2}-\\d{3,4}-\\d{4}\\b')) AS BIGINT) AS n_phone,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          '\\d{6}\\s*-\\s*\\d{7}', '[RRN]', 'g'),
          '\\b\\d{13}\\b', '[RRN]', 'g'),
          '\\b0\\d{1,2}-\\d{3,4}-\\d{4}\\b', '[PHONE]', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g')) AS redacted_md5
    FROM pdocs ORDER BY doc_id
    """,
)
def q42(spark, sf_dir):
    """PII scrubbing for corpus release (operators/text_stats.py
    redact_pii): RRN/phone/email detection counts + redacted text, pure
    regexp chain in overlap-safe order. Deterministic PII is planted on
    every 9th doc; the redacted text is md5'd for the driver's value hash
    (proving byte-identical scrubbing across engines)."""
    from py_image_toolkit_spark.operators.text_stats import redact_pii

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    " contact 010-1234-5678 or hong@example.com"
                    " rrn 880505-1122334 plain 8805051122334"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = redact_pii(d)
    return out.select(
        "doc_id", "n_rrn", "n_rrn13", "n_phone", "n_email",
        F.md5(F.encode(F.col("redacted_text"), "UTF-8")).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "q43_weighted_corpus_mix",
    """
    SELECT doc_id, source FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN source IN ('src0', 'src1', 'src2') THEN 'g'
           WHEN source IN ('src3', 'src4') THEN '19999999'
           ELSE '80000000' END
    ORDER BY doc_id
    """,
)
def q43(spark, sf_dir):
    """Deterministic training-mix sampling (operators/text_stats.py
    weighted_sample): per-source keep rates via nested md5-prefix
    thresholds — src0-2 at 100%, src3-4 at 10%, the rest at 50% —
    reproducible across engines and re-weightable without resampling
    churn."""
    from py_image_toolkit_spark.operators.text_stats import weighted_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    rates = {"src0": 1.0, "src1": 1.0, "src2": 1.0, "src3": 0.1, "src4": 0.1}
    return weighted_sample(d, rates, default_rate=0.5).orderBy("doc_id")


@register(
    "q50_asof_join",
    """
    WITH l AS (
      SELECT event_id, user_id, ts, 1 AS side,
             NULL::BIGINT AS r_eid, NULL::TIMESTAMP AS r_ts
      FROM events WHERE event_type = 'view'
    ),
    r AS (
      SELECT NULL::BIGINT AS event_id, user_id, ts, 0 AS side,
             event_id AS r_eid, ts AS r_ts
      FROM events WHERE event_type = 'click'
    ),
    u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
    m AS (
      SELECT *,
        LAST_VALUE(r_eid IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY ts, side, r_eid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_eid,
        LAST_VALUE(r_ts IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY ts, side, r_eid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_ts
      FROM u
    )
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           m_eid AS click_event_id,
           CASE WHEN m_ts IS NULL THEN NULL
                ELSE epoch_us(ts) - epoch_us(m_ts) END AS staleness_us
    FROM m WHERE side = 1 ORDER BY event_id
    """,
)
def q50(spark, sf_dir):
    """As-of (point-in-time) join: every 'view' event picks the LATEST
    'click' by the same user at or before its timestamp — feature-store
    semantics (operators/asof.py asof_join: union + one keyed window, ONE
    |L|+|R| shuffle, no range-join row multiplication, payload travels as
    a struct so all attached columns come from the same matched row)."""
    from py_image_toolkit_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )
    j = asof_join(
        left,
        right,
        on="user_id",
        ts_col="ts",
        right_cols=["click_event_id", "click_ts"],
        right_order="click_event_id",
        prefix="",
    )
    # parquet timestamps read as TIMESTAMP_NTZ; the session tz is pinned to
    # UTC (session.py) so the cast to TIMESTAMP is tz-exact and unix_micros
    # matches DuckDB's epoch_us on the same naive values
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return j.select(
        "event_id",
        "user_id",
        us("ts").alias("ts_us"),
        "click_event_id",
        (us("ts") - us("click_ts")).alias("staleness_us"),
    ).orderBy("event_id")


_BANNER = "cookie notice accept all tracking privacy policy terms conditions apply"


@register(
    "q48_line_dedup",
    f"""
    WITH pdocs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN '{_BANNER} ' || text ELSE text END AS text
      FROM documents
    ),
    ltoks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM pdocs
    ),
    lines AS (
      SELECT doc_id, i AS line_no,
             array_to_string(arr[(i*10+1):(i*10+10)], ' ') AS line
      FROM ltoks, UNNEST(generate_series(0,
             CAST(CEIL(len(arr) / 10.0) AS BIGINT) - 1)) AS t(i)
    ),
    boiler AS (
      SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM lines GROUP BY doc_id)
    SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_lines,
           CAST(c.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_boiler,
           COALESCE(k.clean_text, '') AS clean_text
    FROM counts c LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, ' ' ORDER BY line_no) AS clean_text
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    ORDER BY c.doc_id
    """,
)
def q48(spark, sf_dir):
    """Line-level boilerplate removal (CCNet/RefinedWeb line dedup): every
    10-token line occurring verbatim in ≥2 distinct documents is dropped and
    the cleaned text reassembled (operators/dedup.py line_dedup — one line-
    hash groupBy + one anti equijoin, no self-joins). A fixed cookie-banner
    line is prepended to every 3rd doc so real cross-document boilerplate
    exists; it aligns to the first chunk and is removed from exactly those
    docs."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit(_BANNER + " "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.line_dedup(d, line_tokens=10, min_docs=2).orderBy("doc_id")


@register(
    "q49_sequence_packing",
    """
    WITH keyed AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS key,
             SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
      FROM documents
    ),
    local AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY key, doc_id) AS cum
      FROM keyed
    ),
    bases AS (
      SELECT bucket,
             COALESCE(SUM(tot) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      FROM (SELECT bucket, SUM(n_tokens) AS tot FROM keyed GROUP BY bucket)
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR((base + cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
           CAST((base + cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
    FROM local JOIN bases USING (bucket)
    ORDER BY doc_id
    """,
)
def q49(spark, sf_dir):
    """Deterministic concat-and-split sequence packing for pre-training
    batches (operators/text_stats.py pack_sequences): documents lie
    end-to-end in md5-hash order and the stream is cut into 2048-token
    packs. The global prefix sum is two-phase (16 hash buckets in parallel
    + a broadcast 16-row base-offset table) so no single partition ever
    sees the whole corpus — outputs identical to the serial layout,
    bit-reproducible across engines."""
    return T.pack_sequences(
        t(spark, sf_dir, "documents"), budget=2048, n_buckets=16
    ).orderBy("doc_id")


_PER_TOKEN_SQL = """
per AS (
  SELECT doc_id, t.token, COUNT(*) AS c
  FROM documents, UNNEST(regexp_extract_all(text, '{bpe}')) AS t(token)
  GROUP BY doc_id, t.token
)
"""


@register(
    "q51_vocab_topk",
    "WITH " + _PER_TOKEN_SQL.format(bpe=T.BPE_RE) + """
    SELECT token, CAST(SUM(c) AS BIGINT) AS occurrences,
           CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM per GROUP BY token
    ORDER BY occurrences DESC, token LIMIT 100
    """,
)
def q51(spark, sf_dir):
    """Corpus vocabulary building (operators/corpus.py vocab_topk): BPE-ish
    lexer tokens → (doc, token) map-side-combined counts → token totals +
    document frequency → deterministic top-100 via TakeOrderedAndProject
    (per-partition top-k, never a global sort shuffle)."""
    from py_image_toolkit_spark.operators.corpus import vocab_topk

    return vocab_topk(t(spark, sf_dir, "documents"), k=100)


@register(
    "q52_tfidf_topk",
    "WITH " + _PER_TOKEN_SQL.format(bpe=T.BPE_RE) + """,
    df_t AS (SELECT token, COUNT(*) AS doc_freq FROM per GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT p.doc_id, p.token, CAST(p.c AS BIGINT) AS tf,
             CAST(p.c * ((1000000 * n.n_docs) // d.doc_freq) AS BIGINT) AS score
      FROM per p JOIN df_t d USING (token) CROSS JOIN n
    ),
    r AS (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
          FROM scored)
    SELECT doc_id, token, tf, score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk
    """,
)
def q52(spark, sf_dir):
    """Per-document keyword extraction (operators/corpus.py tfidf_topk):
    top-5 tokens by an integer-exact TF-IDF proxy
    ``tf * (1e6 * n_docs DIV doc_freq)`` — no float ``ln`` so the selected
    set is bit-reproducible across engines. Token-keyed equijoin for the
    df table (vocabulary NOT assumed broadcastable at web scale); only the
    1-row corpus count is broadcast."""
    from py_image_toolkit_spark.operators.corpus import tfidf_topk

    out = tfidf_topk(t(spark, sf_dir, "documents"), k=5)
    return out.withColumnRenamed("rank", "rnk").orderBy("doc_id", "rnk")


@register(
    "q53_stratified_sample",
    """
    WITH keyed AS (
      SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS key FROM documents
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key, doc_id) AS rnk
      FROM keyed
    )
    SELECT doc_id, lang, CAST(rnk AS BIGINT) AS stratum_rank
    FROM ranked
    WHERE rnk <= CASE WHEN lang = 'en' THEN 60 WHEN lang = 'zh' THEN 30 ELSE 20 END
    ORDER BY doc_id
    """,
)
def q53(spark, sf_dir):
    """Exact-quota stratified sampling (operators/corpus.py
    stratified_sample): first-N per language in reproducible md5 order.
    The oracle's serial per-stratum ROW_NUMBER is the SEMANTICS; the engine
    computes the identical rank two-phase (16 hash sub-buckets per stratum
    + broadcast base offsets) so no stratum funnels through one partition —
    the hash-gate proves the two-phase rank equals the serial one."""
    from py_image_toolkit_spark.operators.corpus import stratified_sample

    return stratified_sample(
        t(spark, sf_dir, "documents"),
        strata_col="lang",
        quotas={"en": 60, "zh": 30},
        default_quota=20,
    ).orderBy("doc_id")


@register(
    "q54_incremental_dedup",
    """
    WITH d AS (SELECT doc_id, text FROM documents),
    batch AS (
      SELECT doc_id + 10000 AS doc_id, text FROM d WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 20000, text || ' zz near dup tail' FROM d WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 40000, text || ' zz near dup tail' FROM d WHERE doc_id % 7 = 0
    ),
    h AS (SELECT doc_id, md5(text) AS content_hash FROM batch),
    idx AS (SELECT DISTINCT md5(text) AS content_hash FROM d),
    r AS (
      SELECT h.doc_id, h.content_hash,
             (i.content_hash IS NOT NULL) AS in_idx,
             ROW_NUMBER() OVER (PARTITION BY h.content_hash ORDER BY h.doc_id) AS rn
      FROM h LEFT JOIN idx i ON h.content_hash = i.content_hash
    )
    SELECT doc_id, content_hash,
           CASE WHEN in_idx THEN 'dup_of_index'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM r ORDER BY doc_id
    """,
)
def q54(spark, sf_dir):
    """Incremental crawl-ingestion dedup (operators/dedup.py
    dedup_incremental): a new batch (exact re-crawls of every 11th doc +
    two copies of a near-dup variant of every 7th) is deduplicated against
    the committed corpus's HASH-ONLY index — the historical text never
    shuffles; within-batch first-wins by id. Statuses: dup_of_index /
    dup_in_batch / kept."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id"), F.concat(F.col("text"), F.lit(" zz near dup tail")).alias("text")
    )
    batch = exact.unionByName(
        near.select((F.col("doc_id") + 20000).alias("doc_id"), "text")
    ).unionByName(near.select((F.col("doc_id") + 40000).alias("doc_id"), "text"))
    return D.dedup_incremental(batch, index=d).orderBy("doc_id")


@register(
    "q55_ngram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(arr[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, len(arr) - 2)) AS t(i)
      WHERE len(arr) >= 3
    ),
    first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_ngrams,
           CAST((1000000 * SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM sh s JOIN first f ON s.shingle = f.shingle
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def q55(spark, sf_dir):
    """Corpus-growth novelty triage (operators/dedup.py ngram_novelty): per
    document, the share of its distinct word trigrams first seen (min
    doc_id) in that document, in exact integer micro-units. One gram-keyed
    groupBy + one gram-keyed equijoin + one doc-keyed agg — never
    doc × doc."""
    return D.ngram_novelty(t(spark, sf_dir, "documents"), k=3).orderBy("doc_id")


@register(
    "q56_bpe_pair_counts",
    """
    WITH w0 AS (
      SELECT t.word AS word, COUNT(*) AS freq
      FROM documents,
           UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS t(word)
      GROUP BY t.word
    ),
    words AS (SELECT word, freq FROM w0 WHERE length(word) >= 2),
    pairs AS (
      SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, freq
      FROM words, UNNEST(generate_series(1, length(word) - 1)) AS g(i)
    )
    SELECT l AS lhs, r AS rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY l, r
    ORDER BY pair_count DESC, lhs, rhs LIMIT 50
    """,
)
def q56(spark, sf_dir):
    """BPE tokenizer-training inner loop (operators/corpus.py
    bpe_pair_counts): corpus → word-frequency table (map-side combine; a
    word repeated 10^9 times is processed once) → freq-weighted adjacent
    character-pair counts → top-50 merge candidates via
    TakeOrderedAndProject."""
    from py_image_toolkit_spark.operators.corpus import bpe_pair_counts

    return bpe_pair_counts(t(spark, sf_dir, "documents"), k=50)


@register(
    "q57_pmi_bigrams",
    """
    WITH toks AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    uni AS (
      SELECT t.tok AS tok, COUNT(*) AS c
      FROM toks, UNNEST(arr) AS t(tok) GROUP BY t.tok
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
    big AS (
      SELECT arr[i] AS w1, arr[i + 1] AS w2, COUNT(*) AS c_ab
      FROM toks, UNNEST(generate_series(1, len(arr) - 1)) AS g(i)
      WHERE len(arr) >= 2
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS pair_count,
           CAST((1000000 * n.n_tok * b.c_ab) // (u1.c * u2.c) AS BIGINT)
             AS pmi_micro
    FROM big b
    JOIN uni u1 ON b.w1 = u1.tok
    JOIN uni u2 ON b.w2 = u2.tok
    CROSS JOIN n
    ORDER BY w1, w2
    """,
)
def q57(spark, sf_dir):
    """Collocation mining (operators/corpus.py pmi_bigrams): adjacent-token
    bigrams scored by the integer-exact PMI proxy
    ``(1e6 * N * c_ab) DIV (c_a * c_b)``. Bigrams built map-side from the
    token array (no per-doc window); unigram counts attached by token-keyed
    equijoin — the vocabulary is never assumed broadcastable."""
    from py_image_toolkit_spark.operators.corpus import pmi_bigrams

    return pmi_bigrams(t(spark, sf_dir, "documents"), min_count=2).orderBy(
        "w1", "w2"
    )


@register(
    "q58_length_percentiles",
    """
    WITH lens AS (
      SELECT lang,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS l
      FROM documents
    ),
    hist AS (SELECT lang, l, COUNT(*) AS cnt FROM lens GROUP BY lang, l),
    cum AS (
      SELECT lang, l, cnt,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY l) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS tot
      FROM hist
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS distinct_lengths,
           CAST(MAX(tot) AS BIGINT) AS n_docs,
           CAST(MIN(l) AS BIGINT) AS min_len,
           CAST(MAX(l) AS BIGINT) AS max_len,
           CAST(MIN(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN l END)
                AS BIGINT) AS p50_len,
           CAST(MIN(CASE WHEN cum >= (tot * 90 + 99) // 100 THEN l END)
                AS BIGINT) AS p90_len,
           CAST(MIN(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN l END)
                AS BIGINT) AS p99_len
    FROM cum GROUP BY lang ORDER BY lang
    """,
)
def q58(spark, sf_dir):
    """Corpus length-distribution summary (operators/corpus.py
    length_percentiles): per-language doc count, min/max and DISCRETE
    p50/p90/p99 token lengths. The corpus collapses to a (lang, length)
    histogram first (map-side combine); the cumulative window runs over
    distinct lengths only — never a global sort of document rows."""
    from py_image_toolkit_spark.operators.corpus import length_percentiles

    return length_percentiles(t(spark, sf_dir, "documents")).orderBy("lang")


# Deterministic linky pages: each document becomes a page on its source's
# host carrying one absolute cross-host anchor and one relative anchor —
# built by IDENTICAL string concatenation in Spark and DuckDB so the real
# extract_links operator is oracle-checkable end-to-end.
_LINK_PAGES_SQL = """
    link_pages AS (
      SELECT 'https://' || source || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) AS url,
             '<p>' || text || '</p><a href="https://src'
               || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
               || '.example.com/a">x</a><a href="/rel">y</a>' AS html
      FROM documents
    ),
    raw_links AS (
      SELECT regexp_extract(url, '^https?://([^/:?#]+)', 1) AS src, t.target
      FROM link_pages,
           UNNEST(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS t(target)
    ),
    host_edges AS (
      SELECT DISTINCT src,
             CASE WHEN regexp_matches(target, '^https?://')
                  THEN regexp_extract(target, '^https?://([^/:?#]+)', 1)
                  ELSE src END AS dst
      FROM raw_links
    )
"""


def _link_pages(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<p>"),
            F.col("text"),
            F.lit('</p><a href="https://src'),
            ((F.col("doc_id") * 7 + 3) % 20).cast("string"),
            F.lit('.example.com/a">x</a><a href="/rel">y</a>'),
        ).alias("html"),
    )


@register(
    "q59_host_link_graph",
    "WITH " + _LINK_PAGES_SQL + """
    SELECT src, dst FROM host_edges ORDER BY src, dst
    """,
)
def q59(spark, sf_dir):
    """Host link-graph extraction (operators/graph.py extract_links): one
    codegen regexp pass over raw HTML finds hrefs, a second normalizes
    absolute targets to their host (relative hrefs resolve to the source
    host); pages collapse to host pairs map-side before the only shuffle
    (the edge distinct)."""
    from py_image_toolkit_spark.operators.graph import extract_links

    return extract_links(_link_pages(spark, sf_dir)).orderBy("src", "dst")


def _pagerank_oracle_sql(iters: int, scale: int = 1_000_000, damping: int = 85) -> str:
    base = (scale * (100 - damping)) // 100
    sql = (
        "WITH "
        + _LINK_PAGES_SQL
        + """,
    deg AS (SELECT src, COUNT(*) AS deg FROM host_edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM host_edges
        UNION ALL SELECT dst FROM host_edges
      )
    ),
    r0 AS (SELECT node, CAST(%d AS BIGINT) AS rank FROM nodes)
    """
        % scale
    )
    for i in range(iters):
        sql += f""",
    c{i} AS (
      SELECT e.dst, SUM(r.rank // d.deg) AS insum
      FROM host_edges e
      JOIN r{i} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i + 1} AS (
      SELECT n.node,
             CAST({base} + ({damping} * COALESCE(c.insum, 0)) // 100 AS BIGINT)
               AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst
    )
    """
    sql += f"""
    SELECT r.node, CAST(r.rank AS BIGINT) AS rank_micro,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS out_degree
    FROM r{iters} r LEFT JOIN deg d ON r.node = d.src
    ORDER BY node
    """
    return sql


@register("q60_host_pagerank", _pagerank_oracle_sql(5))
def q60(spark, sf_dir):
    """Host-graph PageRank (operators/graph.py pagerank): 5 damped power
    iterations over q59's edge set in EXACT integer micro-units (floor
    division everywhere — bit-identical ranks on any engine; the oracle
    unrolls the same 5 rounds as SQL CTEs). Each round is one src-keyed
    equijoin + one dst-keyed map-side-combinable groupBy, round boundaries
    lineage-truncated like cluster_pairs."""
    from py_image_toolkit_spark.operators.graph import extract_links, pagerank

    edges = extract_links(_link_pages(spark, sf_dir))
    return pagerank(edges, iterations=5).orderBy("node")


_BLOCKED_HOSTS = ("host-3.example", "host-17.example", "spam.example.org")
_BLOCKED_PATTERNS = ("/p/1[0-9]$", "utm_medium=z")

_HOST_EXPR_SQL = (
    "lower(regexp_replace(regexp_extract(url,"
    " '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))"
)
_HR_SQL = "CASE " + " ".join(
    f"WHEN host = '{b}' OR ends_with(host, '.{b}') THEN '{b}'"
    for b in _BLOCKED_HOSTS
) + " END"
_PR_SQL = "CASE " + " ".join(
    f"WHEN regexp_matches(url, '{p}') THEN '{p}'" for p in _BLOCKED_PATTERNS
) + " END"


@register(
    "q61_url_blocklist",
    f"""
    WITH {_URLS_SQL},
    hosted AS (SELECT doc_id, n_chars, lang, url, {_HOST_EXPR_SQL} AS host
               FROM urls),
    ruled AS (SELECT *, {_HR_SQL} AS hr, {_PR_SQL} AS pr FROM hosted)
    SELECT doc_id, n_chars, lang, url, host,
           CASE WHEN hr IS NOT NULL THEN 'blocked_host'
                WHEN pr IS NOT NULL THEN 'blocked_pattern'
                ELSE 'kept' END AS verdict,
           COALESCE(hr, pr) AS rule
    FROM ruled ORDER BY doc_id
    """,
)
def q61(spark, sf_dir):
    """URL blocklist gating (operators/web.py url_filter): domain-suffix
    host rules + URL regex rules, first match wins in list order, host
    rules over pattern rules; emits verdict + matched rule per row (drop
    REASONS for lineage, not a silent filter). Blocklists fold into the
    plan as literals — whole-stage codegen, zero added shuffle."""
    from py_image_toolkit_spark.operators.web import url_filter

    return url_filter(
        _urls_df(spark, sf_dir),
        blocked_hosts=_BLOCKED_HOSTS,
        blocked_url_patterns=_BLOCKED_PATTERNS,
    ).orderBy("doc_id")


# deterministic stand-in for a trained-then-quantized weight vector (Knuth
# multiplicative spread over 256 md5-nibble buckets, range ±500)
_QMODEL_WEIGHTS = [((i * 2654435761) % 1001) - 500 for i in range(256)]
_QMODEL_BIAS = 1000

_BUCKET_SQL = (
    "(instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)"
)


@register(
    "q62_quality_model_score",
    f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS t(tok)
    ),
    scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(({_QMODEL_WEIGHTS})[{_BUCKET_SQL} + 1])
                  + {_QMODEL_BIAS} AS BIGINT) AS score
      FROM toks GROUP BY doc_id
    ),
    full_t AS (
      SELECT d.doc_id,
             COALESCE(s.n_tokens, 0) AS n_tokens,
             COALESCE(s.score, {_QMODEL_BIAS}) AS score
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(score AS BIGINT) AS score,
           CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM full_t ORDER BY doc_id
    """,
)
def q62(spark, sf_dir):
    """Model-based quality gating (operators/text_stats.py
    hashed_linear_score): fastText-style linear classifier inference via
    the hashing trick — md5-nibble token buckets, one integer weight per
    bucket folded into the plan as an array literal, document score one
    map-side-combinable groupBy. No vocabulary table, no joins, no Python
    — how production pipelines afford model gating on every crawled
    page."""
    from py_image_toolkit_spark.operators.text_stats import hashed_linear_score

    return hashed_linear_score(
        t(spark, sf_dir, "documents"),
        weights=_QMODEL_WEIGHTS,
        bias=_QMODEL_BIAS,
    ).orderBy("doc_id")


# head-metadata pages: tags present/absent/mixed-case by deterministic
# doc_id residues so every extract_meta branch (incl. NULL paths and the
# empty-title → NULL rule) is exercised
_META_PAGES_SQL = """
meta_pages AS (
  SELECT doc_id,
         'https://meta-' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         '<html><head>'
         || CASE WHEN doc_id % 10 = 2 THEN '<title></title>'
                 WHEN doc_id % 5 = 0 THEN ''
                 WHEN doc_id % 3 = 0 THEN '<TITLE>Doc '
                      || CAST(doc_id AS VARCHAR) || '</TITLE>'
                 ELSE '<title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
            END
         || CASE WHEN doc_id % 4 = 1 THEN ''
                 ELSE '<meta name="description" content="Desc '
                      || CAST((doc_id * 7) % 100 AS VARCHAR) || '">'
            END
         || CASE WHEN doc_id % 6 = 0 THEN '<link rel="canonical" '
                      || 'href="https://meta-' || CAST(doc_id % 20 AS VARCHAR)
                      || '.example/canon/' || CAST(doc_id % 33 AS VARCHAR) || '">'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN '<meta property="og:title" '
                      || 'content="OG ' || CAST(doc_id AS VARCHAR) || '">'
                 ELSE '' END
         || CASE WHEN doc_id % 8 = 0 THEN
                      '<meta name="robots" content="noindex, nofollow">'
                 WHEN doc_id % 8 = 4 THEN
                      '<meta name="robots" content="index, follow">'
                 ELSE '' END
         || '</head><body><p>' || text || '</p></body></html>' AS html
  FROM documents
)
"""


def _meta_pages(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    title = (
        F.when(F.col("doc_id") % 10 == 2, "<title></title>")
        .when(F.col("doc_id") % 5 == 0, "")
        .when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("<TITLE>Doc "), did, F.lit("</TITLE>")),
        )
        .otherwise(F.concat(F.lit("<title>Doc "), did, F.lit("</title>")))
    )
    desc = F.when(F.col("doc_id") % 4 == 1, "").otherwise(
        F.concat(
            F.lit('<meta name="description" content="Desc '),
            ((F.col("doc_id") * 7) % 100).cast("string"),
            F.lit('">'),
        )
    )
    canon = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="https://meta-'),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example/canon/"),
            (F.col("doc_id") % 33).cast("string"),
            F.lit('">'),
        ),
    ).otherwise("")
    og = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit('<meta property="og:title" content="OG '), did, F.lit('">')),
    ).otherwise("")
    robots = (
        F.when(
            F.col("doc_id") % 8 == 0,
            '<meta name="robots" content="noindex, nofollow">',
        )
        .when(
            F.col("doc_id") % 8 == 4,
            '<meta name="robots" content="index, follow">',
        )
        .otherwise("")
    )
    return d.select(
        "doc_id",
        F.concat(
            F.lit("https://meta-"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example/p/"),
            did,
        ).alias("url"),
        F.concat(
            F.lit("<html><head>"),
            title,
            desc,
            canon,
            og,
            robots,
            F.lit("</head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )


@register(
    "q63_html_metadata",
    f"""
    WITH {_META_PAGES_SQL}
    SELECT doc_id, url,
           NULLIF(regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1),
                  '') AS title,
           NULLIF(regexp_extract(html,
             '(?i)<meta name="description" content="([^"]*)"', 1), '')
             AS description,
           NULLIF(regexp_extract(html,
             '(?i)<link rel="canonical" href="([^"]*)"', 1), '') AS canonical,
           NULLIF(regexp_extract(html,
             '(?i)<meta property="og:title" content="([^"]*)"', 1), '')
             AS og_title,
           COALESCE(regexp_matches(lower(NULLIF(regexp_extract(html,
             '(?i)<meta name="robots" content="([^"]*)"', 1), '')),
             '(^|[, ])noindex([, ]|$)'), FALSE) AS noindex
    FROM meta_pages ORDER BY doc_id
    """,
)
def q63(spark, sf_dir):
    """Head-metadata extraction (operators/html_meta.py): title /
    description / canonical / og:title / robots-noindex mined from raw
    HTML by five codegen regexp passes — the sidecar fields a production
    extractor (trafilatura-class) emits next to main content, and the
    compliance gate (noindex) that drops pages from training corpora.
    Map-side only; the html column never shuffles."""
    from py_image_toolkit_spark.operators.html_meta import extract_meta

    return extract_meta(_meta_pages(spark, sf_dir)).orderBy("doc_id")


# anchor pages: absolute + relative links with doc-dependent anchor text,
# an empty-anchor variant (dropped) and an image-link variant (regex
# intentionally non-matching)
_ANCHOR_PAGES_SQL = """
anchor_pages AS (
  SELECT doc_id,
         'https://a' || CAST(doc_id % 15 AS VARCHAR) || '.example/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         '<p>intro</p><a href="https://a'
           || CAST((doc_id * 3 + 1) % 15 AS VARCHAR) || '.example/x">'
           || CASE WHEN doc_id % 3 = 0 THEN 'click here'
                   ELSE 'Doc ' || CAST(doc_id % 50 AS VARCHAR) END
           || '</a><a href="/local">'
           || CASE WHEN doc_id % 4 = 0 THEN '' ELSE 'more' END
           || '</a>'
           || CASE WHEN doc_id % 5 = 0
                   THEN '<a href="https://img.example/i"><img src="x"></a>'
                   ELSE '' END AS html
  FROM documents
)
"""


def _anchor_pages(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    anchor1 = F.when(F.col("doc_id") % 3 == 0, F.lit("click here")).otherwise(
        F.concat(F.lit("Doc "), (F.col("doc_id") % 50).cast("string"))
    )
    anchor2 = F.when(F.col("doc_id") % 4 == 0, "").otherwise("more")
    img = F.when(
        F.col("doc_id") % 5 == 0,
        '<a href="https://img.example/i"><img src="x"></a>',
    ).otherwise("")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("https://a"),
            (F.col("doc_id") % 15).cast("string"),
            F.lit(".example/p/"),
            did,
        ).alias("url"),
        F.concat(
            F.lit('<p>intro</p><a href="https://a'),
            ((F.col("doc_id") * 3 + 1) % 15).cast("string"),
            F.lit('.example/x">'),
            anchor1,
            F.lit('</a><a href="/local">'),
            anchor2,
            F.lit("</a>"),
            img,
        ).alias("html"),
    )


@register(
    "q64_anchor_texts",
    f"""
    WITH {_ANCHOR_PAGES_SQL},
    els AS (
      SELECT regexp_extract(url, '^https?://([^/:?#]+)', 1) AS src, e.el
      FROM anchor_pages,
           UNNEST(regexp_extract_all(html,
             '<a href="[^"]*"[^>]*>[^<]*</a>', 0)) AS e(el)
    ),
    triples AS (
      SELECT src,
             CASE WHEN regexp_matches(regexp_extract(el, 'href="([^"]*)"', 1),
                                      '^https?://')
                  THEN regexp_extract(regexp_extract(el, 'href="([^"]*)"', 1),
                                      '^https?://([^/:?#]+)', 1)
                  ELSE src END AS dst,
             regexp_extract(el, '>([^<]*)</a>$', 1) AS anchor
      FROM els
    )
    SELECT src, dst, anchor, CAST(COUNT(*) AS BIGINT) AS n
    FROM triples WHERE anchor <> '' AND dst <> ''
    GROUP BY src, dst, anchor ORDER BY src, dst, anchor
    """,
)
def q64(spark, sf_dir):
    """Anchor-text corpus (operators/graph.py anchor_texts): what pages
    SAY about the pages they link to — (src_host, dst_host, anchor, n)
    mined by one codegen regexp pass over whole <a> elements; relative
    hrefs resolve to the source host, empty anchors and markup-bearing
    anchors drop out. The only shuffle is the map-side-combinable triple
    count — the html column never moves."""
    from py_image_toolkit_spark.operators.graph import anchor_texts

    return anchor_texts(_anchor_pages(spark, sf_dir)).orderBy(
        "src", "dst", "anchor"
    )


# dirty-text fixture: deterministic unicode grime (ZWSP prefix, C0 + NBSP
# tail, ZWNJ stuffing after every 'e', double spaces) keyed on doc_id
_DIRTY_SQL = """
dirty AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN chr(8203) ELSE '' END
         || ' ' || CASE WHEN doc_id % 5 = 0
                        THEN replace(text, 'e', 'e' || chr(8204))
                        ELSE text END
         || CASE WHEN doc_id % 4 = 0 THEN chr(1) || chr(160) || 'tail'
                 ELSE '' END AS text
  FROM documents
)
"""


@register(
    "q65_clean_text",
    f"""
    WITH {_DIRTY_SQL},
    cleaned AS (
      SELECT doc_id, text AS raw,
             trim(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(text,
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                 '[\\x{{200B}}\\x{{200C}}\\x{{200D}}\\x{{FEFF}}]', '', 'g'),
                 '[\\x{{A0}}\\x{{2000}}-\\x{{200A}}\\x{{202F}}\\x{{205F}}\\x{{3000}}]',
                 ' ', 'g'),
                 '[ \\t]+', ' ', 'g')) AS text
      FROM dirty
    )
    SELECT doc_id, text,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length(text) AS BIGINT) AS n_chars_clean
    FROM cleaned ORDER BY doc_id
    """,
)
def q65(spark, sf_dir):
    """Unicode hygiene (operators/text_stats.py clean_text): control-char
    and zero-width strip, exotic-space normalization, whitespace-run
    collapse — the pass between extraction and tokenization, with
    raw/clean char counts kept for lineage. Spark applies literal-char
    classes, the oracle the equivalent RE2 escape classes; both are four
    map-side codegen regexp_replace calls, zero shuffle."""
    from py_image_toolkit_spark.operators.text_stats import clean_text

    d = t(spark, sf_dir, "documents")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, "​").otherwise(""),
            F.lit(" "),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.regexp_replace(F.col("text"), "e", "e‌"),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 4 == 0, " tail"
            ).otherwise(""),
        ).alias("text"),
    )
    return clean_text(dirty).orderBy("doc_id")


@register(
    "q66_host_cap",
    f"""
    WITH {_URLS_SQL},
    hosted AS (
      SELECT doc_id, lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))
               AS host
      FROM urls
    ),
    ranked AS (
      SELECT doc_id, host,
             ROW_NUMBER() OVER (PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS host_rank
      FROM hosted
    )
    SELECT doc_id, host, CAST(host_rank AS BIGINT) AS host_rank
    FROM ranked WHERE host_rank <= 20 ORDER BY doc_id
    """,
)
def q66(spark, sf_dir):
    """Per-host document cap (operators/web.py host_cap): at most N pages
    per host survive, in deterministic md5(id) order — RefinedWeb-style
    protection against one domain dominating the corpus. Delegates to the
    two-phase stratified rank (16 hash sub-buckets + broadcast base
    offsets), so the hot host this operator exists to tame never funnels
    through a single partition."""
    from py_image_toolkit_spark.operators.web import host_cap

    return host_cap(_urls_df(spark, sf_dir), cap=20).select(
        "doc_id", "host", "host_rank"
    ).orderBy("doc_id")


# recrawl fixture: ~1.6 captures per url on average, timestamps derived
# from an integer epoch so both engines hash identical BIGINT seconds
_CAPTURES_SQL = """
captures AS (
  SELECT doc_id,
         'https://c' || CAST(doc_id % 13 AS VARCHAR) || '.example/p/'
           || CAST(doc_id % 97 AS VARCHAR) AS url,
         to_timestamp(1704067200 + ((doc_id * 37) % 365) * 86400) AS warc_ts,
         n_chars, lang
  FROM documents
)
"""


@register(
    "q67_latest_capture",
    f"""
    WITH {_CAPTURES_SQL},
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url
               ORDER BY warc_ts DESC, doc_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY url) AS n_captures
      FROM captures
    )
    SELECT url, doc_id, CAST(epoch(warc_ts) AS BIGINT) AS ts_epoch,
           n_chars, lang, CAST(n_captures AS BIGINT) AS n_captures
    FROM ranked WHERE rn = 1 ORDER BY url
    """,
)
def q67(spark, sf_dir):
    """Recrawl collapse (operators/web.py latest_capture): Common Crawl
    snapshots the same URL crawl after crawl — keep exactly the newest
    capture per URL (ties broken by id), with the collapsed snapshot count
    kept for lineage. One max_by groupBy on the url key (map-side
    combinable) — no corpus-wide window, no self-join against a latest-ts
    table; the oracle uses the window formulation to prove the groupBy
    path equivalent."""
    from py_image_toolkit_spark.operators.web import latest_capture

    d = t(spark, sf_dir, "documents")
    captures = d.select(
        "doc_id",
        F.concat(
            F.lit("https://c"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit(".example/p/"),
            (F.col("doc_id") % 97).cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + ((F.col("doc_id") * 37) % 365) * 86400
        ).alias("warc_ts"),
        "n_chars",
        "lang",
    )
    return latest_capture(captures).select(
        "url",
        "doc_id",
        F.unix_timestamp(F.col("warc_ts")).cast("long").alias("ts_epoch"),
        "n_chars",
        "lang",
        "n_captures",
    ).orderBy("url")


def _warc_blobs(spark, sf_dir):
    """Deterministic WARC blobs built IN SPARK from documents (5 records
    per blob, ASCII headers + UTF-8 HTML payloads, spec Content-Length
    framing in octets) — so q68 exercises the real binary parse while the
    oracle predicts its output from documents alone, never parsing."""
    d = t(spark, sf_dir, "documents")
    body = F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
        F.octet_length(body).cast("string"),
        F.lit("\r\n\r\n"),
        body,
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w"),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
        F.lit(
            "\r\nWARC-Date: 2024-01-02T03:04:05Z"
            "\r\nContent-Type: application/http; msgtype=response"
            "\r\nContent-Length: "
        ),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    return (
        d.select((F.col("doc_id") / 5).cast("long").alias("blob_id"),
                 F.struct("doc_id", rec.alias("rec")).alias("s"))
        .groupBy("blob_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["rec"]
                ),
                "",
            ).alias("blob_str")
        )
        .select("blob_id", F.encode(F.col("blob_str"), "UTF-8").alias("data"))
    )


@register(
    "q68_warc_parse",
    """
    SELECT CAST(doc_id // 5 AS BIGINT) AS blob_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 5 ORDER BY doc_id)
                - 1 AS INTEGER) AS record_idx,
           'response' AS warc_type,
           'https://w' || CAST(doc_id % 9 AS VARCHAR) || '.example/p/'
             || CAST(doc_id AS VARCHAR) AS url,
           '2024-01-02T03:04:05Z' AS warc_date,
           'application/http; msgtype=response' AS content_type,
           CAST(200 AS INTEGER) AS http_status,
           '<html><body>' || text || '</body></html>' AS body,
           TRUE AS ok
    FROM documents ORDER BY blob_id, record_idx
    """,
)
def q68(spark, sf_dir):
    """WARC ingestion (sources/warc.py): the Common-Crawl container format
    parsed into typed page rows — spec Content-Length framing (payloads
    may contain the record separator), HTTP status/body split, per-blob
    error containment — via one map-side mapInArrow stage (a binary
    container parse is a sanctioned Python stage, like the DOM
    segmenter). Blobs are synthesized in Spark from documents; the oracle
    predicts the parse output from documents directly, so a framing bug
    anywhere (octet vs char lengths, separator handling, UTF-8 bodies)
    breaks the hash."""
    from py_image_toolkit_spark.sources.warc import warc_records

    return (
        warc_records(_warc_blobs(spark, sf_dir))
        .select(
            "blob_id",
            "record_idx",
            "warc_type",
            "url",
            "warc_date",
            "content_type",
            "http_status",
            F.col("body").cast("string").alias("body"),
            "ok",
        )
        .orderBy("blob_id", "record_idx")
    )


def _robots_df(spark):
    """Per-host robots.txt bodies for the q69 fixture: a decoy group
    (evilbot), a '*' group with Disallow /p/1, plus host-dependent extras —
    a longer Allow (k%2), another Disallow (k%3), an equal-length
    Allow/Disallow tie (k%5) and no-op lines (k%4: blank Disallow,
    comment). The oracle predicts verdicts from (k, path) arithmetic, so
    group scoping, no-op skipping, longest-match and the allow tie-break
    must all be implemented correctly to match."""
    k = F.col("id")
    txt = F.concat(
        F.lit("User-agent: evilbot\nDisallow: /\nUser-agent: *\nDisallow: /p/1\n"),
        F.when(
            k % 2 == 0,
            F.concat(F.lit("Allow: /p/1"), (k % 10).cast("string"), F.lit("\n")),
        ).otherwise(""),
        F.when(k % 3 == 0, "Disallow: /p/2\n").otherwise(""),
        F.when(k % 5 == 0, "Disallow: /p/3\nAllow: /p/3\n").otherwise(""),
        F.when(k % 4 == 0, "Disallow:\n# note\n").otherwise(""),
    )
    return spark.range(40).select(
        F.concat(F.lit("host-"), k.cast("string"), F.lit(".example")).alias(
            "host"
        ),
        txt.alias("robots_txt"),
    )


@register(
    "q69_robots_gate",
    f"""
    WITH {_URLS_SQL},
    paths AS (
      SELECT doc_id, url,
             lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))
               AS host,
             CASE WHEN regexp_replace(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') = '' THEN '/'
                  ELSE regexp_replace(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') END AS path
      FROM urls
    ),
    keyed AS (
      SELECT *, CAST(regexp_extract(host, 'host-([0-9]+)', 1) AS BIGINT) AS k
      FROM paths
    )
    SELECT doc_id, url, host,
           CASE WHEN k % 2 = 0
                     AND starts_with(path, '/p/1' || CAST(k % 10 AS VARCHAR))
                THEN TRUE
                WHEN starts_with(path, '/p/1') THEN FALSE
                WHEN k % 3 = 0 AND starts_with(path, '/p/2') THEN FALSE
                WHEN k % 5 = 0 AND starts_with(path, '/p/3') THEN TRUE
                ELSE TRUE END AS allowed,
           CASE WHEN k % 2 = 0
                     AND starts_with(path, '/p/1' || CAST(k % 10 AS VARCHAR))
                THEN '/p/1' || CAST(k % 10 AS VARCHAR)
                WHEN starts_with(path, '/p/1') THEN '/p/1'
                WHEN k % 3 = 0 AND starts_with(path, '/p/2') THEN '/p/2'
                WHEN k % 5 = 0 AND starts_with(path, '/p/3') THEN '/p/3'
                END AS rule_path
    FROM keyed ORDER BY doc_id
    """,
)
def q69(spark, sf_dir):
    """robots.txt compliance gating (operators/web.py robots_rules +
    robots_gate): parse per-host robots bodies into a rule table (group
    scoping by forward-fill, no-op/comment/other-agent lines dropped),
    then gate the crawl — longest matching rule wins, Allow beats Disallow
    on ties, no rule means allowed. The scale shape: pages join rules by
    HOST equijoin (bounded fan-out), prefix tests filter map-side, one
    max_by groupBy picks winners — the prefix match is never a join
    predicate. The oracle predicts every verdict from (host, path)
    arithmetic without parsing, so each parsing/precedence rule is load-
    bearing for the hash."""
    from py_image_toolkit_spark.operators.web import robots_gate, robots_rules

    return robots_gate(
        _urls_df(spark, sf_dir).select("doc_id", "url"),
        robots_rules(_robots_df(spark)),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# E. flagship: the full extraction pipeline over pages built from the
#    driver's documents table (rows-only driver check; byte-parity vs the
#    pure-Python oracle is asserted by pytest on the synthetic pages fixture)
# --------------------------------------------------------------------------

def pages_from_documents(spark, sf_dir) -> DataFrame:
    """Wrap each documents.text row into a deterministic page — Column-only;
    gives the E1→E3 pipeline a driver-table input. Every 10th-ish doc
    (doc_id % 10 == 7) is served as an UNCOMPRESSED application/pdf payload
    (BT…ET text object, %PDF- magic) so the driver's q27 gate executes the
    A2 content-routing and the PDF parse branch, not just HTML (round-3
    verdict task #6); the remaining docs are HTML."""
    d = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><meta charset="utf-8"><title>doc</title>'
              "<style>b{}</style></head><body>"
              '<header><nav><a href="/">home</a> <a href="/about">about</a></nav></header>'
              "<article>"),
        F.col("text"),
        F.lit("</article><footer>copyright <a href='/t'>terms</a></footer></body></html>"),
    )
    # PDF string escaping (\ ( ) ) — backslash first; Java replacement
    # strings double their backslashes
    esc = F.regexp_replace(F.col("text"), r"\\", r"\\\\")
    esc = F.regexp_replace(esc, r"\(", r"\\(")
    esc = F.regexp_replace(esc, r"\)", r"\\)")
    stream = F.concat(F.lit("BT ("), esc, F.lit(") Tj ET"))
    pdf = F.concat(
        F.lit("%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n2 0 obj << /Length "),
        F.length(F.encode(stream, "UTF-8")).cast("string"),
        F.lit(" >>\nstream\n"),
        stream,
        F.lit("\nendstream\nendobj\n%%EOF\n"),
    )
    payload = F.when(
        F.col("doc_id") % 10 == 7, F.encode(pdf, "UTF-8")
    ).otherwise(F.encode(html, "UTF-8"))
    return d.select(
        F.concat(F.lit("https://docs.example/"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        payload.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


@register("q27_extract_pipeline")  # rows-only: not SQL-expressible end-to-end
def q27(spark, sf_dir):
    """E1 decode → E2 segment/select/window → E3 label/merge/pivot over a
    pages table derived from documents (SURVEY.md §0.1 stages D+E1-E4).
    Correctness gate: tests/test_engine_parity.py byte-parity vs oracle;
    the geometry and labeling internals are SQL-verified by q12-q17.

    Driver-safe projection: the comparator canonicalizes by sorting column
    values, and an array<struct> column is unhashable there — serialize
    ``spans`` to a JSON string (deterministic: struct field order is fixed)."""
    from py_image_toolkit_spark.plans.pipeline import extract

    out = extract(pages_from_documents(spark, sf_dir))
    return out.withColumn("spans", F.to_json(F.col("spans"))).withColumn(
        "warc_ts", F.col("warc_ts").cast("string")
    )


# --------------------------------------------------------------------------
# F. round-5 late additions: substring-span dedup (Lee et al. relational)
# --------------------------------------------------------------------------

def _span_dedup_fixture(spark, sf_dir) -> DataFrame:
    """documents plus deterministic cross-document duplicated spans: every
    5th doc carries a shared 12-word tail and every 7th a shared 10-word
    head, so maximal duplicated runs exist at both text edges (and on the
    %35 docs, both at once) regardless of the synthetic corpus's natural
    overlap. Pure literals — the oracle rebuilds the same rows."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    tail = (
        " the quick brown fox jumps over the lazy dog near the riverbank"
    )
    head = "breaking news update from the global wire service desk today "
    txt = F.col("text")
    txt = F.when(F.col("doc_id") % 5 == 0, F.concat(txt, F.lit(tail))).otherwise(txt)
    txt = F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(head), txt)).otherwise(txt)
    return d.select("doc_id", txt.alias("text"))


_SPAN_FIXTURE_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'breaking news update from the global wire service desk today '
                  ELSE '' END ||
             text ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' the quick brown fox jumps over the lazy dog near the riverbank'
                  ELSE '' END AS text
      FROM documents
"""


@register(
    "q70_substring_span_dedup",
    f"""
    WITH fixture AS ({_SPAN_FIXTURE_SQL}),
    toks0 AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM fixture
    ),
    tok AS (
      SELECT doc_id, i - 1 AS pos, arr[i] AS tok
      FROM toks0, UNNEST(generate_series(1, len(arr))) AS t(i)
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(arr[i:i+7], ' ') AS g
      FROM toks0, UNNEST(generate_series(1, len(arr) - 7)) AS t(i)
      WHERE len(arr) >= 8
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    starts AS (
      SELECT DISTINCT doc_id, pos, 1 AS dstart
      FROM grams WHERE g IN (SELECT g FROM dup)
    ),
    cov AS (
      SELECT t.doc_id, t.pos, t.tok,
             MAX(COALESCE(s.dstart, 0)) OVER (
               PARTITION BY t.doc_id ORDER BY t.pos
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
             ) AS covered
      FROM tok t LEFT JOIN starts s ON t.doc_id = s.doc_id AND t.pos = s.pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(covered) AS BIGINT) AS dup_tokens,
           CAST((1000000 * SUM(covered)) // COUNT(*) AS BIGINT) AS dup_micro,
           COALESCE(string_agg(CASE WHEN covered = 0 THEN tok END, ' ' ORDER BY pos), '')
             AS clean_text
    FROM cov
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q70(spark, sf_dir):
    """Exact duplicated-substring removal (operators/dedup.py
    substring_span_dedup) — Lee et al. 2021's span-level dedup in
    relational form: maximal runs of word 8-grams appearing in ≥2 distinct
    docs are cut and the surviving token stream re-joined. The oracle
    recomputes coverage with its own window algebra, so gram framing,
    the k-1 lookback and span merging are all load-bearing for the hash.
    Scale shape: gram groupBy + gram semi-join + (doc,pos) equijoin +
    one doc window/agg — never doc × doc, no suffix array needed."""
    return D.substring_span_dedup(
        _span_dedup_fixture(spark, sf_dir), k=8, min_docs=2
    ).orderBy("doc_id")


@register(
    "q71_char_lm_fluency",
    """
    WITH ref AS (SELECT text FROM documents WHERE lang = 'en'),
    tri_ref AS (
      SELECT substring(text, i, 3) AS tri
      FROM ref, UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE length(text) >= 3
    ),
    tri_c AS (SELECT tri, COUNT(*) AS c_tri FROM tri_ref GROUP BY tri),
    bi_ref AS (
      SELECT substring(text, i, 2) AS bi
      FROM ref, UNNEST(generate_series(1, length(text) - 1)) AS t(i)
      WHERE length(text) >= 2
    ),
    bi_c AS (SELECT bi, COUNT(*) AS c_bi FROM bi_ref GROUP BY bi),
    model AS (
      SELECT tri, (1000000 * c_tri) // c_bi AS score_micro
      FROM tri_c JOIN bi_c ON substring(tri, 1, 2) = bi
    ),
    doc_tri AS (
      SELECT doc_id, substring(text, i, 3) AS tri
      FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE length(text) >= 3
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(SUM(CASE WHEN m.score_micro IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS matched_tri,
           CAST(SUM(COALESCE(m.score_micro, 0)) // COUNT(*) AS BIGINT) AS fluency_micro
    FROM doc_tri d LEFT JOIN model m ON d.tri = m.tri
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def q71(spark, sf_dir):
    """CCNet-style LM quality filter (operators/text_stats.py char_lm_model
    + char_lm_score): a character-trigram conditional-probability model is
    trained on the trusted slice (lang='en' — CCNet trains KenLM on
    Wikipedia) and every document is scored by its mean trigram
    probability in exact integer micro-units; non-English and gibberish
    text scores low. The model is charset-bounded (never corpus-bounded)
    so the scoring join is an explicit broadcast; doc-side work is one
    map-side explode + one doc-keyed partial-aggregated groupBy."""
    docs = t(spark, sf_dir, "documents")
    model = T.char_lm_model(docs.filter(F.col("lang") == "en"))
    return T.char_lm_score(docs, model).orderBy("doc_id")


@register(
    "q72_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    p AS (
      SELECT doc_id, arr, len(arr) AS n,
             CASE WHEN len(arr) <= 32 THEN 0
                  ELSE (len(arr) - 32 + 23) // 24 END AS kmax
      FROM toks WHERE len(arr) > 0
    ),
    c AS (
      SELECT doc_id, k AS chunk_id, k * 24 AS chunk_start, arr, n
      FROM p, UNNEST(generate_series(0, kmax)) AS t(k)
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(LEAST(32, n - chunk_start) AS BIGINT) AS n_tokens,
           array_to_string(arr[chunk_start + 1:chunk_start + 32], ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_id
    """,
)
def q72(spark, sf_dir):
    """Sliding-window chunking (operators/text_stats.py chunk_documents):
    RAG-index / context-window preparation — 32-token chunks, 8-token
    overlap (stride 24), last start = ceil((n−32)/24) so the tail is
    covered and no chunk is contained in its predecessor. Zero shuffle:
    tokenize, enumerate starts and slice are all map-side; the oracle
    re-derives the start arithmetic independently."""
    return T.chunk_documents(
        t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    ).orderBy("doc_id", "chunk_id")


@register(
    "q73_snapshot_diff",
    """
    WITH old AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END)
               AS new_hash
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 90000 AS doc_id, md5('fresh doc ' || CAST(doc_id AS VARCHAR))
      FROM documents WHERE doc_id % 17 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           o.old_hash, n.new_hash,
           CASE WHEN o.old_hash IS NULL THEN 'added'
                WHEN n.new_hash IS NULL THEN 'removed'
                WHEN o.old_hash = n.new_hash THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    ORDER BY doc_id
    """,
)
def q73(spark, sf_dir):
    """Corpus release diff (operators/corpus.py snapshot_diff): v1 = the
    documents table; v2 deterministically removes every 13th doc, revises
    every 11th and adds a fresh doc per 17th. Both snapshots reduce
    map-side to (id, md5) — text never shuffles — then one id-keyed full
    outer join classifies added/removed/changed/unchanged."""
    from py_image_toolkit_spark.operators.corpus import snapshot_diff

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 90000).alias("doc_id"),
                F.concat(F.lit("fresh doc "), F.col("doc_id").cast("string")).alias("text"),
            )
        )
    )
    return snapshot_diff(d, new).orderBy("doc_id")


_BM25_QUERIES = [
    (1, "customer query window"),
    (2, "hash join table scan"),
    (3, "vector stream data"),
    (4, "zzznope table"),
]


@register(
    "q74_bm25_topk",
    """
    WITH q(query_id, qtext) AS (
      VALUES (CAST(1 AS BIGINT), 'customer query window'),
             (CAST(2 AS BIGINT), 'hash join table scan'),
             (CAST(3 AS BIGINT), 'vector stream data'),
             (CAST(4 AS BIGINT), 'zzznope table')
    ),
    toks AS (
      SELECT doc_id, u.tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS u(tok)
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    dfk AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scal AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT COUNT(*) FROM toks) AS total_tokens
    ),
    qtok AS (
      SELECT DISTINCT query_id, u.tok
      FROM q, UNNEST(list_filter(string_split_regex(qtext, '\\s+'), x -> x <> '')) AS u(tok)
    ),
    j AS (
      SELECT qtok.query_id, tf.doc_id, tf.tf, dl.dl, dfk.df, s.n_docs, s.total_tokens,
             LEAST(1000000 * (s.n_docs - dfk.df) // (dfk.df + 1),
                   1000000000000) AS idf_micro,
             1000000 * dl.dl * s.n_docs // s.total_tokens AS rel_len_micro
      FROM tf JOIN qtok ON tf.tok = qtok.tok
              JOIN dl ON tf.doc_id = dl.doc_id
              JOIN dfk ON tf.tok = dfk.tok
              CROSS JOIN scal s
    ),
    j2 AS (
      SELECT *,
             1000000 - 750000 + 750000 * rel_len_micro // 1000000 AS norm_micro
      FROM j
    ),
    j3 AS (
      SELECT *, 1000000 * tf + 1200000 * norm_micro // 1000000 AS denom_micro
      FROM j2
    ),
    j4 AS (
      SELECT *,
             idf_micro * (1000000 * tf * 2200000 // denom_micro) // 1000000
               AS contrib_micro
      FROM j3
    ),
    scores AS (
      SELECT query_id, doc_id,
             CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
             CAST(COUNT(*) AS BIGINT) AS matched_terms
      FROM j4 GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_micro DESC, doc_id
             ) AS BIGINT) AS rank,
             doc_id, score_micro, matched_terms
      FROM scores
    )
    SELECT query_id, rank, doc_id, score_micro, matched_terms
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q74(spark, sf_dir):
    """Integer-exact BM25 retrieval (operators/corpus.py bm25_topk):
    Okapi top-5 per query, every factor in micro-units with BIGINT floor
    division (bit-reproducible; the idf is the raw (N−df)/(df+1) ratio,
    log-free, capped at 1e12 so int64 products survive web-scale N).
    Scale shape: tf/dl/df are map-side-combinable groupBys computed once
    per corpus, the small query set broadcasts onto the token equijoin,
    corpus scalars ride a broadcast single row, and per-query top-5 is
    one keyed window. The oracle recomputes the whole ladder in SQL."""
    from py_image_toolkit_spark.operators.corpus import bm25_topk

    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, qtext string")
    return bm25_topk(t(spark, sf_dir, "documents"), queries, k=5).orderBy(
        "query_id", "rank"
    )


@register(
    "q75_winnow_fingerprints",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(arr[i:i+4], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(arr) - 4)) AS t(i)
      WHERE len(arr) >= 5
    ),
    keyed AS (
      SELECT doc_id, pos,
             g || lpad(CAST(100000000 - pos AS VARCHAR), 9, '0') AS key,
             MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
      FROM grams
    ),
    picked AS (
      SELECT doc_id, pos, maxpos,
             MIN(key) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
             ) AS pick
      FROM keyed
    )
    SELECT DISTINCT doc_id,
           CAST(100000000 - CAST(substr(pick, 33, 9) AS BIGINT) AS BIGINT) AS fp_pos,
           substr(pick, 1, 32) AS fp_hash
    FROM picked WHERE pos <= maxpos - 3
    ORDER BY doc_id, fp_pos
    """,
)
def q75(spark, sf_dir):
    """Winnowing fingerprints (operators/dedup.py winnow_fingerprints):
    the MOSS selection — per window of 4 consecutive word 5-gram hashes
    keep the minimum (rightmost tie-break); distinct (pos, hash) pairs
    form each document's fingerprint, guaranteeing any shared run of
    ≥ 8 tokens shares a fingerprint at ~2/(w+1) retention. The oracle
    encodes the same tie-break through a sortable hash‖(10^8−pos) string
    key, so selection, frame width and tie direction are all hash-load-
    bearing. One doc-keyed window shuffle reused by both passes."""
    return D.winnow_fingerprints(
        t(spark, sf_dir, "documents"), k=5, w=4
    ).orderBy("doc_id", "fp_pos")


def _frontier_robots_df(spark, sf_dir):
    """Robots bodies for the q76 fixture: every even-numbered srcK host
    disallows /rel for all agents; odd hosts publish no robots."""
    hosts = (
        t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .filter(F.substring("source", 4, 10).cast("int") % 2 == 0)
    )
    return hosts.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.lit("User-agent: *\nDisallow: /rel\n").alias("robots_txt"),
    )


QUERIES_Q76_SQL = f"""
    WITH {_LINK_PAGES_SQL},
    cand AS (
      SELECT DISTINCT CASE
               WHEN regexp_matches(target, '^https?://') THEN target
               WHEN target LIKE '/%' THEN 'https://' || src || target
             END AS url
      FROM raw_links
      WHERE regexp_matches(target, '^https?://') OR target LIKE '/%'
    ),
    canon AS (SELECT DISTINCT {_canon_sql("url")} AS url FROM cand),
    crawled AS (SELECT DISTINCT {_canon_sql("url")} AS url FROM link_pages),
    fresh AS (SELECT url FROM canon ANTI JOIN crawled USING (url)),
    parts AS (
      SELECT url,
             lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))
               AS host,
             regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '')
               AS path
      FROM fresh
    ),
    gated AS (
      -- oracle predicts each gate from (host, path) arithmetic:
      -- blocklist host suffix, blocklist pattern, robots Disallow /rel
      -- on even srcK hosts
      SELECT url, host FROM parts
      WHERE NOT (host = 'src3.example.com' OR host LIKE '%.src3.example.com')
        AND NOT regexp_matches(url, '^https://src1[0-9]\\.example\\.com/a$')
        AND NOT (CAST(regexp_extract(host, '^src([0-9]+)', 1) AS INT) % 2 = 0
                 AND path LIKE '/rel%')
    ),
    ranked AS (
      SELECT url, host,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY md5(url), url)
               AS host_rank
      FROM gated
    )
    SELECT url, host, CAST(host_rank AS BIGINT) AS host_rank
    FROM ranked WHERE host_rank <= 1 ORDER BY url
    """


@register("q76_crawl_frontier", QUERIES_Q76_SQL)
def q76(spark, sf_dir):
    """Crawl-frontier assembly (operators/web.py crawl_frontier): outlink
    mining → canonicalization/distinct → already-crawled anti-join →
    blocklist → robots gate → per-host politeness budget, i.e. the
    q59/q37/q61/q69/q66 operators COMPOSED into a crawler's scheduling
    stage. The oracle predicts every gate from (host, path) arithmetic
    rather than re-running the operators, so outlink resolution,
    canonical keys, each gate's precedence and the md5 budget order are
    all load-bearing for the hash."""
    from py_image_toolkit_spark.operators.web import crawl_frontier, robots_rules

    pages = _link_pages(spark, sf_dir)
    return crawl_frontier(
        pages,
        crawled=pages.select("url"),
        robots=robots_rules(_frontier_robots_df(spark, sf_dir)),
        blocked_hosts=("src3.example.com",),
        blocked_url_patterns=(r"^https://src1[0-9]\.example\.com/a$",),
        per_host_budget=1,
    ).orderBy("url")


@register(
    "q77_winnow_neardup_pairs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 50000 AS doc_id, 'copy edition ' || text AS text
      FROM documents WHERE doc_id % 9 = 0
    ),
    toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM corpus
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(arr[i:i+4], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(arr) - 4)) AS t(i)
      WHERE len(arr) >= 5
    ),
    keyed AS (
      SELECT doc_id, pos,
             g || lpad(CAST(100000000 - pos AS VARCHAR), 9, '0') AS key,
             MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
      FROM grams
    ),
    picked AS (
      SELECT doc_id, pos, maxpos,
             MIN(key) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
             ) AS pick
      FROM keyed
    ),
    fps AS (
      SELECT DISTINCT doc_id, substr(pick, 1, 32) AS fp_hash
      FROM picked WHERE pos <= maxpos - 3
    ),
    eligible AS (
      SELECT fp_hash FROM (
        SELECT fp_hash, COUNT(DISTINCT doc_id) AS nd FROM fps GROUP BY fp_hash
      ) WHERE nd BETWEEN 2 AND 16
    ),
    pruned AS (SELECT * FROM fps WHERE fp_hash IN (SELECT fp_hash FROM eligible))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM pruned a JOIN pruned b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    ORDER BY id_a, id_b
    """,
)
def q77(spark, sf_dir):
    """MOSS near-dup pairs over winnowing fingerprints (operators/dedup.py
    winnow_neardup_pairs): pairs sharing ≥2 distinct selected hashes,
    with a 16-doc hash-frequency cap as the boilerplate/LSH-bucket guard.
    Fixture: every 9th doc gains a 'copy edition' variant sharing its
    whole text, so true near-dup pairs exist by construction. Scale
    shape: fp_hash equijoin with bounded fan-out + one pair-keyed
    groupBy — never doc × doc."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat(F.lit("copy edition "), F.col("text")).alias("text"),
        )
    )
    return D.winnow_neardup_pairs(corpus, min_shared=2, max_hash_df=16).orderBy(
        "id_a", "id_b"
    )


ORACLE_SQL["q78_release_gate"] = f"""
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 70000 AS doc_id, text, lang
      FROM documents WHERE doc_id % 19 = 0
    ),
    base AS (
      SELECT doc_id, lang,
        CAST(LENGTH(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
          AS BIGINT) AS n_tokens,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
          AS BIGINT) AS n_punct,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
          AS BIGINT) AS n_digits,
        CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
             x -> x IN ({', '.join(repr(w) for w in T.EN_STOPWORDS)})))
          AS BIGINT) AS n_stopwords
      FROM corpus
    ),
    derived AS (
      SELECT doc_id, lang, n_tokens,
        CAST(LEAST(n_chars, 500) * 1000
             + CAST(FLOOR(n_stopwords * 1000000.0 / GREATEST(n_tokens, 1) + 0.5) AS BIGINT)
             - CAST(FLOOR(n_punct * 1000000.0 / GREATEST(n_chars, 1) + 0.5) AS BIGINT)
             - n_digits * 100 AS BIGINT) AS quality_score
      FROM base
    ),
    ref AS (SELECT text FROM corpus WHERE lang = 'en'),
    tri_ref AS (
      SELECT substring(text, i, 3) AS tri
      FROM ref, UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE length(text) >= 3
    ),
    tri_c AS (SELECT tri, COUNT(*) AS c_tri FROM tri_ref GROUP BY tri),
    bi_ref AS (
      SELECT substring(text, i, 2) AS bi
      FROM ref, UNNEST(generate_series(1, length(text) - 1)) AS t(i)
      WHERE length(text) >= 2
    ),
    bi_c AS (SELECT bi, COUNT(*) AS c_bi FROM bi_ref GROUP BY bi),
    model AS (
      SELECT tri, (1000000 * c_tri) // c_bi AS score_micro
      FROM tri_c JOIN bi_c ON substring(tri, 1, 2) = bi
    ),
    doc_tri AS (
      SELECT doc_id, substring(text, i, 3) AS tri
      FROM corpus, UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE length(text) >= 3
    ),
    fl AS (
      SELECT d.doc_id, SUM(COALESCE(m.score_micro, 0)) // COUNT(*) AS fluency
      FROM doc_tri d LEFT JOIN model m ON d.tri = m.tri
      GROUP BY d.doc_id
    ),
    hashes AS (SELECT doc_id, md5(text) AS h FROM corpus),
    canon AS (SELECT h, MIN(doc_id) AS cid FROM hashes GROUP BY h),
    j AS (
      SELECT v.doc_id, v.lang, v.n_tokens, v.quality_score,
             CAST(COALESCE(f.fluency, 0) AS BIGINT) AS fluency_micro,
             c.cid
      FROM derived v
      JOIN hashes h2 ON v.doc_id = h2.doc_id
      JOIN canon c ON h2.h = c.h
      LEFT JOIN fl f ON v.doc_id = f.doc_id
    ),
    verdict AS (
      SELECT *,
        CASE WHEN lang <> 'en' THEN 'lang'
             WHEN n_tokens < 15 THEN 'too_short'
             WHEN quality_score < 250000 THEN 'low_quality'
             WHEN fluency_micro < 640000 THEN 'low_fluency'
             WHEN doc_id <> cid THEN 'exact_dup'
        END AS reason
      FROM j
    )
    SELECT doc_id, lang, n_tokens, quality_score, fluency_micro,
           reason IS NULL AS kept, reason
    FROM verdict ORDER BY doc_id
    """


@register("q78_release_gate", ORACLE_SQL["q78_release_gate"])
def q78(spark, sf_dir):
    """Corpus-release decision table (operators/corpus.py release_gate):
    every document gets kept/dropped with its FIRST failing gate as an
    auditable reason — lang → too_short → low_quality (q25's composite)
    → low_fluency (q71's char-LM) → exact_dup (md5 canonical, min id
    keeps) — the release-side sibling of q76's crawl composition. The
    fixture injects exact duplicates (every 19th doc re-appears at
    id+70000) so the dedup gate fires; precedence means a non-English
    duplicate reads 'lang', not 'exact_dup'. The oracle replays all five
    gates and the precedence chain in SQL."""
    from py_image_toolkit_spark.operators.corpus import release_gate

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + 70000).alias("doc_id"), "text", "lang"
        )
    )
    model = T.char_lm_model(corpus.filter(F.col("lang") == "en"))
    return release_gate(corpus, lm_model=model).orderBy("doc_id")


@register(
    "q79_budget_allocation",
    """
    WITH w AS (
      SELECT source,
             CAST(50000 * (1 + CAST(regexp_extract(source, '^src([0-9]+)', 1) AS INT) % 3)
               AS BIGINT) AS weight_ppm
      FROM (SELECT DISTINCT source FROM documents)
    ),
    toks AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS pfx
      FROM documents
    ),
    avail AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
      FROM toks GROUP BY source
    ),
    wsum AS (SELECT CAST(SUM(weight_ppm) AS BIGINT) AS ws FROM w),
    alloc AS (
      SELECT a.source, a.n_docs, a.avail_tokens,
             CAST(8000 * COALESCE(w.weight_ppm, 0) // s.ws AS BIGINT)
               AS target_tokens,
             LEAST(CAST(1000000 AS BIGINT),
                   1000000 * (8000 * COALESCE(w.weight_ppm, 0) // s.ws)
                     // GREATEST(a.avail_tokens, 1)) AS rate_ppm
      FROM avail a LEFT JOIN w ON a.source = w.source CROSS JOIN wsum s
    ),
    thr AS (
      SELECT *,
             CASE WHEN rate_ppm >= 1000000 THEN 'g'
                  ELSE lpad(lower(hex(4294967296 * rate_ppm // 1000000)), 8, '0')
             END AS t
      FROM alloc
    ),
    kept AS (
      SELECT k.source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(k.n_tokens) AS BIGINT) AS kept_tokens
      FROM toks k JOIN thr ON k.source = thr.source AND k.pfx < thr.t
      GROUP BY k.source
    )
    SELECT a.source, a.n_docs, a.avail_tokens, a.target_tokens, a.rate_ppm,
           CAST(COALESCE(kept.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(kept.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM thr a LEFT JOIN kept ON a.source = kept.source
    ORDER BY a.source
    """,
)
def q79(spark, sf_dir):
    """Token-budget allocation (operators/corpus.py budget_allocation):
    an 8k-token budget split across sources by ppm weights (fixture:
    weight 50k·(1+K%3) for srcK), realized as deterministic md5-threshold
    keep-rates — the static DoReMi-style mix step. Under-supplied sources
    cap at keep-everything; excess is not redistributed (auditable
    allocations). The oracle recomputes targets, rates, the hex threshold
    encoding and the kept rollup independently."""
    from py_image_toolkit_spark.operators.corpus import budget_allocation

    d = t(spark, sf_dir, "documents")
    weights = d.select("source").distinct().select(
        "source",
        (
            50000
            * (1 + F.regexp_extract(F.col("source"), r"^src([0-9]+)", 1).cast("int") % 3)
        ).cast("long").alias("weight_ppm"),
    )
    return budget_allocation(d, budget_tokens=8000, weights=weights).orderBy("source")


@register(
    "q80_pool_embeddings",
    """
    WITH g AS (
      SELECT vec_id // 8 AS doc_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS mv
      FROM embeddings
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS dim,
           CAST(FLOOR(CAST(SUM(mv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS mean_micro
    FROM g, UNNEST(generate_series(1, len(mv))) AS t(i)
    GROUP BY doc_id, i
    ORDER BY doc_id, dim
    """,
)
def q80(spark, sf_dir):
    """Chunk→document embedding pooling (operators/similarity.py
    pool_embeddings): groups of 8 chunk vectors mean-pool into one
    document vector in exact int64 micro-units (floor-micro elements,
    commutative integer zip_with fold, FLOOR of an exact-int double
    division — the kmeans-update recipe). The engine keeps vectors PACKED
    through the single group shuffle and explodes only the one pooled row
    per group; the oracle pools via the explode-first plan, so matching
    hashes prove the fold ≡ the per-dimension aggregation."""
    e = t(spark, sf_dir, "embeddings").select(
        F.expr("vec_id DIV 8").alias("doc_id"), "embedding"
    )
    return S.pool_embeddings(e).orderBy("doc_id", "dim")


def _bloom_bit_sql(j: int, g: str = "g", m: int = 65536) -> str:
    """DuckDB rendering of dedup._bloom_bit: first 4 md5 nibbles → int,
    mod m (same value as Spark's conv(substr(md5,1,4),16,10))."""
    h = f"md5('{j}|' || {g})"

    def nib(i: int) -> str:
        return f"(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"

    return f"(({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)}) % {m})"


ORACLE_SQL["q81_bloom_decontaminate"] = f"""
    WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
    ev_toks AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM ev
    ),
    ev_grams AS (
      SELECT DISTINCT array_to_string(arr[i:i+2], ' ') AS g
      FROM ev_toks, UNNEST(generate_series(1, len(arr) - 2)) AS t(i)
      WHERE len(arr) >= 3
    ),
    bloom AS (
      SELECT DISTINCT bit FROM (
        SELECT {_bloom_bit_sql(0)} AS bit FROM ev_grams
        UNION ALL SELECT {_bloom_bit_sql(1)} FROM ev_grams
        UNION ALL SELECT {_bloom_bit_sql(2)} FROM ev_grams
      )
    ),
    c_toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    cg AS (
      SELECT DISTINCT doc_id, array_to_string(arr[i:i+2], ' ') AS g
      FROM c_toks, UNNEST(generate_series(1, len(arr) - 2)) AS t(i)
      WHERE len(arr) >= 3
    ),
    flagged AS (
      SELECT doc_id, COUNT(*) AS flagged_grams
      FROM cg
      WHERE {_bloom_bit_sql(0)} IN (SELECT bit FROM bloom)
        AND {_bloom_bit_sql(1)} IN (SELECT bit FROM bloom)
        AND {_bloom_bit_sql(2)} IN (SELECT bit FROM bloom)
      GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(f.flagged_grams, 0) AS BIGINT) AS flagged_grams,
           CAST((1000000 * COALESCE(f.flagged_grams, 0)) // t.n_grams AS BIGINT)
             AS flagged_micro
    FROM totals t LEFT JOIN flagged f ON t.doc_id = f.doc_id
    ORDER BY t.doc_id
    """


@register("q81_bloom_decontaminate", ORACLE_SQL["q81_bloom_decontaminate"])
def q81(spark, sf_dir):
    """Bloom-filter decontamination (operators/dedup.py
    bloom_decontaminate) — the constant-size sibling of q44's broadcast
    probe: the eval slice (every 13th doc) folds into a 65536-bit filter
    (≤ m rows no matter how large the benchmark suite), corpus word
    trigrams are flagged when all 3 md5 probes hit. False positives are
    possible by design and deterministic — the oracle replays the same
    probes nibble-for-nibble, so the hash gate covers the FP set too.
    The corpus never shuffles for membership: probes are map-side against
    the broadcast filter, then one doc-keyed rollup."""
    d = t(spark, sf_dir, "documents")
    return D.bloom_decontaminate(
        d, d.filter(F.col("doc_id") % 13 == 0), n=3
    ).orderBy("doc_id")


_TABLE_PAGES_SQL = """
    table_pages AS (
      SELECT 'https://tbl.example/' || CAST(doc_id AS VARCHAR) AS url,
             '<html><body><p>' || text || '</p>'
             || '<table class="data"><tr><th>key</th><th>value</th></tr>'
             || '<tr><td>id</td><td>' || CAST(doc_id AS VARCHAR) || '</td></tr>'
             || '<tr><td><b>lang</b></td><td> ' || lang || ' </td></tr></table>'
             || CASE WHEN doc_id % 4 = 0
                     THEN '<table><tr><td>extra ' || source || '</td></tr></table>'
                     ELSE '' END
             || '</body></html>' AS html
      FROM documents
    )
"""


def _table_pages(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><table class="data"><tr><th>key</th><th>value</th></tr>'
              "<tr><td>id</td><td>"),
        F.col("doc_id").cast("string"),
        F.lit("</td></tr><tr><td><b>lang</b></td><td> "),
        F.col("lang"),
        F.lit(" </td></tr></table>"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("<table><tr><td>extra "), F.col("source"), F.lit("</td></tr></table>")),
        ).otherwise(""),
        F.lit("</body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://tbl.example/"), F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )


@register(
    "q82_extract_tables",
    f"""
    WITH {_TABLE_PAGES_SQL},
    t1 AS (
      SELECT url, regexp_extract_all(html, '(?is)<table[^>]*>(.*?)</table>', 1) AS ts
      FROM table_pages
    ),
    t2 AS (
      SELECT url, i - 1 AS table_idx, ts[i] AS tb
      FROM t1, UNNEST(generate_series(1, len(ts))) AS a(i)
    ),
    r1 AS (
      SELECT url, table_idx, regexp_extract_all(tb, '(?is)<tr[^>]*>(.*?)</tr>', 1) AS rs
      FROM t2
    ),
    r2 AS (
      SELECT url, table_idx, j - 1 AS row_idx, rs[j] AS rw
      FROM r1, UNNEST(generate_series(1, len(rs))) AS b(j)
    ),
    c1 AS (
      SELECT url, table_idx, row_idx,
             regexp_extract_all(rw, '(?is)<t[dh][^>]*>(.*?)</t[dh]>', 1) AS cs
      FROM r2
    ),
    c2 AS (
      SELECT url, table_idx, row_idx, k - 1 AS col_idx, cs[k] AS cl
      FROM c1, UNNEST(generate_series(1, len(cs))) AS c(k)
    )
    SELECT url, CAST(table_idx AS BIGINT) AS table_idx,
           CAST(row_idx AS BIGINT) AS row_idx,
           CAST(col_idx AS BIGINT) AS col_idx,
           trim(regexp_replace(regexp_replace(cl, '<[^>]*>', '', 'g'),
                               '\\s+', ' ', 'g')) AS cell_text
    FROM c2 ORDER BY url, table_idx, row_idx, col_idx
    """,
)
def q82(spark, sf_dir):
    """HTML table extraction (operators/html_meta.py extract_tables):
    every <table> becomes (url, table_idx, row_idx, col_idx, cell_text)
    rows — the structured-data sidecar channel next to prose extraction.
    Three lazy-quantifier regex passes (tables → rows → cells, RE2/Java
    common subset), cell text tag-stripped + whitespace-collapsed; three
    map-side posexplode levels, ZERO shuffle. Fixture mixes th/td,
    nested formatting tags, padded whitespace and a second table on
    every 4th page; the oracle replays the identical patterns."""
    from py_image_toolkit_spark.operators.html_meta import extract_tables

    return extract_tables(_table_pages(spark, sf_dir)).orderBy(
        "url", "table_idx", "row_idx", "col_idx"
    )


_HEADING_PAGES_SQL = """
    heading_pages AS (
      SELECT 'https://hd.example/' || CAST(doc_id AS VARCHAR) AS url,
             '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
             || '<p>' || text || '</p>'
             || CASE WHEN doc_id % 3 = 0
                     THEN '<h2> Section <em>' || lang || '</em> </h2><p>x</p>'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN '<H3 class="s">Deep</H3>' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN '<h2>bad</h3>' ELSE '' END
             || '</body></html>' AS html
      FROM documents
    )
"""


def _heading_pages(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("<h2> Section <em>"), F.col("lang"), F.lit("</em> </h2><p>x</p>")),
        ).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, '<H3 class="s">Deep</H3>').otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "<h2>bad</h3>").otherwise(""),
        F.lit("</body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://hd.example/"), F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )


@register(
    "q83_extract_headings",
    f"""
    WITH {_HEADING_PAGES_SQL},
    m1 AS (
      SELECT url,
             regexp_extract_all(html, '(?is)<h([1-6])[^>]*>(.*?)</h([1-6])>', 0) AS hs
      FROM heading_pages
    ),
    m2 AS (
      SELECT url, i - 1 AS heading_idx, hs[i] AS h
      FROM m1, UNNEST(generate_series(1, len(hs))) AS a(i)
    ),
    lv AS (
      SELECT url, heading_idx,
             regexp_extract(h, '(?is)^<h([1-6])', 1) AS open_lvl,
             regexp_extract(h, '(?is)</h([1-6])>$', 1) AS close_lvl,
             regexp_extract(h, '(?is)<h([1-6])[^>]*>(.*?)</h([1-6])>', 2) AS body
      FROM m2
    )
    SELECT url, CAST(heading_idx AS BIGINT) AS heading_idx,
           CAST(open_lvl AS BIGINT) AS level,
           trim(regexp_replace(regexp_replace(body, '<[^>]*>', '', 'g'),
                               '\\s+', ' ', 'g')) AS heading_text
    FROM lv WHERE open_lvl = close_lvl
    ORDER BY url, heading_idx
    """,
)
def q83(spark, sf_dir):
    """Heading-outline extraction (operators/html_meta.py
    extract_headings): the document skeleton for chunk titling and
    structure-aware quality signals. Open and close levels are CAPTURED
    and compared (RE2 has no backreferences — the pattern stays in the
    engine/oracle common subset), so the fixture's mismatched <h2>…</h3>
    pair drops; mixed-case tags, nested inline markup and padded
    whitespace are exercised. One map-side posexplode, zero shuffle."""
    from py_image_toolkit_spark.operators.html_meta import extract_headings

    return extract_headings(_heading_pages(spark, sf_dir)).orderBy(
        "url", "heading_idx"
    )


def _delay_robots_df(spark):
    """Robots bodies for q84: even-K hosts publish robots — K%6==0 a '*'
    group with NO Crawl-delay (default applies), K%4==0 the '*' group
    LAST (capture-to-end path), otherwise decoy agent groups on BOTH
    sides of '*' (lazy capture path) — each decoy carries a Crawl-delay
    that must NOT leak. Odd hosts publish nothing."""
    k = F.col("id")
    body = (
        F.when(k % 6 == 0, F.lit("User-agent: *\nDisallow: /x\n"))
        .when(
            k % 4 == 0,
            F.concat(
                F.lit("User-agent: evilbot\nCrawl-delay: 99\nUser-agent: *\nCrawl-delay: "),
                (k / 2 + 1).cast("long").cast("string"),
                F.lit("\n"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("User-agent: evilbot\nCrawl-delay: 99\nUser-agent: *\nDisallow: /x\nCrawl-delay: "),
                (k / 2 + 1).cast("long").cast("string"),
                F.lit("\nUser-agent: other\nCrawl-delay: 77\n"),
            )
        )
    )
    return (
        spark.range(0, 40, 2)
        .select(
            F.concat(F.lit("host-"), k.cast("string"), F.lit(".example")).alias("host"),
            body.alias("robots_txt"),
        )
    )


@register(
    "q84_politeness_schedule",
    f"""
    WITH {_URLS_SQL},
    hosted AS (
      SELECT doc_id, lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))
               AS host
      FROM urls
    ),
    ranked AS (
      SELECT doc_id, host,
             ROW_NUMBER() OVER (PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS host_rank
      FROM hosted
    ),
    with_k AS (
      SELECT doc_id, host, host_rank,
             CAST(regexp_extract(host, '^host-([0-9]+)', 1) AS BIGINT) AS k
      FROM ranked
    )
    SELECT doc_id, host, CAST(host_rank AS BIGINT) AS host_rank,
           CAST(CASE WHEN k % 2 = 1 THEN 1
                     WHEN k % 6 = 0 THEN 1
                     ELSE k // 2 + 1 END AS BIGINT) AS crawl_delay_s,
           CAST((host_rank - 1) * (CASE WHEN k % 2 = 1 THEN 1
                                        WHEN k % 6 = 0 THEN 1
                                        ELSE k // 2 + 1 END) AS BIGINT)
             AS fetch_offset_s
    FROM with_k ORDER BY doc_id
    """,
)
def q84(spark, sf_dir):
    """Crawl politeness scheduling (operators/web.py crawl_delays +
    politeness_schedule): per-host Crawl-delay parsed from the '*' robots
    group — isolated without lookahead (RE2 constraint), decoy agent
    groups on either side must not leak, delay-less groups and
    robots-less hosts default — then the k-th URL of each host fetches at
    (k−1)·delay seconds. The oracle predicts every delay from host-number
    arithmetic, so group scoping and both capture paths are load-bearing.
    One host equijoin against a broadcast hosts-sized delay table; the
    rank reuses host_cap's two-phase skew-sharded machinery."""
    from py_image_toolkit_spark.operators.web import (
        crawl_delays,
        host_cap,
        politeness_schedule,
    )

    ranked = host_cap(_urls_df(spark, sf_dir), cap=10**6).select(
        "doc_id", "host", "host_rank"
    )
    return politeness_schedule(ranked, crawl_delays(_delay_robots_df(spark))).select(
        "doc_id", "host", "host_rank", "crawl_delay_s", "fetch_offset_s"
    ).orderBy("doc_id")


_SITEMAP_SQL = """
    sitemaps AS (
      SELECT 'sm-' || CAST(doc_id AS VARCHAR) || '.example' AS host,
             '<?xml version="1.0"?><urlset>'
             || '<url><loc> https://' || source || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) || ' </loc>'
             || CASE WHEN doc_id % 2 = 0
                     THEN '<lastmod>2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                          || '-01</lastmod>'
                     ELSE '' END
             || '</url>'
             || '<url><loc>https://' || source || '.example.com/alt/'
             || CAST(doc_id AS VARCHAR) || '</loc></url>'
             || CASE WHEN doc_id % 6 = 0
                     THEN '<sitemap><loc>https://' || source
                          || '.example.com/sitemap-' || CAST(doc_id AS VARCHAR)
                          || '.xml</loc><lastmod>2024-01-02</lastmod></sitemap>'
                     ELSE '' END
             || '</urlset>' AS sitemap_xml
      FROM documents
    )
"""


def _sitemap_df(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://'),
        F.col("source"),
        F.lit(".example.com/doc/"),
        did,
        F.lit(" </loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<lastmod>2024-0"), (F.col("doc_id") % 9 + 1).cast("string"), F.lit("-01</lastmod>")),
        ).otherwise(""),
        F.lit("</url><url><loc>https://"),
        F.col("source"),
        F.lit(".example.com/alt/"),
        did,
        F.lit("</loc></url>"),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("<sitemap><loc>https://"),
                F.col("source"),
                F.lit(".example.com/sitemap-"),
                did,
                F.lit(".xml</loc><lastmod>2024-01-02</lastmod></sitemap>"),
            ),
        ).otherwise(""),
        F.lit("</urlset>"),
    )
    return d.select(
        F.concat(F.lit("sm-"), did, F.lit(".example")).alias("host"),
        xml.alias("sitemap_xml"),
    )


@register(
    "q85_sitemap_entries",
    f"""
    WITH {_SITEMAP_SQL},
    b AS (
      SELECT host,
             list_concat(
               regexp_extract_all(sitemap_xml, '(?is)(<url>.*?</url>)', 1),
               regexp_extract_all(sitemap_xml, '(?is)(<sitemap>.*?</sitemap>)', 1)
             ) AS blocks
      FROM sitemaps
    ),
    e AS (
      SELECT host, i - 1 AS entry_idx, blocks[i] AS blk
      FROM b, UNNEST(generate_series(1, len(blocks))) AS t(i)
    )
    SELECT host, CAST(entry_idx AS BIGINT) AS entry_idx,
           regexp_extract(blk, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
           CASE WHEN regexp_extract(blk, '(?is)<lastmod>\\s*(.*?)\\s*</lastmod>', 1) <> ''
                THEN regexp_extract(blk, '(?is)<lastmod>\\s*(.*?)\\s*</lastmod>', 1)
           END AS lastmod,
           blk LIKE '<sitemap>%' AS is_index
    FROM e
    WHERE regexp_extract(blk, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) <> ''
    ORDER BY host, entry_idx
    """,
)
def q85(spark, sf_dir):
    """Sitemap URL discovery (operators/web.py sitemap_entries): the
    crawler's second frontier source — <url> entries with optional
    lastmod (kept as W3C-datetime strings; schedulers compare them
    lexicographically) and <sitemap> index entries flagged for another
    parse round. Regex-over-bytes in the RE2/Java common subset,
    whitespace-padded <loc> trimmed by the pattern; one map-side
    posexplode, zero shuffle. The oracle rebuilds entry order from the
    same two-block concatenation."""
    from py_image_toolkit_spark.operators.web import sitemap_entries

    return sitemap_entries(_sitemap_df(spark, sf_dir)).orderBy("host", "entry_idx")


ORACLE_SQL["q86_source_health"] = f"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 60000 AS doc_id, text, 'mirror' AS source
      FROM documents WHERE doc_id % 10 = 0
    ),
    base AS (
      SELECT doc_id, source,
        CAST(LENGTH(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
          AS BIGINT) AS n_tokens,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
          AS BIGINT) AS n_punct,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
          AS BIGINT) AS n_digits,
        CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
             x -> x IN ({', '.join(repr(w) for w in T.EN_STOPWORDS)})))
          AS BIGINT) AS n_stopwords,
        md5(text) AS h
      FROM corpus
    ),
    scored AS (
      SELECT doc_id, source, n_tokens, h,
        CAST(LEAST(n_chars, 500) * 1000
             + CAST(FLOOR(n_stopwords * 1000000.0 / GREATEST(n_tokens, 1) + 0.5) AS BIGINT)
             - CAST(FLOOR(n_punct * 1000000.0 / GREATEST(n_chars, 1) + 0.5) AS BIGINT)
             - n_digits * 100 AS BIGINT) AS quality_score
      FROM base
    ),
    canon AS (SELECT h, MIN(doc_id) AS first_id FROM scored GROUP BY h)
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN s.doc_id <> c.first_id THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_docs,
           CAST(SUM(CASE WHEN s.n_tokens < 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS short_docs,
           CAST(SUM(s.quality_score) // COUNT(*) AS BIGINT) AS mean_quality_micro
    FROM scored s JOIN canon c ON s.h = c.h
    GROUP BY s.source ORDER BY s.source
    """


@register("q86_source_health", ORACLE_SQL["q86_source_health"])
def q86(spark, sf_dir):
    """Per-source corpus health rollup (operators/corpus.py
    source_health): volume, cross-source duplication pressure (the
    fixture adds a 'mirror' feed re-serving every 10th doc — its rows
    read 100% dup while the original feeds stay clean), short-doc share
    and integer-exact mean quality. Hash groupBy + id equijoin for dup
    detection, then one source-keyed groupBy of algebraic aggregates."""
    from py_image_toolkit_spark.operators.corpus import source_health

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 60000).alias("doc_id"), "text",
            F.lit("mirror").alias("source"),
        )
    )
    return source_health(corpus).orderBy("source")


def _elig_pages(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 20).cast("string")
    html = F.concat(
        F.lit('<html><head><meta name="robots" content="'),
        F.when(F.col("doc_id") % 9 == 0, "noindex, nofollow").otherwise("index, follow"),
        F.lit('"><title>t</title></head><body>'),
        F.col("text"),
        F.lit("</body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://g-"), k, F.lit(".example/a/"), did).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def _elig_robots(spark):
    # every 4th host disallows the whole /a/ prefix for all agents
    k = F.col("id")
    return spark.range(0, 20, 4).select(
        F.concat(F.lit("g-"), k.cast("string"), F.lit(".example")).alias("host"),
        F.lit("User-agent: *\nDisallow: /a/\n").alias("robots_txt"),
    )


@register(
    "q87_training_eligibility",
    """
    WITH pages AS (
      SELECT doc_id,
             'https://g-' || CAST(doc_id % 20 AS VARCHAR) || '.example/a/'
               || CAST(doc_id AS VARCHAR) AS url,
             doc_id % 20 AS k
      FROM documents
    )
    SELECT url,
           'g-' || CAST(k AS VARCHAR) || '.example' AS host,
           CASE WHEN k = 7 THEN NULL
                WHEN doc_id % 10 = 3 THEN NULL
                WHEN k % 4 = 0 THEN NULL
                WHEN doc_id % 9 = 0 THEN NULL
                ELSE TRUE END IS NOT NULL AS eligible,
           CASE WHEN k = 7 THEN 'blocked_host'
                WHEN doc_id % 10 = 3 THEN 'blocked_pattern'
                WHEN k % 4 = 0 THEN 'robots_disallow'
                WHEN doc_id % 9 = 0 THEN 'meta_noindex'
           END AS reason
    FROM pages ORDER BY url
    """,
)
def q87(spark, sf_dir):
    """Post-fetch training-eligibility verdict (operators/web.py
    training_eligibility): blocklist (host g-7, pattern …/a/N ending in
    3) → robots Disallow /a/ on every 4th host → in-document meta
    noindex (every 9th doc), first failing gate wins. The oracle
    predicts every verdict purely from (host, doc_id) arithmetic — so
    the meta regex, robots longest-match and gate precedence are all
    load-bearing. Composition of url_filter ∘ robots_gate ∘
    extract_meta: html never shuffles, blocklists are plan literals,
    robots fan out by host equijoin."""
    from py_image_toolkit_spark.operators.web import (
        robots_rules,
        training_eligibility,
    )

    return training_eligibility(
        _elig_pages(spark, sf_dir),
        robots=robots_rules(_elig_robots(spark)),
        blocked_hosts=("g-7.example",),
        blocked_url_patterns=(r"^https://g-[0-9]+\.example/a/[0-9]*3$",),
    ).orderBy("url")


@register(
    "q88_gap_sessions",
    """
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS pus
      FROM events
    ),
    f AS (
      SELECT user_id, event_id, us,
             CASE WHEN pus IS NULL OR us - pus > 600 * 1000000 THEN 1 ELSE 0 END
               AS new_s
      FROM o
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM f
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(MAX(us) AS BIGINT) AS session_end_us,
           CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q88(spark, sf_dir):
    """Time-gap sessionization (operators/events.py sessionize_gaps): the
    classic web session — a user's new session starts after a >10-minute
    silence (600 s on this fixture's ~3-minute event cadence, so real
    multi-session splits occur). All timestamp math in exact int64 epoch
    micros (unix_micros ≡ DuckDB epoch_us — parquet's native unit), ties
    broken by event id. One user-keyed window shuffle reused by the lag,
    the running sum AND the session rollup; aggregates all algebraic."""
    from py_image_toolkit_spark.operators.events import sessionize_gaps

    return sessionize_gaps(
        t(spark, sf_dir, "events"), gap_s=600
    ).orderBy("user_id", "session_id")


_CMS_PROBES = ["table", "scan", "window", "the", "zzz-absent-token", "spark", "value"]


@register(
    "q89_cms_frequencies",
    f"""
    WITH toks AS (
      SELECT t.tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS t(tok)
    ),
    cells AS (
      SELECT row_id AS row, col, COUNT(*) AS cnt FROM (
        SELECT 0 AS row_id, {_bloom_bit_sql(0, 'tok', 1024)} AS col FROM toks
        UNION ALL SELECT 1, {_bloom_bit_sql(1, 'tok', 1024)} FROM toks
        UNION ALL SELECT 2, {_bloom_bit_sql(2, 'tok', 1024)} FROM toks
      ) GROUP BY row_id, col
    ),
    probes(tok) AS (
      VALUES {', '.join("('" + p + "')" for p in _CMS_PROBES)}
    ),
    pr AS (
      SELECT tok, 0 AS row, {_bloom_bit_sql(0, 'tok', 1024)} AS col FROM probes
      UNION ALL SELECT tok, 1, {_bloom_bit_sql(1, 'tok', 1024)} FROM probes
      UNION ALL SELECT tok, 2, {_bloom_bit_sql(2, 'tok', 1024)} FROM probes
    )
    SELECT pr.tok, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
    FROM pr LEFT JOIN cells c ON pr.row = c.row AND pr.col = c.col
    GROUP BY pr.tok ORDER BY pr.tok
    """,
)
def q89(spark, sf_dir):
    """Count-min-sketch frequency estimation (operators/dedup.py
    cms_build + cms_estimate): the frequency analog of q81's Bloom
    filter — token occurrences fold into a 3×1024 cell table (constant
    in vocabulary size, one map-side-combinable groupBy), probes read
    min-over-rows with the classic one-sided est ≥ truth guarantee.
    Estimates are deterministic (md5-nibble probe family) so the oracle
    hash covers collision overestimates too; the absent-token probe
    exercises the zero path."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(D.tokens_array(F.col("text"))).alias("tok")
    )
    sketch = D.cms_build(toks, depth=3, width=1024)
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], "tok string")
    return D.cms_estimate(probes, sketch, depth=3, width=1024).orderBy("tok")


@register(
    "q90_kmv_distinct",
    """
    WITH toks AS (
      SELECT t.tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS t(tok)
    ),
    hs AS (
      SELECT DISTINCT
        (instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 268435456
        + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 16777216
        + (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 1048576
        + (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) * 65536
        + (instr('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) AS h
      FROM toks
    ),
    mins AS (SELECT h FROM hs ORDER BY h LIMIT 64),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch,
             CAST(MAX(h) AS BIGINT) AS kth_hash32
      FROM mins
    )
    SELECT n_sketch, kth_hash32,
           CAST(CASE WHEN n_sketch < 64 THEN n_sketch
                     ELSE 63 * 4294967296 // kth_hash32 END AS BIGINT)
             AS est_distinct
    FROM agg
    """,
)
def q90(spark, sf_dir):
    """KMV distinct-count sketch (operators/dedup.py kmv_distinct) over
    the corpus token stream: cardinality estimation chosen over HLL
    because the estimate is a deterministic function of md5 order —
    est = 63·2^32 DIV kth-smallest 32-bit hash — so the oracle hash
    covers the estimator itself, not just plumbing. Distinct-by-hash is
    one map-side-combinable groupBy; the k minima reduce via
    TakeOrderedAndProject, never a global sort."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(D.tokens_array(F.col("text"))).alias("tok")
    )
    return D.kmv_distinct(toks, k=64)


@register(
    "q91_weighted_sample_topk",
    """
    WITH w AS (
      SELECT doc_id,
             CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2
                       WHEN 'fr' THEN 2 WHEN 'es' THEN 1 ELSE 0 END AS weight
      FROM documents
    ),
    pri AS (
      SELECT doc_id, CAST(weight AS BIGINT) AS weight,
             ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1))
               // weight AS priority
      FROM w WHERE weight > 0
    )
    SELECT doc_id, weight, CAST(priority AS BIGINT) AS priority,
           CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT)
             AS sample_rank
    FROM pri ORDER BY priority, doc_id LIMIT 50
    """,
)
def q91(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators/corpus.py weighted_topk_sample): Efraimidis–Spirakis with
    the md5 hash as the uniform draw — priority = hash32 DIV weight,
    keep the 50 lowest. Weights from language tier (en 4× … zh excluded
    at 0), so the sample over-represents the high-weight class while
    every weighted doc keeps an auditable chance, and the whole draw
    replays bit-identically (which the float-pow textbook form cannot
    give a hash gate). Per-row priority + TakeOrderedAndProject — never
    a global sort."""
    from py_image_toolkit_spark.operators.corpus import weighted_topk_sample

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang").isin("de", "fr"), 2)
        .when(F.col("lang") == "es", 1)
        .otherwise(0)
        .alias("weight"),
    )
    return weighted_topk_sample(d, "weight", k=50).orderBy("sample_rank")


ORACLE_SQL["q92_rrf_fusion"] = f"""
    WITH sys_a AS ({ORACLE_SQL["q22_ann_cosine_topk"]}),
    sys_b AS ({ORACLE_SQL["q23_ann_lsh_bucketed"]}),
    u AS (
      SELECT probe_id, corpus_id, rank FROM sys_a
      UNION ALL SELECT probe_id, corpus_id, rank FROM sys_b
    ),
    fused AS (
      SELECT probe_id, corpus_id,
             CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
             CAST(COUNT(*) AS BIGINT) AS n_systems
      FROM u GROUP BY probe_id, corpus_id
    )
    SELECT probe_id, rank, corpus_id, rrf_micro, n_systems FROM (
      SELECT probe_id, corpus_id, rrf_micro, n_systems,
             CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY rrf_micro DESC, corpus_id) AS BIGINT) AS rank
      FROM fused
    ) WHERE rank <= 10 ORDER BY probe_id, rank
    """


@register("q92_rrf_fusion", ORACLE_SQL["q92_rrf_fusion"])
def q92(spark, sf_dir):
    """Reciprocal-rank fusion (operators/similarity.py rrf_fuse) of the
    exact cosine ranking (q22) and the sign-LSH ranking (q23): the
    standard retrieval ensemble — only ranks matter, score = Σ 1e6 DIV
    (60 + rank) in exact integer micro-units, items missing from a
    system contribute nothing, ties break by item id. The fusion layer
    touches only the k·probes ranking rows (one union + one keyed
    groupBy + one per-probe window); the corpora behind the rankings
    are never re-read. The oracle composes the two systems' own oracle
    CTEs, so the fusion is verified on top of independently verified
    inputs."""
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    probes = emb.filter(F.col("vec_id") < 5)
    a = S.cosine_topk(corpus, probes, k=10)
    b = S.cosine_topk_lsh(corpus, probes, k=10)
    return S.rrf_fuse([a, b], k=10).orderBy("probe_id", "rank")


_SNIPPET_TERMS = ("customer", "query", "window", "stream")


@register(
    "q93_best_snippet",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    tok AS (
      SELECT doc_id, i - 1 AS pos,
             CASE WHEN arr[i] IN ({', '.join(repr(t) for t in _SNIPPET_TERMS)})
                  THEN 1 ELSE 0 END AS hit
      FROM toks, UNNEST(generate_series(1, len(arr))) AS t(i)
    ),
    scored AS (
      SELECT doc_id, pos,
             SUM(hit) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS hits
      FROM tok
    ),
    best AS (
      SELECT doc_id, pos AS snippet_start, hits AS snippet_hits FROM (
        SELECT doc_id, pos, hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, pos) AS r
        FROM scored
      ) WHERE r = 1
    )
    SELECT b.doc_id, CAST(b.snippet_start AS BIGINT) AS snippet_start,
           CAST(b.snippet_hits AS BIGINT) AS snippet_hits,
           array_to_string(t.arr[b.snippet_start + 1:b.snippet_start + 12], ' ')
             AS snippet
    FROM best b JOIN toks t ON b.doc_id = t.doc_id
    WHERE b.snippet_hits > 0
    ORDER BY b.doc_id
    """,
)
def q93(spark, sf_dir):
    """Retrieval snippet generation (operators/corpus.py best_snippet):
    per document, the 12-token window with the most query-term hits
    (earliest wins ties) — the display layer a search stack runs after
    q74's ranking. Query terms fold into the plan as a literal isin (no
    join); density is one doc-keyed frame window; the winner is a max_by
    aggregation (not a second window pass); the snippet re-joins from
    the token array map-side. Docs with zero hits drop."""
    from py_image_toolkit_spark.operators.corpus import best_snippet

    return best_snippet(
        t(spark, sf_dir, "documents"), _SNIPPET_TERMS, window_tokens=12
    ).orderBy("doc_id")


_SCRIPT_FIXTURE_SQL = """
    script_docs AS (
      SELECT doc_id,
             text
             || CASE WHEN lang = 'zh' THEN ' 数据处理系统与查询引擎' ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' 한국어 토큰 처리' ELSE '' END
             || CASE WHEN doc_id % 17 = 0 THEN ' обработка данных' ELSE '' END
             || CASE WHEN doc_id % 19 = 0 THEN ' معالجة البيانات' ELSE '' END
               AS text
      FROM documents
    )
"""


def _script_docs(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    txt = F.concat(
        txt,
        F.when(F.col("lang") == "zh", " 数据处理系统与查询引擎").otherwise(""),
        F.when(F.col("doc_id") % 13 == 0, " 한국어 토큰 처리").otherwise(""),
        F.when(F.col("doc_id") % 17 == 0, " обработка данных").otherwise(""),
        F.when(F.col("doc_id") % 19 == 0, " معالجة البيانات").otherwise(""),
    )
    return d.select("doc_id", txt.alias("text"))


def _script_count_sql(cls: str) -> str:
    return f"(LENGTH(text) - LENGTH(regexp_replace(text, '[{cls}]', '', 'g')))"


@register(
    "q94_script_mix",
    f"""
    WITH {_SCRIPT_FIXTURE_SQL},
    c AS (
      SELECT doc_id,
             CAST({_script_count_sql('A-Za-z')} AS BIGINT) AS n_latin,
             CAST({_script_count_sql('Ѐ-ӿ')} AS BIGINT) AS n_cyrillic,
             CAST({_script_count_sql('؀-ۿ')} AS BIGINT) AS n_arabic,
             CAST({_script_count_sql('가-힣')} AS BIGINT) AS n_hangul,
             CAST({_script_count_sql('一-鿿')} AS BIGINT) AS n_cjk,
             CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
               AS n_nonspace
      FROM script_docs
    )
    SELECT doc_id, n_latin, n_cyrillic, n_arabic, n_hangul, n_cjk, n_nonspace,
           CASE GREATEST(n_latin, n_cyrillic, n_arabic, n_hangul, n_cjk)
                WHEN n_latin THEN 'latin'
                WHEN n_cyrillic THEN 'cyrillic'
                WHEN n_arabic THEN 'arabic'
                WHEN n_hangul THEN 'hangul'
                ELSE 'cjk' END AS dominant_script,
           CAST(1000000 * GREATEST(n_latin, n_cyrillic, n_arabic, n_hangul, n_cjk)
                // GREATEST(n_nonspace, 1) AS BIGINT) AS dominant_ppm
    FROM c ORDER BY doc_id
    """,
)
def q94(spark, sf_dir):
    """Unicode script profiling (operators/text_stats.py script_mix):
    per-doc character counts in the major script blocks, the dominant
    script (first-in-table tie-break) and its exact ppm of non-space
    characters — the router in front of script-specific tokenizers/LM
    filters and a mixed-script spam signal. The fixture appends CJK /
    Hangul / Cyrillic / Arabic tails on deterministic residues so every
    branch carries mass. Fixed codegen regexp chain, zero shuffle."""
    from py_image_toolkit_spark.operators.text_stats import script_mix

    return script_mix(_script_docs(spark, sf_dir)).orderBy("doc_id")


@register(
    "q95_robots_sitemaps",
    """
    WITH bodies AS (
      SELECT 'rs-' || CAST(doc_id % 25 AS VARCHAR) || '.example' AS host,
             'User-agent: *' || chr(10) || 'Disallow: /x' || chr(10)
             || CASE WHEN doc_id % 25 % 2 = 0
                     THEN 'Sitemap: https://rs-' || CAST(doc_id % 25 AS VARCHAR)
                          || '.example/sitemap.xml' || chr(10)
                     ELSE '' END
             || CASE WHEN doc_id % 25 % 3 = 0
                     THEN '  sitemap:   https://cdn.example/rs-'
                          || CAST(doc_id % 25 AS VARCHAR) || '.xml  ' || chr(10)
                     ELSE '' END AS robots_txt
      FROM documents WHERE doc_id < 25
    ),
    m AS (
      SELECT host, regexp_extract_all(robots_txt,
               '(?im)^[ \\t]*Sitemap:[ \\t]*([^\\r\\n]+)', 1) AS urls
      FROM bodies
    )
    SELECT host, CAST(i - 1 AS BIGINT) AS sitemap_idx, trim(urls[i]) AS sitemap_url
    FROM m, UNNEST(generate_series(1, len(urls))) AS t(i)
    ORDER BY host, sitemap_idx
    """,
)
def q95(spark, sf_dir):
    """Sitemap directives from robots.txt (operators/web.py
    robots_sitemaps) — the spec makes these group-independent (no agent
    scoping, unlike Crawl-delay), collected in body order; the fixture
    mixes canonical lines, lowercase+padded variants and hosts with
    zero/one/two directives. One map-side posexplode, zero shuffle."""
    from py_image_toolkit_spark.operators.web import robots_sitemaps

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    k = (F.col("doc_id") % 25).cast("string")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /x\n"),
        F.when(
            F.col("doc_id") % 25 % 2 == 0,
            F.concat(F.lit("Sitemap: https://rs-"), k, F.lit(".example/sitemap.xml\n")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 25 % 3 == 0,
            F.concat(F.lit("  sitemap:   https://cdn.example/rs-"), k, F.lit(".xml  \n")),
        ).otherwise(""),
    )
    robots = d.select(
        F.concat(F.lit("rs-"), k, F.lit(".example")).alias("host"),
        body.alias("robots_txt"),
    )
    return robots_sitemaps(robots).orderBy("host", "sitemap_idx")


@register(
    "q96_url_templates",
    f"""
    WITH {_URLS_SQL},
    p AS (
      SELECT lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))
               AS host,
             regexp_replace(
               regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
               '[0-9]+', '{{n}}', 'g') AS template
      FROM urls
    )
    SELECT host, CASE WHEN template = '' THEN '/' ELSE template END AS template,
           CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM p GROUP BY host, template
    ORDER BY n_urls DESC, host, template LIMIT 50
    """,
)
def q96(spark, sf_dir):
    """URL path-template mining (operators/web.py url_templates): digit
    runs collapse to {{n}} and the dominant per-host URL families
    emerge — crawl-budget shaping and the source of q61-style pattern
    blocklists. Map-side regex chain + one template-keyed
    map-side-combinable groupBy + TakeOrderedAndProject top-k."""
    from py_image_toolkit_spark.operators.web import url_templates

    return url_templates(_urls_df(spark, sf_dir), k=50).orderBy(
        F.desc("n_urls"), "host", "template"
    )


@register(
    "q97_host_language_diversity",
    f"""
    WITH {_URLS_SQL},
    hosted AS (
      SELECT lower(regexp_replace(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))
               AS host, lang
      FROM urls
    ),
    per_lang AS (
      SELECT host, lang, CAST(COUNT(*) AS BIGINT) AS n_l
      FROM hosted GROUP BY host, lang
    )
    SELECT host,
           CAST(SUM(n_l) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(1000000 - 1000000 * SUM(n_l * n_l) // (SUM(n_l) * SUM(n_l))
                AS BIGINT) AS diversity_micro
    FROM per_lang GROUP BY host ORDER BY host
    """,
)
def q97(spark, sf_dir):
    """Per-host language diversity (operators/web.py
    host_language_diversity): the Gini–Simpson index 1e6 − 1e6·Σn_l²
    DIV n² — integer-exact where Shannon entropy is not; 0 means
    monolingual, high means aggregator/spam-mill mix. One (host, lang)
    map-side-combinable groupBy + one host rollup."""
    from py_image_toolkit_spark.operators.web import host_language_diversity

    return host_language_diversity(_urls_df(spark, sf_dir)).orderBy("host")


@register(
    "q98_shard_assignment",
    """
    WITH per AS (
      SELECT ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1)) % 16
               AS shard,
             n_chars
      FROM documents
    ),
    agg AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_bytes
      FROM per GROUP BY shard
    ),
    tot AS (SELECT CAST(SUM(total_bytes) AS BIGINT) AS grand FROM agg)
    SELECT shard, n_docs, total_bytes,
           CAST(1000000 * total_bytes * 16 // grand - 1000000 AS BIGINT) AS dev_ppm
    FROM agg, tot ORDER BY shard
    """,
)
def q98(spark, sf_dir):
    """Deterministic output sharding + balance report (operators/web.py
    shard_assignment): md5(id) mod 16 assignment (rerun-stable,
    engine-independent) with each shard's exact ppm deviation from the
    mean byte load — the check that says whether hash sharding suffices
    or size-aware packing is needed for a release. Per-row Column
    assignment, one shard groupBy, broadcast grand total."""
    from py_image_toolkit_spark.operators.web import shard_assignment

    return shard_assignment(
        t(spark, sf_dir, "documents"), n_shards=16
    ).orderBy("shard")


@register(
    "q99_link_density",
    "WITH " + _LINK_PAGES_SQL.strip().rstrip() + """
    SELECT url,
           CAST(len(regexp_extract_all(html, '(?i)<a[\\s>]')) AS BIGINT)
             AS n_anchors,
           CAST(LENGTH(html) AS BIGINT) AS n_chars,
           CAST(10000 * len(regexp_extract_all(html, '(?i)<a[\\s>]'))
                // GREATEST(LENGTH(html), 1) AS BIGINT) AS anchors_per_10k
    FROM link_pages ORDER BY url
    """,
)
def q99(spark, sf_dir):
    """Outlink-density quality gate (operators/web.py link_density):
    anchors per 10k characters of raw HTML — link farms and nav-only
    pages score high, articles low; the page-level form of the
    boilerpipe block ratio, run BEFORE the expensive DOM parse so junk
    pages never reach it. One map-side regexp count + length, exact
    BIGINT ratio, html never shuffles."""
    from py_image_toolkit_spark.operators.web import link_density

    pages = _link_pages(spark, sf_dir).select(
        "url", F.encode(F.col("html"), "UTF-8").alias("html")
    )
    return link_density(pages).orderBy("url")


@register(
    "q100_vocab_oov_rate",
    """
    WITH toks AS (
      SELECT lang, t.tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS t(tok)
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks WHERE lang = 'en' GROUP BY tok
        ORDER BY c DESC, tok LIMIT 100
      )
    ),
    per AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks GROUP BY lang, tok
    )
    SELECT p.lang,
           CAST(SUM(p.n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN p.n ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(1000000 * SUM(CASE WHEN v.tok IS NULL THEN p.n ELSE 0 END)
                // SUM(p.n) AS BIGINT) AS oov_micro
    FROM per p LEFT JOIN vocab v ON p.tok = v.tok
    GROUP BY p.lang ORDER BY p.lang
    """,
)
def q100(spark, sf_dir):
    """Vocabulary-coverage audit (operators/corpus.py oov_rate): the
    top-100 whitespace vocabulary of the en slice scored against every
    language's token occurrences — exact ppm OOV rate, the
    does-this-tokenizer-transfer number. Token counts reduce to
    (lang, tok) before the token-keyed vocab join (the vocabulary is
    never assumed broadcastable); one group rollup, all algebraic."""
    from py_image_toolkit_spark.operators.corpus import oov_rate

    d = t(spark, sf_dir, "documents")
    en_toks = d.filter(F.col("lang") == "en").select(
        F.explode(D.tokens_array(F.col("text"))).alias("token")
    )
    vocab = (
        en_toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(100)
        .select("token")
    )
    return oov_rate(d, vocab).orderBy("lang")
