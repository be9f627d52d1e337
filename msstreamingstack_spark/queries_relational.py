"""Relational-core queries — SURVEY.md §2.4 join flavors (J1-J3) plus
the §2.5 extension surface (agg / window / sort-limit / set ops /
distinct / rollup / cube / pivot) the reference lacks but the engine
ships as first-class operators.

Scale notes (100 TB framing):
- Joins to genuinely tiny dims (nation=25, region=5 rows) are
  explicitly ``F.broadcast``; customer/supplier-sized dims are left to
  Catalyst + AQE, which will broadcast at small SF and shuffle-join at
  scale — the right call in both regimes.
- Aggregations rely on map-side partial aggregation (hash agg) so the
  shuffle carries one row per (partition × group), not per event.
- Sort+LIMIT compiles to TakeOrderedAndProject — per-partition top-K
  then a K-row merge on the driver; no global sort materialization.
- Window queries shuffle once on the partition key; frame is ROWS to
  avoid RANGE-frame peer scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from msstreamingstack_spark.queries import (
    EVENTS_TS_SQL,
    _dec_sum,
    _dec_sum_sql,
    _epoch_sec,
    register,
)
from msstreamingstack_spark.sources.tables import events_with_time, load_table


# ---------------------------------------------------------------------------
# Joins — J1 (left outer), J2 (anti), J3 (inner), plus semi
# ---------------------------------------------------------------------------
@register(
    "join_left_orders_customer",
    """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderstatus,
       c.c_name, c.c_mktsegment, c.c_acctbal
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
    tags=("reference", "J1", "join"),
    doc="Stream-side LEFT OUTER equi-join onto a dimension — the shape "
    "of the reference's stream⋈state join (StructuredStreaming.scala"
    ":151-155). Dim side sized for AQE to pick broadcast at small SF.",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "c_name", "c_mktsegment", "c_acctbal",
    )


@register(
    "join_anti_customers_no_orders",
    """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
""",
    tags=("reference", "J2", "join"),
    doc="LEFT ANTI join — the reference's 'new users' branch "
    "(StructuredStreaming.scala:158) expressed natively. The right "
    "side is filtered so the anti set is non-empty at test SFs.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_semi_customers_with_orders",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("join", "semi"),
    doc="LEFT SEMI join — 'returning users' existence check "
    "(complement of J2).",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_inner_customer_geo",
    """
SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""",
    tags=("reference", "J3", "join", "broadcast"),
    doc="INNER equi-join chain through two tiny dims — explicitly "
    "broadcast (25- and 5-row tables stay broadcast at any SF).",
)
def q_join_inner_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / windows
# ---------------------------------------------------------------------------
@register(
    "top_orders_by_price",
    """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
""",
    tags=("sort", "limit"),
    doc="Global top-K: compiles to TakeOrderedAndProject (per-partition "
    "heap + driver merge of K rows, no full sort). Total order via "
    "o_orderkey tiebreak keeps the result deterministic.",
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


@register(
    "topk_customers_per_segment",
    """
SELECT c_mktsegment, c_custkey, c_name, c_acctbal, rn FROM (
  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
              ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rn
  FROM customer
) WHERE rn <= 3
""",
    tags=("window", "topk"),
    doc="Top-K per group via row_number window — one shuffle on the "
    "partition key; filter prunes to K rows per group before any "
    "further stage.",
)
def q_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    order = (F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    return (
        c.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal", "rn")
    )


@register(
    "running_revenue_per_customer",
    """
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS od_sec,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
""",
    tags=("window", "running-agg"),
    doc="Per-customer running revenue — cumulative window agg with ROWS "
    "frame; decimal accumulator for cross-engine determinism.",
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        _epoch_sec(F.col("o_orderdate")).alias("od_sec"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "running_revenue_bucketed",
    """
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS od_sec,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
""",
    tags=("window", "running-agg", "skew"),
    doc="Skew-bounded running revenue: SAME oracle as "
    "running_revenue_per_customer, but the event shuffle is keyed "
    "(customer, 30-day bucket) with a tiny per-bucket summary carrying "
    "the prefix total — bit-exact because decimal partials re-add "
    "exactly (operators/windows.py). A hot customer can no longer pin "
    "one partition.",
)
def q_running_revenue_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.windows import bucketed_running_sum

    o = load_table(spark, sf_dir, "orders").withColumn(
        "od_sec", _epoch_sec(F.col("o_orderdate"))
    )
    out = bucketed_running_sum(
        o,
        part_col="o_custkey",
        order_cols=("o_orderdate", "o_orderkey"),
        value_col="o_totalprice",
        bucket_col=(F.col("od_sec") / (86_400 * 30)),
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        "od_sec",
        F.col("running_total").cast("double").alias("running_total"),
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------
@register(
    "agg_events_stats",
    f"""
WITH e AS ({EVENTS_TS_SQL})
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       {_dec_sum_sql('value', 'sum_value')}
FROM e GROUP BY event_type
""",
    tags=("agg",),
    doc="Grouped multi-agg over the event stream table: count, exact "
    "distinct (shuffle-dedup then count), min/max, decimal-exact sum.",
)
def q_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        _dec_sum(F.col("value"), "sum_value"),
    )


@register(
    "rollup_lineitem_flags",
    f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {_dec_sum_sql('l_quantity', 'sum_qty')}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg", "rollup"),
    doc="ROLLUP grouping sets (hierarchical subtotals + grand total).",
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # finest-level pre-aggregate, then ROLLUP over the tiny frame —
    # keeps Expand off the full scan (x|levels| row multiplication);
    # COUNT/DECIMAL-SUM partials re-aggregate exactly, output
    # bit-identical (A/B at sf0.1: 0.91 -> 0.41 s; see
    # q_grouping_sets_revenue)
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("_q"),
    )
    return fine.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n"),
        F.sum("_q").cast("double").alias("sum_qty"),
    )


@register(
    "cube_orders_status_priority",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "cube"),
    doc="CUBE grouping sets (all marginal combinations).",
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # same finest-level pre-aggregate as the rollup/grouping-sets
    # queries: flat locally (0.15 s either way) but the CUBE's x4
    # Expand now multiplies ~|status x priority| rows, not the scan
    fine = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("_n")
    )
    return fine.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum("_n").alias("n")
    )


@register(
    "distinct_user_days",
    f"""
WITH e AS ({EVENTS_TS_SQL})
SELECT DISTINCT user_id, ts_sec // 86400 AS day_num FROM e
""",
    tags=("distinct",),
    doc="DISTINCT projection (shuffle dedup on the pair key).",
)
def q_distinct_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    return ev.select(
        "user_id", F.expr("ts_sec div 86400").alias("day_num")
    ).distinct()


@register(
    "pivot_event_type_counts",
    f"""
WITH e AS ({EVENTS_TS_SQL})
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM e GROUP BY user_id
""",
    tags=("pivot",),
    doc="Pivot event_type → count columns (explicit value list keeps "
    "the schema static, which a pivot needs to be plannable at scale).",
)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    kinds = ["click", "view", "purchase", "signup", "error"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).count().na.fill(0)
    return piv.select(
        "user_id", *[F.col(k).alias(f"n_{k}") for k in kinds]
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
_SET_A = "SELECT c_custkey FROM customer WHERE c_acctbal > 5000"
_SET_B = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'"


@register(
    "set_ops_customers",
    f"""
SELECT 'union' AS op, c_custkey FROM ({_SET_A} UNION {_SET_B})
UNION ALL
SELECT 'intersect' AS op, c_custkey FROM ({_SET_A} INTERSECT {_SET_B})
UNION ALL
SELECT 'except' AS op, c_custkey FROM ({_SET_A} EXCEPT {_SET_B})
""",
    tags=("setop",),
    doc="UNION (distinct), INTERSECT, EXCEPT over two predicate-defined "
    "key sets, tagged and unioned into one result.",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "c_custkey")  # noqa: E731
    return (
        tag(a.union(b).distinct(), "union")
        .unionAll(tag(a.intersect(b), "intersect"))
        .unionAll(tag(a.exceptAll(b).distinct(), "except"))
    )


# ---------------------------------------------------------------------------
# EXISTS as a semi-join (TPC-H Q4 shape)
# ---------------------------------------------------------------------------


@register(
    "order_priority_check",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
    tags=("relational", "semi-join", "agg"),
    doc="TPC-H Q4 shape: EXISTS as a left-semi join with a non-equi "
    "residual predicate, then grouped count.",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "filter_purchases_high_value",
    f"""
WITH e AS ({EVENTS_TS_SQL})
SELECT event_id, user_id, event_type, value, ts_sec
FROM e
WHERE event_type LIKE 'purch%' AND value > 50 AND props IS NOT NULL
""",
    tags=("reference", "P13", "P15", "filter"),
    doc="Predicate stack: LIKE prefix match (P15), numeric comparison, "
    "IS NOT NULL (P13) — all pushed to the parquet scan.",
)
def q_filter_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    return ev.filter(
        F.col("event_type").like("purch%")
        & (F.col("value") > 50)
        & F.col("props").isNotNull()
    ).select("event_id", "user_id", "event_type", "value", "ts_sec")


@register(
    "unpivot_event_counts",
    f"""
WITH e AS ({EVENTS_TS_SQL}),
piv AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase
  FROM e GROUP BY user_id
)
SELECT user_id, kind, n FROM piv
UNPIVOT (n FOR kind IN (n_click AS 'click', n_view AS 'view',
                        n_purchase AS 'purchase'))
WHERE n > 0
""",
    tags=("pivot", "unpivot"),
    doc="Unpivot (melt): wide per-user count columns back to long "
    "(user, kind, n) form — Spark's unpivot()/stack is a narrow "
    "per-row expansion, no shuffle beyond the source aggregation. "
    "Zero counts dropped to match UNPIVOT's dense-output convention "
    "across engines.",
)
def q_unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    kinds = ["click", "view", "purchase"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).count().na.fill(0)
    wide = piv.select(
        "user_id", *[F.col(k).alias(f"n_{k}") for k in kinds]
    )
    long = wide.unpivot(
        ids=["user_id"],
        values=[f"n_{k}" for k in kinds],
        variableColumnName="kind",
        valueColumnName="n",
    ).withColumn("kind", F.expr("substring(kind, 3)"))
    return long.filter(F.col("n") > 0)


@register(
    "timeseries_gapfill",
    f"""
WITH e AS ({EVENTS_TS_SQL}),
b AS (  -- per-user per-10-min bucket last value
  SELECT user_id, ts_sec // 600 AS bucket, MAX_BY(value, ts_sec) AS v
  FROM e WHERE user_id < 50 GROUP BY user_id, ts_sec // 600
),
spine AS (  -- dense bucket spine per user over their active range
  SELECT user_id, UNNEST(range(min_b, max_b + 1)) AS bucket
  FROM (SELECT user_id, MIN(bucket) AS min_b, MAX(bucket) AS max_b
        FROM b GROUP BY user_id)
),
joined AS (
  SELECT s.user_id, s.bucket, b.v,
         COUNT(b.v) OVER (PARTITION BY s.user_id ORDER BY s.bucket) AS grp
  FROM spine s LEFT JOIN b ON b.user_id = s.user_id AND b.bucket = s.bucket
)
SELECT user_id, bucket,
       COALESCE(FIRST_VALUE(v) OVER (
         PARTITION BY user_id, grp ORDER BY bucket), -1.0) AS v_filled,
       v IS NULL AS was_gap
FROM joined
""",
    tags=("timeseries", "gapfill", "window"),
    doc="Time-series gap filling with forward-fill: bucket each "
    "user's events to 10-minute points (MAX_BY = last value in "
    "bucket), generate the dense bucket spine per user with "
    "sequence()+explode (no driver-side loop, spine generation is "
    "per-row), left-join, then carry the last non-null value forward "
    "via the count-over-nulls grouping trick — one user-partitioned "
    "window, parallel across users. The hypertable-rollup companion "
    "for dashboards that need a point per interval.",
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = events_with_time(spark, sf_dir).filter(F.col("user_id") < 50)
    b = (
        ev.withColumn("bucket", (F.col("ts_sec") / 600).cast("bigint"))
        .groupBy("user_id", "bucket")
        .agg(F.max_by("value", "ts_sec").alias("v"))
    )
    spine = (
        b.groupBy("user_id")
        .agg(F.min("bucket").alias("min_b"), F.max("bucket").alias("max_b"))
        .select(
            "user_id",
            F.explode(F.sequence("min_b", "max_b")).alias("bucket"),
        )
    )
    joined = spine.join(b, ["user_id", "bucket"], "left").withColumn(
        "grp",
        F.count("v").over(
            Window.partitionBy("user_id")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_fill = Window.partitionBy("user_id", "grp").orderBy("bucket")
    return joined.select(
        "user_id",
        "bucket",
        F.coalesce(F.first("v", ignorenulls=True).over(w_fill), F.lit(-1.0)).alias(
            "v_filled"
        ),
        F.col("v").isNull().alias("was_gap"),
    )


@register(
    "skew_profile_events_user",
    """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(n) AS BIGINT) AS max_key_rows,
       round(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 9) AS skew_factor
FROM c
""",
    tags=("relational", "skew", "diagnostic"),
    doc="Shuffle-key skew profile for events.user_id: heaviest-key row "
    "count and skew factor vs the even-split ideal — the measurement "
    "that picks between plain keys, salting, and (key, bucket) "
    "windows before a 100 TB job ships.",
)
def q_skew_profile_events_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.skew import key_skew_profile
    from msstreamingstack_spark.sources.tables import load_table

    return key_skew_profile(load_table(spark, sf_dir, "events"), "user_id")
