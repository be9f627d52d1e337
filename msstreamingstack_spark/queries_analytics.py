"""Event-analytics operator family: cohort retention, funnels,
SCD2 run-length histories (gaps-and-islands), rolling anomaly
detection, exact heavy hitters, LTV deciles, and fixed-bin
histograms.

These are the classic "product analytics over a clickstream" shapes a
user of the reference stack computes downstream of its enrichment
pipeline (reference StructuredStreaming.scala produces the enriched
event/state tables these consume; the reference itself stops at the
sink). Every query here is driver-oracled against DuckDB and follows
the engine-wide determinism discipline (queries.py module doc):
integer epoch-second arithmetic, DECIMAL accumulators cast back to
DOUBLE, total tie-break orders under every window/ntile.

Scale notes (100 TB) are on each docstring; the common theme is that
all heavy shuffles key on `user_id` (high cardinality, salting twin
available via salted_agg_user_values) and every global scalar
(event totals) moves via a broadcast one-row join, never a
single-partition window over the full relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from msstreamingstack_spark.queries import (
    ENRICH_SQL,
    EVENTS_TS_SQL,
    PROP_K_SQL,
    _dec_sum,
    _dec_sum_sql,
    register,
)
from msstreamingstack_spark.sources.tables import (
    events_enriched,
    events_with_time,
    load_table,
)
from msstreamingstack_spark.functions.expressions import (
    classify_device,
    synthetic_user_agent,
)

DAY_SEC = 86400


# ---------------------------------------------------------------------------
# Cohort retention — users bucketed by first-activity day, activity
# counted per (cohort_day, day_offset).
# ---------------------------------------------------------------------------
@register(
    "cohort_retention",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
d AS (SELECT user_id, ts_sec // {DAY_SEC} AS day FROM ev),
c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
SELECT c.cohort_day AS cohort_day,
       d.day - c.cohort_day AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_active,
       COUNT(*) AS n_events
FROM d JOIN c ON d.user_id = c.user_id
GROUP BY c.cohort_day, d.day - c.cohort_day
""",
    tags=("analytics", "agg", "join"),
    doc="Cohort retention matrix: first-activity-day cohorts x "
    "day-offset activity (distinct users + raw events). Two shuffles "
    "on user_id (cohort min, then the cohort join — co-partitioned "
    "sort-merge, no broadcast needed since both sides key on the "
    "same high-cardinality column), then one agg shuffle on the "
    "small (cohort_day, offset) grid. At 100 TB the cohort relation "
    "is one row per user and the output is days^2 rows — tiny.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "user_id", F.expr(f"ts_sec div {DAY_SEC}").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_day"),
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered funnel — signup -> view -> purchase with stage-order
# constraints and decimal-exact average stage lags.
# ---------------------------------------------------------------------------
@register(
    "funnel_conversion",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
s1 AS (
  SELECT user_id, ts_sec, event_type,
         MIN(CASE WHEN event_type = 'signup' THEN ts_sec END)
           OVER (PARTITION BY user_id) AS s
  FROM ev
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' AND ts_sec >= s
                     THEN ts_sec END)
              OVER (PARTITION BY user_id) AS v
  FROM s1
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_sec >= v
                     THEN ts_sec END)
              OVER (PARTITION BY user_id) AS p
  FROM s2
),
u AS (SELECT DISTINCT user_id, s, v, p FROM s3)
SELECT COUNT(*) AS n_users,
       COUNT(s) AS n_signup,
       COUNT(v) AS n_view_after_signup,
       COUNT(p) AS n_purchase_after_view,
       CAST(SUM(CAST(v - s AS DECIMAL(25,6))) AS DOUBLE) / COUNT(v)
         AS avg_signup_to_view_sec,
       CAST(SUM(CAST(p - v AS DECIMAL(25,6))) AS DOUBLE) / COUNT(p)
         AS avg_view_to_purchase_sec
FROM u
""",
    tags=("analytics", "window", "funnel"),
    doc="Ordered three-stage funnel (signup -> first view at-or-after "
    "signup -> first purchase at-or-after that view) with average "
    "stage-to-stage lags. Three chained windows all partition on "
    "user_id, so Spark plans ONE exchange and sorts once — the "
    "stage-N milestone can reference stage-N-1's column without a "
    "new shuffle (exchange reuse; pinned in tests/test_analytics.py::"
    "test_funnel_windows_share_one_exchange). "
    "Final global agg is a partial-aggregated single row.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select("user_id", "ts_sec", "event_type")
    wu = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "s",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_sec"))).over(wu),
    )
    s2 = s1.withColumn(
        "v",
        F.min(
            F.when(
                (F.col("event_type") == "view") & (F.col("ts_sec") >= F.col("s")),
                F.col("ts_sec"),
            )
        ).over(wu),
    )
    s3 = s2.withColumn(
        "p",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts_sec") >= F.col("v")),
                F.col("ts_sec"),
            )
        ).over(wu),
    )
    u = s3.select("user_id", "s", "v", "p").distinct()
    return u.agg(
        F.count("*").alias("n_users"),
        F.count("s").alias("n_signup"),
        F.count("v").alias("n_view_after_signup"),
        F.count("p").alias("n_purchase_after_view"),
        (
            F.sum((F.col("v") - F.col("s")).cast("decimal(25,6)")).cast("double")
            / F.count("v")
        ).alias("avg_signup_to_view_sec"),
        (
            F.sum((F.col("p") - F.col("v")).cast("decimal(25,6)")).cast("double")
            / F.count("p")
        ).alias("avg_view_to_purchase_sec"),
    )


# ---------------------------------------------------------------------------
# SCD2 device history — gaps-and-islands run-length encoding of each
# user's device over event time (type-2 dimension rows).
# ---------------------------------------------------------------------------
@register(
    "scd2_device_runs",
    f"""
WITH en AS ({ENRICH_SQL}),
o AS (
  SELECT user_id, event_id, ts_sec, device,
         CASE WHEN LAG(device) OVER w IS NULL
                OR LAG(device) OVER w <> device THEN 1 ELSE 0 END AS chg
  FROM en
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
),
r AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
                                ORDER BY ts_sec, event_id) AS BIGINT) AS run_idx
  FROM o
)
SELECT user_id, device, run_idx,
       MIN(ts_sec) AS valid_from_sec,
       MAX(ts_sec) AS valid_to_sec,
       COUNT(*) AS n_events
FROM r GROUP BY user_id, device, run_idx
""",
    tags=("analytics", "window", "scd2"),
    doc="Slowly-changing-dimension type-2 history of each user's "
    "device: gaps-and-islands via lag-change flag + running sum "
    "(both windows share the user_id partitioning — one shuffle, "
    "one sort), then a run-collapse agg emitting "
    "valid_from/valid_to rows. The single-pass lag+sum form avoids "
    "the classic two-row_number shuffle. The run-collapse groupBy "
    "re-keys on (user, device, run) — unavoidable second shuffle, "
    "but its input is already user-clustered so AQE coalesces it.",
)
def q_scd2_device_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_enriched(spark, sf_dir)
    ua = synthetic_user_agent(F.col("prop_k"))
    en = ev.withColumn("device", classify_device(ua)).select(
        "user_id", "event_id", "ts_sec", "device"
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    lagged = F.lag("device").over(w)
    o = en.withColumn(
        "chg",
        F.when(lagged.isNull() | (lagged != F.col("device")), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    r = o.withColumn("run_idx", F.sum("chg").over(w))
    return r.groupBy("user_id", "device", "run_idx").agg(
        F.min("ts_sec").alias("valid_from_sec"),
        F.max("ts_sec").alias("valid_to_sec"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection — per-user trailing-window
# mean/variance from decimal-exact sums, then a double z-score.
# ---------------------------------------------------------------------------
_Z_FRAME = "ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING"


@register(
    "rolling_zscore_events",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
s AS (
  SELECT event_id, user_id, ts_sec, value,
         COUNT(value) OVER w AS n_prev,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_d,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              OVER w AS DOUBLE) AS sumsq_d
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id {_Z_FRAME})
),
z AS (
  SELECT event_id, user_id, ts_sec, value, n_prev,
         CASE WHEN n_prev >= 3 THEN
           (sumsq_d - (sum_d * sum_d) / CAST(n_prev AS DOUBLE))
             / (CAST(n_prev AS DOUBLE) - 1.0)
         END AS var_prev,
         CASE WHEN n_prev >= 3 THEN sum_d / CAST(n_prev AS DOUBLE) END AS mean_prev
  FROM s
)
SELECT event_id, user_id, ts_sec, value, n_prev, mean_prev,
       (value - mean_prev) / sqrt(var_prev) AS zscore,
       abs((value - mean_prev) / sqrt(var_prev)) > 2.0 AS is_anomaly
FROM z WHERE n_prev >= 3 AND var_prev > 0.0
""",
    tags=("analytics", "window", "anomaly"),
    doc="Per-user rolling z-score over the 6 trailing values, "
    "emitting only scorable events (>=3 trailing samples, positive "
    "variance) so no NULL doubles cross the comparator: "
    "trailing mean/variance from DECIMAL-exact sum and sum-of-"
    "squares window aggregates (float summation order never leaks "
    "into the hash), z computed in identically-shaped double "
    "arithmetic on both engines. One shuffle + one sort on "
    "(user_id | ts). The ROWS frame keeps window state O(frame) per "
    "partition regardless of user skew.",
)
def q_rolling_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "ts_sec", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(-6, -1)
    )
    vdec = F.col("value").cast("decimal(18,6)")
    s = ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        "value",
        F.count("value").over(w).alias("n_prev"),
        F.sum(vdec).over(w).cast("double").alias("sum_d"),
        F.sum(vdec * vdec).over(w).cast("double").alias("sumsq_d"),
    )
    n_d = F.col("n_prev").cast("double")
    var_prev = F.when(
        F.col("n_prev") >= 3,
        (F.col("sumsq_d") - (F.col("sum_d") * F.col("sum_d")) / n_d) / (n_d - 1.0),
    )
    mean_prev = F.when(F.col("n_prev") >= 3, F.col("sum_d") / n_d)
    z = s.select(
        "event_id",
        "user_id",
        "ts_sec",
        "value",
        "n_prev",
        var_prev.alias("var_prev"),
        mean_prev.alias("mean_prev"),
    )
    zscore = (F.col("value") - F.col("mean_prev")) / F.sqrt(F.col("var_prev"))
    return (
        z.filter((F.col("n_prev") >= 3) & (F.col("var_prev") > 0.0))
        .select(
            "event_id",
            "user_id",
            "ts_sec",
            "value",
            "n_prev",
            "mean_prev",
            zscore.alias("zscore"),
            (F.abs(zscore) > 2.0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters — integer-compare threshold (no float in the
# predicate), global total via broadcast one-row join.
# ---------------------------------------------------------------------------
@register(
    "heavy_hitters_exact",
    """
WITH c AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total_events FROM c)
SELECT c.user_id, c.n_events, t.total_events,
       CAST(c.n_events AS DOUBLE) / CAST(t.total_events AS DOUBLE) AS share
FROM c, t
WHERE c.n_events * 200 > t.total_events
""",
    tags=("analytics", "agg", "skew"),
    doc="Exact heavy hitters: users above 0.5% of total event "
    "volume. One partial-aggregated shuffle on user_id produces the "
    "per-user counts; the corpus total is a one-row broadcast "
    "cross-join (never a single-partition window over all users); "
    "the threshold predicate is pure integer arithmetic "
    "(n*200 > total) so no float rounding can flip membership. "
    "This is the exact companion to skew_profile_events_user — at "
    "100 TB, run it on the post-agg counts relation (one row per "
    "user), not the raw events.",
)
def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = counts.agg(F.sum("n_events").cast("long").alias("total_events"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * 200 > F.col("total_events"))
        .select(
            "user_id",
            "n_events",
            "total_events",
            (
                F.col("n_events").cast("double")
                / F.col("total_events").cast("double")
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketch rollup — build per-(type, day) DataSketches
# HLL sketches, union them to per-type distinct-user counts.
# ---------------------------------------------------------------------------
@register(
    "distinct_users_sketch_rollup",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
d AS (SELECT event_type, ts_sec // {DAY_SEC} AS day, user_id FROM ev)
SELECT event_type,
       COUNT(DISTINCT day) AS n_days,
       COUNT(DISTINCT user_id) AS est_users
FROM d GROUP BY event_type
""",
    tags=("analytics", "sketch", "approx"),
    doc="Mergeable distinct-count rollup: per-(event_type, day) "
    "DataSketches HLL sketches (hll_sketch_agg), unioned per type "
    "(hll_union_agg) and estimated. THE 100 TB distinct-count "
    "pattern: daily sketches are small, persistable, and re-"
    "aggregable to any coarser grain without touching raw events "
    "(see tests/test_sketches.py for the persist-and-merge round "
    "trip). The DuckDB oracle is exact COUNT(DISTINCT): DataSketches "
    "HLL is exact in its small-cardinality coupon mode, and the "
    "driver's sf0.01 has 150 users — verified exact there. Beyond "
    "coupon mode the estimate drifts (measured 0.8%% at 1.5k users, "
    "sf0.1); the pytest twin pins exactness at sf0.01 and a <2%% "
    "error bound at sf0.1. If the driver SF ever changes, demote "
    "this entry to rows-only.",
)
def q_distinct_users_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_type",
        F.expr(f"ts_sec div {DAY_SEC}").alias("day"),
        "user_id",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.hll_union_agg("sk").alias("sk"),
    )
    return per_type.select(
        "event_type",
        "n_days",
        F.hll_sketch_estimate("sk").alias("est_users"),
    )


# ---------------------------------------------------------------------------
# Customer LTV deciles — per-customer lifetime value, ntile(10), and
# per-decile summary statistics.
# ---------------------------------------------------------------------------
@register(
    "ltv_deciles",
    f"""
WITH ltv AS (
  SELECT o_custkey,
         {_dec_sum_sql('o_totalprice', 'ltv')},
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT o_custkey, ltv, n_orders,
         NTILE(10) OVER (ORDER BY ltv, o_custkey) AS decile
  FROM ltv
)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(n_orders AS BIGINT)) AS BIGINT) AS n_orders,
       {_dec_sum_sql('ltv', 'sum_ltv')},
       CAST(SUM(CAST(ltv AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_ltv,
       MIN(ltv) AS min_ltv,
       MAX(ltv) AS max_ltv
FROM d GROUP BY decile
""",
    tags=("analytics", "window", "agg"),
    doc="Customer lifetime-value deciles: decimal-exact per-customer "
    "order totals, ntile(10) with a custkey tiebreak (every decile "
    "assignment deterministic), per-decile count/sum/avg/min/max. "
    "The global ntile sorts ONE ROW PER CUSTOMER (post-agg), same "
    "justification as window_rank_family — at 100 TB the orders "
    "pre-agg shuffle dominates and the ranked relation is "
    "|customers| rows. min/max on double are order-free; sums go "
    "through decimals.",
)
def q_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        _dec_sum(F.col("o_totalprice"), "ltv"),
        F.count("*").alias("n_orders"),
    )
    d = ltv.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("ltv", "o_custkey"))
    )
    return d.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("n_orders").cast("long")).cast("long").alias("n_orders"),
        _dec_sum(F.col("ltv"), "sum_ltv"),
        (
            F.sum(F.col("ltv").cast("decimal(25,6)")).cast("double") / F.count("*")
        ).alias("avg_ltv"),
        F.min("ltv").alias("min_ltv"),
        F.max("ltv").alias("max_ltv"),
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram — integer bin ids from floor division; decimal
# sums per bin.
# ---------------------------------------------------------------------------
_BIN_W = 50.0


@register(
    "histogram_event_values",
    f"""
WITH b AS (
  SELECT CAST(FLOOR(value / {_BIN_W}) AS BIGINT) AS bin, value
  FROM events
)
SELECT bin,
       CAST(bin AS DOUBLE) * {_BIN_W} AS bin_lo,
       CAST(bin AS DOUBLE) * {_BIN_W} + {_BIN_W} AS bin_hi,
       COUNT(*) AS n,
       {_dec_sum_sql('value', 'sum_value')},
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM b GROUP BY bin
""",
    tags=("analytics", "agg", "histogram"),
    doc="Fixed-width histogram of event values: bin id from a single "
    "floor-division (one double op, identical on both engines), "
    "one partial-aggregated shuffle on the small bin domain. The "
    "profiling primitive behind range-partition boundary picking "
    "and data-quality dashboards; at 100 TB the map-side combine "
    "reduces each task's output to |bins| rows before the shuffle.",
)
def q_histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.floor(F.col("value") / F.lit(_BIN_W)).cast("long").alias("bin"),
        "value",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("value"), "sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "bin",
            (F.col("bin") * F.lit(_BIN_W)).alias("bin_lo"),
            (F.col("bin") * F.lit(_BIN_W) + F.lit(_BIN_W)).alias("bin_hi"),
            "n",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


# ---------------------------------------------------------------------------
# Dynamic-gap sessionization: per-event-type inactivity timeout
# ---------------------------------------------------------------------------
DYN_GAP_PURCHASE_SEC = 3600
DYN_GAP_DEFAULT_SEC = 1800


@register(
    "sessionize_dynamic_gap",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
g AS (
  SELECT user_id, event_id, ts_sec, event_type,
         ts_sec + CASE WHEN event_type = 'purchase'
                       THEN {DYN_GAP_PURCHASE_SEC}
                       ELSE {DYN_GAP_DEFAULT_SEC} END AS hold_until
  FROM ev
),
m AS (
  SELECT *, MAX(hold_until) OVER (PARTITION BY user_id
                                  ORDER BY ts_sec, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS prev_end
  FROM g
),
s AS (
  SELECT *, CAST(SUM(CASE WHEN prev_end IS NULL OR ts_sec > prev_end
                          THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id
                       ORDER BY ts_sec, event_id) AS BIGINT) AS session_idx
  FROM m
)
SELECT user_id, session_idx,
       MIN(ts_sec) AS session_start_sec,
       MAX(hold_until) AS session_end_sec,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM s GROUP BY user_id, session_idx
""",
    tags=("analytics", "sessionize", "window", "dynamic-gap"),
    doc="Sessionization with a PER-EVENT inactivity timeout (purchases "
    "hold the session open for an hour, everything else 30 min) — "
    "exactly Spark's native session_window(dynamic gap) semantics: a "
    "session's end is the RUNNING MAX of per-event hold-until times, "
    "and an event starts a new session iff it lands STRICTLY after that "
    "max (Spark's merge rule is boundary-inclusive — the "
    "session_window_native precedent; and a naive lag-gap rule is "
    "WRONG here — a long-gap event keeps "
    "the session open past several short-gap successors). Pinned "
    "equal to the native session_window expression in "
    "tests/test_analytics.py (the session_window_native precedent); "
    "the oracled form is this gaps-and-islands decomposition because "
    "DuckDB has no session_window. Both windows share the user_id "
    "partitioning — one shuffle, one sort, then the rollup agg.",
)
def q_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "user_id", "event_id", "ts_sec", "event_type"
    )
    hold = F.col("ts_sec") + F.when(
        F.col("event_type") == "purchase", F.lit(DYN_GAP_PURCHASE_SEC)
    ).otherwise(F.lit(DYN_GAP_DEFAULT_SEC))
    g = ev.withColumn("hold_until", hold)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    prev_end = F.max("hold_until").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    m = g.withColumn("prev_end", prev_end)
    flag = F.when(
        F.col("prev_end").isNull()
        | (F.col("ts_sec") > F.col("prev_end")),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = m.withColumn("session_idx", F.sum(flag).over(w))
    return s.groupBy("user_id", "session_idx").agg(
        F.min("ts_sec").alias("session_start_sec"),
        F.max("hold_until").alias("session_end_sec"),
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# SCD2 incremental apply: close-and-insert merge of a change batch
# ---------------------------------------------------------------------------
SCD2_CUT_SEC = 1_705_363_200  # 2024-01-16: splits the fixture window


@register(
    "scd2_merge_device_dim",
    f"""
WITH en AS ({ENRICH_SQL}),
pre AS (SELECT * FROM en WHERE ts_sec < {SCD2_CUT_SEC}),
post AS (SELECT * FROM en WHERE ts_sec >= {SCD2_CUT_SEC}),
dimq AS (
  SELECT user_id, device, ts_sec AS valid_from_sec FROM (
    SELECT user_id, device, ts_sec,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_sec, event_id) AS rn
    FROM pre) WHERE rn = 1
),
chg AS (
  SELECT user_id, device AS new_device, ts_sec AS change_ts FROM (
    SELECT user_id, device, ts_sec,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_sec DESC, event_id DESC) AS rn
    FROM post) WHERE rn = 1
)
SELECT d.user_id, d.device, d.valid_from_sec,
       c.change_ts AS valid_to_sec, FALSE AS is_current
FROM dimq d JOIN chg c USING (user_id)
WHERE c.new_device <> d.device
UNION ALL
SELECT COALESCE(d.user_id, c.user_id) AS user_id, c.new_device AS device,
       c.change_ts AS valid_from_sec,
       CAST(253402300799 AS BIGINT) AS valid_to_sec, TRUE AS is_current
FROM dimq d FULL OUTER JOIN chg c ON d.user_id = c.user_id
WHERE c.user_id IS NOT NULL
  AND (d.user_id IS NULL OR c.new_device <> d.device)
UNION ALL
SELECT d.user_id, d.device, d.valid_from_sec,
       CAST(253402300799 AS BIGINT) AS valid_to_sec, TRUE AS is_current
FROM dimq d LEFT JOIN chg c USING (user_id)
WHERE c.user_id IS NULL OR c.new_device = d.device
""",
    tags=("analytics", "scd2", "merge", "cdc"),
    doc="SCD2 INCREMENTAL apply (operators/merge.scd2_apply) — the "
    "close-and-insert counterpart of scd2_device_runs' from-scratch "
    "history build: the dimension is each user's first device before "
    "the fixture-window midpoint (current rows, open-ended), the "
    "change batch is each user's latest post-cutoff device, and the "
    "merge closes changed rows at the change timestamp, opens new "
    "current rows, inserts unseen users, and passes unchanged rows "
    "through without a spurious version (the no-op-update guard). "
    "Open-ended rows carry the classic 9999-12-31 sentinel (nullable "
    "longs degrade to float64 through Arrow/pandas). "
    "Plan: one key shuffle for the current⋈changes join; the "
    "historical partition only unions — at 100 TB the history dwarfs "
    "the current set and never moves. Ties broken by event_id on "
    "both engines.",
)
def q_scd2_merge_device_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.merge import scd2_apply

    en = events_enriched(spark, sf_dir)
    ua = synthetic_user_agent(F.col("prop_k"))
    base = en.withColumn("device", classify_device(ua)).select(
        "user_id", "event_id", "ts_sec", "device"
    )
    pre = base.filter(F.col("ts_sec") < SCD2_CUT_SEC)
    post = base.filter(F.col("ts_sec") >= SCD2_CUT_SEC)
    first = pre.groupBy("user_id").agg(
        F.min(F.struct("ts_sec", "event_id", "device")).alias("f")
    )
    dim = first.select(
        "user_id",
        F.col("f.device").alias("device"),
        F.col("f.ts_sec").alias("valid_from_sec"),
        # open-ended convention: the SCD2 high-date sentinel, not NULL
        # (nullable longs degrade to float64 through Arrow/pandas)
        F.lit(253_402_300_799).cast("long").alias("valid_to_sec"),
        F.lit(True).alias("is_current"),
    )
    last = post.groupBy("user_id").agg(
        F.max(F.struct("ts_sec", "event_id", "device")).alias("l")
    )
    changes = last.select(
        "user_id",
        F.col("l.device").alias("device"),
        F.col("l.ts_sec").alias("change_ts"),
    )
    return scd2_apply(dim, changes, "user_id", "device", "change_ts")


# ---------------------------------------------------------------------------
# Point-in-time dimension join: each event sees the SCD2 version that
# was valid AT ITS TIMESTAMP (the temporal-join every warehouse needs)
# ---------------------------------------------------------------------------
@register(
    "pit_device_dim_join",
    f"""
WITH en AS ({ENRICH_SQL}),
pre AS (SELECT * FROM en WHERE ts_sec < {SCD2_CUT_SEC}),
post AS (SELECT * FROM en WHERE ts_sec >= {SCD2_CUT_SEC}),
dimq AS (
  SELECT user_id, device, ts_sec AS valid_from_sec FROM (
    SELECT user_id, device, ts_sec,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_sec, event_id) AS rn
    FROM pre) WHERE rn = 1
),
chg AS (
  SELECT user_id, device AS new_device, ts_sec AS change_ts FROM (
    SELECT user_id, device, ts_sec,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_sec DESC, event_id DESC) AS rn
    FROM post) WHERE rn = 1
),
dim AS (
  SELECT d.user_id, d.device, d.valid_from_sec,
         c.change_ts AS valid_to_sec
  FROM dimq d JOIN chg c USING (user_id) WHERE c.new_device <> d.device
  UNION ALL
  SELECT COALESCE(d.user_id, c.user_id), c.new_device, c.change_ts,
         CAST(253402300799 AS BIGINT)
  FROM dimq d FULL OUTER JOIN chg c ON d.user_id = c.user_id
  WHERE c.user_id IS NOT NULL
    AND (d.user_id IS NULL OR c.new_device <> d.device)
  UNION ALL
  SELECT d.user_id, d.device, d.valid_from_sec,
         CAST(253402300799 AS BIGINT)
  FROM dimq d LEFT JOIN chg c USING (user_id)
  WHERE c.user_id IS NULL OR c.new_device = d.device
),
m AS (
  SELECT e.event_id, e.user_id, e.ts_sec,
         d.device AS dim_device, d.valid_to_sec
  FROM en e ASOF LEFT JOIN dim d
    ON e.user_id = d.user_id AND e.ts_sec >= d.valid_from_sec
)
SELECT event_id, user_id, ts_sec,
       COALESCE(CASE WHEN ts_sec < valid_to_sec THEN dim_device END,
                'UNKNOWN') AS dim_device
FROM m
""",
    tags=("analytics", "scd2", "asof-join", "temporal"),
    doc="Point-in-time dimension join: every event is matched to the "
    "SCD2 device-dimension VERSION that was valid at its timestamp — "
    "the temporal join behind every as-was report. Composition of "
    "two existing kernels: the merged dim (scd2_merge_device_dim's "
    "build) and a backward as-of on valid_from (operators/asof.py — "
    "single-shuffle union+window, never a per-key range explosion), "
    "then a validity check against valid_to sentinels events before "
    "a user's first version to 'UNKNOWN'. Because SCD2 versions are "
    "CONTIGUOUS per user, the greatest valid_from ≤ ts is the valid "
    "version whenever one exists — the as-of IS the temporal join.",
)
def q_pit_device_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.asof import asof_join

    en = events_enriched(spark, sf_dir)
    ua = synthetic_user_agent(F.col("prop_k"))
    base = en.withColumn("device", classify_device(ua)).select(
        "user_id", "event_id", "ts_sec", "device"
    )
    dim = q_scd2_merge_device_dim(spark, sf_dir).select(
        "user_id",
        F.col("device").alias("dim_device"),
        "valid_from_sec",
        "valid_to_sec",
    )
    out = asof_join(
        base.select("event_id", "user_id", "ts_sec"),
        dim,
        on="user_id",
        left_ts="ts_sec",
        right_ts="valid_from_sec",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.coalesce(
            F.when(
                F.col("ts_sec") < F.col("valid_to_sec"),
                F.col("dim_device"),
            ),
            F.lit("UNKNOWN"),
        ).alias("dim_device"),
    )


# ---------------------------------------------------------------------------
# Regression / correlation aggregates — OLS slope, intercept and
# Pearson r derived from EXACT integer moment sums, the
# numerically-portable form of SQL's regr_* / corr family.
# ---------------------------------------------------------------------------
@register(
    "regr_value_on_propk",
    f"""
WITH ev AS (
  SELECT event_type,
         {PROP_K_SQL} AS x,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT event_type,
         COUNT(*) AS n_pts,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM ev GROUP BY event_type
)
SELECT event_type, n_pts,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             9) AS intercept,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS corr
FROM m
""",
    tags=("extension", "agg", "stats"),
    doc="Per-event-type OLS regression of value (integer cents) on "
    "the props k field: slope, intercept, Pearson correlation. The "
    "engines' native corr/regr_* aggregates use different one-pass "
    "update formulas (float-order dependent), so this computes the "
    "FIVE exact integer moment sums (DECIMAL(38,0) — overflow-proof "
    "at any scale, map-side combinable, one shuffle of 6 numbers "
    "per group) and derives the statistics in double with an "
    "identical expression tree both sides — the portable way to get "
    "bit-stable second-order statistics out of a distributed fold.",
)
def q_regr_value_on_propk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_enriched(spark, sf_dir).select(
        "event_type",
        F.col("prop_k").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n_pts"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum(dec(x * x)).cast("double").alias("sxx"),
        F.sum(dec(y * y)).cast("double").alias("syy"),
        F.sum(dec(x * y)).cast("double").alias("sxy"),
        F.count("*").cast("double").alias("n"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "event_type",
        "n_pts",
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 9).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("corr"),
    )


# ---------------------------------------------------------------------------
# EWMA: per-user exponentially-weighted moving average — the
# prefix-dependent temporal kernel (anomaly baselines, smoothed
# rates) that no window frame expresses.
# ---------------------------------------------------------------------------
# Smoothing weights as EXACT literals on both sides: 1.0 - 0.3
# computed in floating point is a DIFFERENT double than the literal
# 0.7, so the recurrence is written 0.7*y + 0.3*x verbatim in the
# pandas kernel AND the oracle — bit-identical IEEE fold, no
# tolerance needed (only the final display round).
@register(
    "ewma_event_values",
    f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts_sec, event_id) AS rn
  FROM ({EVENTS_TS_SQL})
),
r AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS ewma
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_id, e.rn,
         0.7 * r.ewma + 0.3 * e.value AS ewma
  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, event_id, rn, round(ewma, 9) AS ewma FROM r
""",
    tags=("extension", "temporal", "pandas", "recursive"),
    doc="Per-user EWMA (alpha=0.3, y_i = 0.7*y_{i-1} + 0.3*x_i, "
    "y_1 = x_1) over time-ordered events. The recurrence has a strict "
    "prefix dependency, so it is the legitimate applyInPandas case: "
    "ONE shuffle partitions by user, then each group folds "
    "sequentially in an Arrow-batched kernel — parallel across "
    "users, O(group) memory, no driver involvement; at 100 TB the "
    "group count (users) is the parallelism and the per-group cost "
    "is linear. The DuckDB oracle iterates the same recurrence as a "
    "recursive CTE stepping rn -> rn+1 (depth = max events/user). "
    "Identical float literals both sides make the fold bit-exact.",
)
def q_ewma_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    # r11 shape (guide §4.1/§4.2): ONE hash repartition by user +
    # in-partition sort replaces groupBy().applyInPandas. The old form
    # built one pandas frame PER USER (thousands of tiny frames,
    # serialized on the 1-2 partitions AQE coalesces this small-bytes/
    # CPU-dense exchange down to); here each TASK folds its whole
    # partition in one pass, carrying (user, y, rn) across Arrow batch
    # boundaries. The recurrence itself is the identical IEEE sequence
    # (y = vals[i] at group start, else 0.7*y + 0.3*vals[i], in
    # (ts_sec, event_id) order) — float64 scalar ops in the same
    # order, so the fold is bit-exact vs the oracle either way. The
    # explicit numPartitions comes from the session's shuffle-
    # partition setting (cores locally, cluster-sized on a cluster),
    # and an explicit repartition is exempt from AQE coalescing —
    # parallelism equals the configured width, not the byte count.
    ev = events_with_time(spark, sf_dir).select(
        "user_id", "event_id", "ts_sec", "value"
    )
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = ev.repartition(nparts, "user_id").sortWithinPartitions(
        "user_id", "ts_sec", "event_id"
    )

    def fold(batches):
        prev_user = None
        y = 0.0
        n = 0
        for pdf in batches:
            users = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy(dtype="float64")
            out = np.empty(len(vals), dtype="float64")
            rn = np.empty(len(vals), dtype="int64")
            for i in range(len(vals)):
                u = users[i]
                if u != prev_user:
                    prev_user = u
                    y = vals[i]
                    n = 1
                else:
                    y = 0.7 * y + 0.3 * vals[i]
                    n += 1
                out[i] = y
                rn[i] = n
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "rn": rn,
                    "ewma": out,
                }
            )

    smoothed = part.mapInPandas(
        fold, "user_id bigint, event_id bigint, rn bigint, ewma double"
    )
    return smoothed.select(
        "user_id", "event_id", "rn", F.round(F.col("ewma"), 9).alias("ewma")
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection — median / MAD outlier rates per event
# type. Mean/stddev thresholds (rolling_zscore_events) move with the
# outliers they hunt; the median absolute deviation is the standard
# robust alternative (50% breakdown point).
# ---------------------------------------------------------------------------
@register(
    "anomaly_mad_events",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
m AS (
  SELECT event_type,
         CAST(CAST(quantile_cont(value, 0.50) AS DECIMAL(18,9)) AS DOUBLE)
           AS med
  FROM ev GROUP BY event_type
),
d AS (
  SELECT ev.event_type, ev.value, m.med, abs(ev.value - m.med) AS dev
  FROM ev JOIN m ON ev.event_type = m.event_type
),
s AS (
  SELECT event_type,
         CAST(CAST(quantile_cont(dev, 0.50) AS DECIMAL(18,9)) AS DOUBLE)
           AS mad
  FROM d GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       MIN(d.med) AS med,
       MIN(s.mad) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3.0 * s.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(CAST(SUM(CASE WHEN d.dev > 3.0 * s.mad THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 9) AS outlier_rate
FROM d JOIN s ON d.event_type = s.event_type
GROUP BY d.event_type
""",
    tags=("analytics", "anomaly", "percentile", "agg"),
    doc="Robust outlier rates per event type: median and median-"
    "absolute-deviation of value, events flagged where "
    "|x - med| > 3·MAD. Unlike the z-score twin "
    "(rolling_zscore_events), the MAD threshold has a 50% breakdown "
    "point — the outliers cannot drag the fence toward themselves. "
    "Both medians are exact interpolated percentiles (Spark "
    "`percentile` ≡ DuckDB `quantile_cont`) pinned through "
    "DECIMAL(18,9) BEFORE the deviation/threshold arithmetic, so the "
    "flag predicate compares bit-identical doubles on both engines — "
    "a raw cross-engine median ULP could otherwise flip a borderline "
    "event. Plan: two grouped aggregates on event_type plus two "
    "broadcast joins of the tiny per-type stats — the event relation "
    "is scanned twice but never reshuffled; at 100 TB swap the exact "
    "percentile for approx_percentile (the sketch twin "
    "approx_percentile_event_values) and keep the identical fence "
    "algebra.",
)
def q_anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select("event_type", "value")
    pin9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
    m = ev.groupBy("event_type").agg(
        pin9(F.percentile(F.col("value"), F.lit(0.5))).alias("med")
    )
    d = ev.join(F.broadcast(m), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    s = d.groupBy("event_type").agg(
        pin9(F.percentile(F.col("dev"), F.lit(0.5))).alias("mad")
    )
    flagged = F.when(F.col("dev") > 3.0 * F.col("mad"), 1).otherwise(0)
    return (
        d.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(flagged).cast("long").alias("n_outliers"),
            F.round(
                F.sum(flagged).cast("double") / F.count("*"), 9
            ).alias("outlier_rate"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC resampling — order-sensitive downsampling (open/close need the
# first/last observation per bucket, not just extrema), the candle
# shape every timeseries store exports.
# ---------------------------------------------------------------------------
@register(
    "resample_ohlc_hourly",
    f"""
WITH ev AS ({EVENTS_TS_SQL})
SELECT event_type,
       (ts_sec // 3600) * 3600 AS hour_bucket,
       COUNT(*) AS n_events,
       (min(struct_pack(t := ts_sec, e := event_id, v := value))).v AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       (max(struct_pack(t := ts_sec, e := event_id, v := value))).v AS close
FROM ev
GROUP BY 1, 2
""",
    tags=("analytics", "timeseries", "rollup"),
    doc="OHLC candle resampling: per (event_type, hour) open / high / "
    "low / close of value. Open and close are ORDER-SENSITIVE — the "
    "portable distributed form is min/max over a (ts_sec, event_id, "
    "value) struct, whose lexicographic comparison both engines share "
    "(Spark struct ordering = DuckDB struct_pack ordering) and whose "
    "(ts_sec, event_id) prefix is UNIQUE, so ties can never fall "
    "through to the value field — unlike first()/arg_min(), whose "
    "tie-breaks are engine- or partition-order-dependent. Struct "
    "min/max is map-side combinable, so the whole candle table is ONE "
    "partial-aggregated shuffle on (type, hour) — the downsampling "
    "pattern that turns 100 TB of raw ticks into a bounded candle "
    "relation without a per-key sort. Values pass through unmodified "
    "(no float arithmetic), so cross-engine bits match trivially.",
)
def q_resample_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_type", "ts_sec", "event_id", "value"
    )
    stamp = F.struct(
        F.col("ts_sec").alias("t"),
        F.col("event_id").alias("e"),
        F.col("value").alias("v"),
    )
    return (
        ev.groupBy(
            "event_type",
            (F.expr("ts_sec div 3600") * 3600).alias("hour_bucket"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(stamp).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(stamp).getField("v").alias("close"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct users — trailing 7-day active users per day
# via bounded fan-out, not a range-frame COUNT(DISTINCT) (which no
# engine can map-combine).
# ---------------------------------------------------------------------------
WAU_WINDOW_DAYS = 7


@register(
    "wau_sliding_distinct",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
ud AS (SELECT DISTINCT user_id, ts_sec // {DAY_SEC} AS day FROM ev),
days AS (SELECT DISTINCT day FROM ud),
contrib AS (
  SELECT ud.user_id, ud.day + o.off AS report_day
  FROM ud, (SELECT unnest(generate_series(0, {WAU_WINDOW_DAYS - 1})) AS off) o
)
SELECT c.report_day,
       COUNT(DISTINCT c.user_id) AS active_users
FROM contrib c JOIN days d ON d.day = c.report_day
GROUP BY 1
""",
    tags=("analytics", "timeseries", "distinct", "window"),
    doc=f"Trailing {WAU_WINDOW_DAYS}-day active users for every "
    "observed day. A RANGE-frame COUNT(DISTINCT) window is the naive "
    "form, but distinct cannot be map-combined inside a sliding "
    "frame; the scalable identity is: dedupe events to (user, day) "
    f"FIRST (the big shrink), fan each user-day out to the "
    f"{WAU_WINDOW_DAYS} report days it supports (bounded explode), "
    "semi-join to observed days (no phantom trailing windows), then "
    "an ordinary COUNT(DISTINCT) per report day. Every stage is a "
    "keyed partial-aggregated shuffle; the fan-out factor is the "
    "window length, independent of data volume — at 100 TB the "
    "user-day relation is the only thing that moves.",
)
def q_wau_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    ud = ev.select(
        "user_id", F.expr(f"ts_sec div {DAY_SEC}").alias("day")
    ).distinct()
    days = ud.select("day").distinct().withColumnRenamed("day", "report_day")
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(WAU_WINDOW_DAYS - 1)
            )
        ).alias("report_day"),
    )
    return (
        contrib.join(days, "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "wau_sliding_hll",
    None,  # HLL sketch estimates are engine-specific → rows-only;
    # the error bound vs the exact twin is pytest-asserted
    tags=("analytics", "timeseries", "sketch", "approx"),
    doc=("Mergeable-sketch twin of wau_sliding_distinct — THE 100 TB "
    "path for sliding distinct counts. The exact twin fans every "
    "(user, day) row out x{WAU} and re-deduplicates users inside "
    "every report day (its 16x scale ratio was the registry's worst "
    "at 2.95: 16x users => 16x distinct sets per day). Here the "
    "per-day DataSketches HLL sketch is built ONCE (one map-combined "
    "shuffle of the raw events), and the x{WAU} fan-out moves only "
    "day-level SKETCHES — a few KB per day, O(days x window) total, "
    "INDEPENDENT of user cardinality — then hll_union_agg merges the "
    "trailing window per report day. Daily sketches are persistable "
    "and re-mergeable to any window length without touching raw "
    "events (same lifecycle as distinct_users_sketch_rollup). Exact "
    "twin stays the oracle; the <2% error bound is pinned in "
    "tests/test_sketches.py.").replace("{WAU}", str(WAU_WINDOW_DAYS)),
)
def q_wau_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    daily = (
        ev.select("user_id", F.expr(f"ts_sec div {DAY_SEC}").alias("day"))
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    days = daily.select(F.col("day").alias("report_day"))
    contrib = daily.select(
        "sk",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(WAU_WINDOW_DAYS - 1)
            )
        ).alias("report_day"),
    )
    return (
        contrib.join(days, "report_day", "left_semi")
        .groupBy("report_day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "active_users_est"
            )
        )
    )


# ---------------------------------------------------------------------------
# Path analysis — the top user journeys (ordered event-type sequences
# per user-day) and the first-order Markov transition matrix between
# event types.
# ---------------------------------------------------------------------------
@register(
    "session_paths_topk",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
p AS (
  SELECT user_id, ts_sec // {DAY_SEC} AS day,
         string_agg(event_type, '>' ORDER BY ts_sec, event_id) AS path
  FROM ev GROUP BY user_id, ts_sec // {DAY_SEC}
)
SELECT path, COUNT(*) AS n_journeys
FROM p GROUP BY path
ORDER BY n_journeys DESC, path
LIMIT 20
""",
    tags=("analytics", "path", "topk"),
    doc="Top user journeys: each (user, day)'s event types concatenated "
    "in (ts_sec, event_id) order into a path string, then the 20 most "
    "common paths. Ordered aggregation is the cross-engine trap — "
    "DuckDB's string_agg(... ORDER BY) and Spark's "
    "sort_array(collect_list(struct))+transform+concat_ws build the "
    "SAME string because the (ts_sec, event_id) sort key is unique "
    "and total; a bare collect_list would be partition-order "
    "nondeterministic. Per-journey state is one user-day's events "
    "(bounded), the heavy shuffle keys on (user, day) — high "
    "cardinality, no hot key — and the top-k is a partial-aggregated "
    "count with a total tiebreak order. The classic funnel-discovery "
    "complement to funnel_conversion's fixed-order check.",
)
def q_session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "event_type"
    )
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("ts_sec").alias("t"),
                F.col("event_id").alias("e"),
                F.col("event_type").alias("y"),
            )
        )
    )
    paths = (
        ev.groupBy("user_id", F.expr(f"ts_sec div {DAY_SEC}").alias("day"))
        .agg(
            F.concat_ws(
                ">", F.transform(arr, lambda x: x.getField("y"))
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), F.col("path"))
        .limit(20)
    )


@register(
    "event_transition_matrix",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
s AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts_sec, event_id) AS next_type
  FROM ev
),
c AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
),
t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
SELECT c.from_type, c.to_type,
       c.n AS n_transitions,
       round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 9) AS prob
FROM c JOIN t ON c.from_type = t.from_type
""",
    tags=("analytics", "path", "window"),
    doc="First-order Markov transition matrix between event types: "
    "within each user's (ts_sec, event_id)-ordered stream, count "
    "(current, next) pairs via lead() and normalize per source type. "
    "ONE window shuffle on user_id produces every pair; the "
    "normalizer join moves |event_type|² tiny rows. Row-normalized "
    "probabilities are an exact integer division rounded at 9 "
    "digits, so the matrix hash-matches cross-engine. The "
    "distribution-level generalization of device_transitions' "
    "specific purchase-carry rule; each row's probs sum to 1 "
    "(pinned in tests).",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    s = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = s.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    t = c.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    return c.join(F.broadcast(t), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 9)
        .alias("prob"),
    )


# ---------------------------------------------------------------------------
# Bootstrap confidence intervals — distributional uncertainty for a
# mean, with DETERMINISTIC replicate membership (hash half-sampling)
# so the whole resampling plan is oracle-checkable.
# ---------------------------------------------------------------------------
BOOT_REPS = 32

from msstreamingstack_spark.functions.text import hash48, hash48_sql  # noqa: E402


@register(
    "bootstrap_ci_value_mean",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
h AS (
  SELECT event_type, value,
         {hash48_sql("CAST(event_id AS VARCHAR)")} AS h
  FROM ev
),
b AS (SELECT unnest(generate_series(0, {BOOT_REPS - 1})) AS rep),
m AS (
  SELECT h.event_type, b.rep,
         CAST(SUM(CAST(round(h.value * 100, 0) AS DECIMAL(38,0)))
              AS DOUBLE) / COUNT(*) AS rep_mean
  FROM h JOIN b
    ON (h.h // (CAST(1 AS BIGINT) << b.rep)) % 2 = 0
  GROUP BY 1, 2
)
SELECT event_type,
       COUNT(*) AS n_reps,
       CAST(CAST(quantile_cont(rep_mean, 0.025) AS DECIMAL(18,9)) AS DOUBLE)
         AS ci_lo,
       CAST(CAST(quantile_cont(rep_mean, 0.500) AS DECIMAL(18,9)) AS DOUBLE)
         AS ci_mid,
       CAST(CAST(quantile_cont(rep_mean, 0.975) AS DECIMAL(18,9)) AS DOUBLE)
         AS ci_hi
FROM m GROUP BY event_type
""",
    tags=("analytics", "stats", "bootstrap"),
    doc=f"Bootstrap CI for the per-type mean value (integer cents): "
    f"{BOOT_REPS} half-sample replicates whose membership is bit r of "
    "ONE 48-bit md5 of the event_id — deterministic, so unlike RNG "
    "bootstraps the whole resampling distribution is DuckDB-"
    "oracle-checkable bit-for-bit, and ~2.4x cheaper than the round-6 "
    f"form ({BOOT_REPS} per-(event,rep) md5s of a concat string; the "
    "round-7 A/B measured 5.1 -> 2.1 s at sf0.1): the hash runs once "
    "per event BEFORE the replicate fan-out, and per-pair membership "
    "is a pure integer bit test (h div 2^rep) % 2 — md5 bits are "
    "independent, so 32 bits of one digest are 32 half-samples. "
    "Replicate means are exact DECIMAL(38,0) cent sums over one "
    f"map-combined shuffle of the {BOOT_REPS}-way fan-out (constant "
    f"factor, independent of data volume — each event carries "
    f"~{BOOT_REPS // 2} replicate rows); the 2.5/50/97.5 percentiles run "
    "over just n_types x n_reps numbers. Subsampling (m-out-of-n "
    "without replacement) rather than multinomial resampling: same "
    "estimator family, and membership stays a stateless per-row "
    "predicate at any scale.",
)
def q_bootstrap_ci_value_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_type",
        hash48(F.col("event_id").cast("string")).alias("h"),
        "value",
    )
    # r11 negative result: a
    # one-pass 2·REPS-conditional-aggregate form (the simhash-votes
    # pattern) was built and interleaved-A/B'd at 1.6x SLOWER than
    # this fan-out (2.29 vs 1.41 s best-of) — 64 DECIMAL agg-updates
    # per input row cost more than materializing the filtered
    # replicate rows into an efficient columnar partial agg. The
    # crossJoin fan-out stays.
    reps = spark.range(BOOT_REPS).select(
        F.col("id").cast("int").alias("rep"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").alias(
            "rep_pow"
        ),
    )
    member = F.expr("(h div rep_pow) % 2 = 0")
    m = (
        ev.crossJoin(F.broadcast(reps))
        .filter(member)
        .groupBy("event_type", "rep")
        .agg(
            (
                F.sum(
                    F.round(F.col("value") * 100, 0).cast("decimal(38,0)")
                ).cast("double")
                / F.count("*")
            ).alias("rep_mean")
        )
    )
    pin9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
    return m.groupBy("event_type").agg(
        F.count("*").alias("n_reps"),
        pin9(F.percentile(F.col("rep_mean"), F.lit(0.025))).alias("ci_lo"),
        pin9(F.percentile(F.col("rep_mean"), F.lit(0.500))).alias("ci_mid"),
        pin9(F.percentile(F.col("rep_mean"), F.lit(0.975))).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap statistics — the temporal-health signal behind
# sessionization gap thresholds and rate alerting.
# ---------------------------------------------------------------------------
@register(
    "events_gap_stats",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
g AS (
  SELECT event_type,
         ts_sec - lag(ts_sec) OVER (PARTITION BY user_id
                                    ORDER BY ts_sec, event_id) AS gap
  FROM ev
)
SELECT event_type, COUNT(*) AS n_gaps,
       CAST(CAST(quantile_cont(gap, 0.50) AS DECIMAL(18,9)) AS DOUBLE)
         AS p50_gap_sec,
       CAST(CAST(quantile_cont(gap, 0.90) AS DECIMAL(18,9)) AS DOUBLE)
         AS p90_gap_sec,
       CAST(MAX(gap) AS BIGINT) AS max_gap_sec
FROM g WHERE gap IS NOT NULL
GROUP BY event_type
""",
    tags=("analytics", "temporal", "percentile"),
    doc="Inter-arrival gap percentiles: per event type, the "
    "distribution of seconds since the SAME USER's previous event "
    "(any type) — the evidence behind choosing a sessionization gap "
    "threshold (p90 ≪ 1800 s validates the 30-min rule) and the "
    "baseline for arrival-rate anomaly alerts. One user_id window "
    "shuffle computes every lag; integer gaps flow into the pinned "
    "exact-percentile pattern (Spark percentile ≡ DuckDB "
    "quantile_cont through DECIMAL(18,9)). At 100 TB swap the exact "
    "percentile for the sketch twin, keeping the identical lag "
    "derivation.",
)
def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    g = ev.select(
        "event_type",
        (F.col("ts_sec") - F.lag("ts_sec").over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    pin9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        pin9(F.percentile(F.col("gap"), F.lit(0.5))).alias("p50_gap_sec"),
        pin9(F.percentile(F.col("gap"), F.lit(0.9))).alias("p90_gap_sec"),
        F.max("gap").cast("long").alias("max_gap_sec"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation — recency/frequency/monetary quintiles, the classic
# customer-base stratification.
# ---------------------------------------------------------------------------
@register(
    "rfm_segments",
    """
WITH o AS (
  SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS od_sec,
         o_totalprice
  FROM orders
),
c AS (
  SELECT o_custkey AS custkey, MAX(od_sec) AS last_sec,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
           AS monetary
  FROM o GROUP BY 1
),
q AS (
  SELECT custkey, n_orders, monetary,
         NTILE(5) OVER (ORDER BY last_sec, custkey) AS r_q,
         NTILE(5) OVER (ORDER BY n_orders, custkey) AS f_q,
         NTILE(5) OVER (ORDER BY monetary, custkey) AS m_q
  FROM c
)
SELECT r_q * 100 + f_q * 10 + m_q AS rfm_code,
       COUNT(*) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS total_orders,
       CAST(SUM(CAST(monetary AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
         AS avg_monetary
FROM q GROUP BY 1
""",
    tags=("analytics", "segmentation", "window"),
    doc="RFM segmentation: customers scored into quintiles on "
    "recency (last order epoch), frequency (order count) and "
    "monetary (DECIMAL-exact spend), composed into the classic "
    "3-digit RFM code (555 = best) and profiled per segment. All "
    "three NTILE orders carry the custkey tiebreak (total order ⇒ "
    "identical quintile boundaries cross-engine; monetary is an "
    "exact-decimal-derived double so its sort is bit-stable too). "
    "The global NTILE windows are single-partition but run over ONE "
    "ROW PER CUSTOMER after the aggregate — the same bounded-input "
    "justification as ltv_deciles/window_rank_family; the per-order "
    "shuffle on custkey is the scaling stage.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("timestamp_ltz").cast("long")).alias(
            "last_sec"
        ),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("monetary"),
    )
    q = c.select(
        "custkey",
        "n_orders",
        "monetary",
        F.ntile(5).over(Window.orderBy("last_sec", "custkey")).alias("r_q"),
        F.ntile(5).over(Window.orderBy("n_orders", "custkey")).alias("f_q"),
        F.ntile(5).over(Window.orderBy("monetary", "custkey")).alias("m_q"),
    )
    return (
        q.groupBy(
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).alias(
                "rfm_code"
            )
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("total_orders"),
            (
                F.sum(F.col("monetary").cast("decimal(25,6)")).cast("double")
                / F.count("*")
            ).alias("avg_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket association — brand co-occurrence support/confidence/
# lift over order baskets.
# ---------------------------------------------------------------------------
BASKET_MIN_SUPPORT = 5
BASKET_CAP_B = 16  # capped variant: top-B brands per basket


def _basket_pairs_from_arrays(baskets: DataFrame) -> DataFrame:
    """(okey, sorted-distinct brand array) -> (brand_a, brand_b, n_ab).

    Pair generation is a map-side JVM index walk over the sorted
    array (i < j pairs via nested transform + flatten), so the only
    event-sized shuffle is the groupBy that built the baskets; the
    pair aggregate partial-combines into the (brand x brand) grid
    before its tiny exchange. Replaces the r8 okey self-join, whose
    two event-sized exchange legs carried width^2 joined rows."""
    arr = F.col("brands")
    pair_arr = F.when(
        F.size(arr) >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.transform(
                    F.sequence(i + F.lit(1), F.size(arr)),
                    lambda j: F.struct(
                        F.element_at(arr, i).alias("brand_a"),
                        F.element_at(arr, j).alias("brand_b"),
                    ),
                ),
            )
        ),
    ).otherwise(
        F.array().cast("array<struct<brand_a:string,brand_b:string>>")
    )
    return (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.brand_a", "p.brand_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )


def _basket_lift_tail(
    pairs: DataFrame, bc: DataFrame, n: DataFrame
) -> DataFrame:
    """support/confidence/lift projection shared by the exact and
    capped kernels — exact-integer divisions rounded at 9 digits."""
    return (
        pairs.join(
            F.broadcast(
                bc.select(
                    F.col("brand").alias("brand_a"), F.col("n_b").alias("na")
                )
            ),
            "brand_a",
        )
        .join(
            F.broadcast(
                bc.select(
                    F.col("brand").alias("brand_b"), F.col("n_b").alias("nb")
                )
            ),
            "brand_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_orders"), 9
            ).alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 9).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb")),
                9,
            ).alias("lift"),
        )
    )


@register(
    "basket_lift_pairs",
    f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
bc AS (SELECT brand, COUNT(*) AS n_b FROM ob GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_ab,
       round(CAST(n_ab AS DOUBLE) / n.n_orders, 9) AS support,
       round(CAST(n_ab AS DOUBLE) / ca.n_b, 9) AS confidence_a_to_b,
       round(CAST(n_ab AS DOUBLE) * n.n_orders / (ca.n_b * cb.n_b), 9)
         AS lift
FROM pairs
JOIN bc ca ON ca.brand = pairs.brand_a
JOIN bc cb ON cb.brand = pairs.brand_b, n
WHERE n_ab >= {BASKET_MIN_SUPPORT}
""",
    tags=("analytics", "association", "join"),
    doc="Market-basket association rules over order baskets: brand "
    "pairs co-occurring in the same order, with support, directional "
    "confidence and lift (lift > 1 ⇒ bought together more than "
    "independence predicts). The basket relation dedupes to "
    "(order, brand) FIRST, so pair fan-out is bounded by basket "
    "width (distinct brands per order), never by line items. r9 "
    "shape: ONE groupBy(okey) shuffle builds the sorted brand array "
    "per order, pairs explode MAP-SIDE from the array (i<j index "
    "walk, JVM transform/flatten) straight into a partial-combined "
    "25x25 brand-grid aggregate — the r8 okey self-join (two "
    "event-sized shuffle legs + width^2 joined rows through the "
    "exchange, the 5.03x-at-64x watch item) is gone. Brand "
    "cardinality (25) bounds the output and makes the per-brand "
    "counts a broadcast; see basket_lift_pairs_capped for catalogs "
    "where per-basket width itself needs a bound. All ratios are "
    "divisions of exact integers rounded at 9 digits. The "
    "association-rule complement to the copurchase PageRank (which "
    "ranks nodes; this scores EDGES with calibrated statistics).",
)
def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE event-sized shuffle in the whole query: the okey groupBy
    # whose collect_set IS the (order, brand) distinct. n_orders, the
    # per-brand counts, and the pairs all derive from the persisted
    # orders-sized baskets frame — the r9.0 form computed the
    # lineitem-join + distinct THREE times (once per consumer) and
    # measured 10.5x at 64x data for it; this shape re-measured 2.3x.
    from msstreamingstack_spark.caching import rotating_persist

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = rotating_persist(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("brands")),
        "basket_lift.baskets",
    )
    n = baskets.agg(F.count("*").alias("n_orders"))
    bc = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").alias("n_b"))
    )
    return _basket_lift_tail(_basket_pairs_from_arrays(baskets), bc, n)


@register(
    "basket_lift_pairs_capped",
    f"""
WITH obc AS (
  SELECT l.l_orderkey AS okey, p.p_brand AS brand, COUNT(*) AS nl
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ob AS (
  SELECT okey, brand FROM (
    SELECT okey, brand,
           ROW_NUMBER() OVER (PARTITION BY okey
                              ORDER BY nl DESC, brand) AS rk
    FROM obc
  ) WHERE rk <= {BASKET_CAP_B}
),
n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
bc AS (SELECT brand, COUNT(*) AS n_b FROM ob GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_ab,
       round(CAST(n_ab AS DOUBLE) / n.n_orders, 9) AS support,
       round(CAST(n_ab AS DOUBLE) / ca.n_b, 9) AS confidence_a_to_b,
       round(CAST(n_ab AS DOUBLE) * n.n_orders / (ca.n_b * cb.n_b), 9)
         AS lift
FROM pairs
JOIN bc ca ON ca.brand = pairs.brand_a
JOIN bc cb ON cb.brand = pairs.brand_b, n
WHERE n_ab >= {BASKET_MIN_SUPPORT}
""",
    tags=("analytics", "association", "join", "skew"),
    doc=f"basket_lift_pairs with the per-basket fan-out BOUND the "
    "general (high-cardinality-catalog) case needs: each basket "
    f"keeps its top-{BASKET_CAP_B} brands by in-basket line-item "
    "count (ties broken by brand — a deterministic total order, so "
    f"the cap is part of the DEFINITION and the oracle applies the "
    "identical ROW_NUMBER rule, hash-exact at every SF). Pair count "
    f"per basket is <= C({BASKET_CAP_B},2) = "
    f"{BASKET_CAP_B * (BASKET_CAP_B - 1) // 2} no matter how wide "
    "baskets grow — the degree-oriented discipline of the triangle "
    "kernel's KNN cap. On this catalog (25 brands, widths <= 14 at "
    "sf0.1) the cap rarely binds, so stats track the exact kernel; "
    "the bound is what survives a catalog with 10^6 items.",
)
def q_basket_lift_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 shape: the in-basket counts come from a MAP-COMBINED
    # groupBy(okey, brand) whose exchange carries only DISTINCT
    # (okey, brand) rows — the r9 form collect_list'ed every raw
    # line-item brand through the okey exchange and then paid an
    # O(width x distinct) higher-order filter scan per basket, which
    # is what inflated the 64x fixture (width grows with data
    # density, so the HOF cost grew quadratically). Here the second
    # groupBy(okey) assembles the already-counted (negn, brand)
    # structs, and the top-B cap is an O(D log D) array_sort + slice
    # — the oracle's ROW_NUMBER rule ((nl DESC, brand) == struct
    # order (negn ASC, brand ASC)), evaluated order-free per basket.
    from msstreamingstack_spark.caching import rotating_persist

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    obc = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("l_orderkey").alias("okey"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.count("*").alias("nl"))
    )
    capped = F.expr(
        f"array_sort(transform(slice(array_sort(sb), 1, {BASKET_CAP_B}),"
        " s -> s.brand))"
    )
    baskets = rotating_persist(
        obc.groupBy("okey")
        .agg(
            F.collect_list(
                F.struct((-F.col("nl")).alias("negn"), F.col("brand"))
            ).alias("sb")
        )
        .select("okey", capped.alias("brands")),
        "basket_lift.baskets_capped",
    )
    n = baskets.agg(F.count("*").alias("n_orders"))
    bc = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").alias("n_b"))
    )
    return _basket_lift_tail(_basket_pairs_from_arrays(baskets), bc, n)


# ---------------------------------------------------------------------------
# Weekly seasonality profile — day-of-week x type traffic shape from
# pure integer epoch arithmetic (no calendar functions, whose week
# conventions differ by engine and locale).
# ---------------------------------------------------------------------------
@register(
    "events_dow_profile",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
d AS (
  SELECT event_type, (ts_sec // {DAY_SEC} + 4) % 7 AS dow FROM ev
),
t AS (SELECT event_type, COUNT(*) AS n_type FROM d GROUP BY event_type)
SELECT d.event_type, d.dow, COUNT(*) AS n_events,
       round(CAST(COUNT(*) AS DOUBLE) / t.n_type, 9) AS share_of_type
FROM d JOIN t ON d.event_type = t.event_type
GROUP BY d.event_type, d.dow, t.n_type
""",
    tags=("analytics", "temporal", "agg"),
    doc="Weekly seasonality: event share per (type, day-of-week). The "
    "dow derives from INTEGER epoch arithmetic — (epoch_day + 4) % 7, "
    "0=Sunday (1970-01-01, epoch day 0, maps to 4=Thursday; pinned "
    "against python datetime in tests) — instead of "
    "calendar functions (dayofweek()/dow() start weeks differently "
    "per engine and locale, a classic silent cross-engine split). "
    "One map-combined shuffle on (type, dow) plus a broadcast of the "
    "per-type totals; shares are exact integer divisions rounded at "
    "9 digits.",
)
def q_events_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select("event_type", "ts_sec")
    d = ev.select(
        "event_type",
        ((F.expr(f"ts_sec div {DAY_SEC}") + 4) % 7).alias("dow"),
    )
    t = d.groupBy("event_type").agg(F.count("*").alias("n_type"))
    return (
        d.groupBy("event_type", "dow")
        .agg(F.count("*").alias("n_events"))
        .join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "dow",
            "n_events",
            F.round(
                F.col("n_events").cast("double") / F.col("n_type"), 9
            ).alias("share_of_type"),
        )
    )


# ---------------------------------------------------------------------------
# Oracled sliding-window HLL (r10): the wau_sliding_hll production
# twin keeps Spark's native DataSketches path (rows-only by design);
# this row proves the SLIDING merge structure itself is cross-engine
# verifiable with the deterministic 64-register HLL primitive shared
# with approx_distinct_users_hll_oracled.
# ---------------------------------------------------------------------------
from msstreamingstack_spark.functions.sketch import (  # noqa: E402
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
    HLL_RHO_MAX as _HLL_RHO_MAX,
)


@register(
    "wau_sliding_hll_oracled",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
h AS (
  SELECT ts_sec // {DAY_SEC} AS day,
         {hash48_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM ev
),
b AS (
  SELECT day, hv & 63 AS reg,
         {_HLL_RHO_MAX} - CASE WHEN (hv >> 6) = 0 THEN 0
                               ELSE length(bin(hv >> 6)) END AS rho
  FROM h
),
m AS (SELECT day, reg, MAX(rho) AS mr FROM b GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM m),
c AS (
  SELECT m.reg, m.mr, m.day + o.off AS report_day
  FROM m, (SELECT unnest(generate_series(0, {WAU_WINDOW_DAYS - 1}))
           AS off) o
),
w AS (
  SELECT c.report_day, c.reg, MAX(c.mr) AS mr
  FROM c JOIN days d ON d.day = c.report_day
  GROUP BY 1, 2
),
agg AS (
  SELECT report_day, COUNT(*) AS n_regs_hit,
         SUM(1.0 / CAST(1::BIGINT << mr AS DOUBLE)) AS sp
  FROM w GROUP BY 1
),
ud AS (SELECT DISTINCT user_id, ts_sec // {DAY_SEC} AS day FROM ev),
contrib AS (
  SELECT ud.user_id, ud.day + o.off AS report_day
  FROM ud, (SELECT unnest(generate_series(0, {WAU_WINDOW_DAYS - 1}))
            AS off) o
),
ex AS (
  SELECT c2.report_day, COUNT(DISTINCT c2.user_id) AS exact_users
  FROM contrib c2 JOIN days d ON d.day = c2.report_day
  GROUP BY 1
)
SELECT agg.report_day,
       CAST(n_regs_hit AS BIGINT) AS n_regs_hit,
       sp + ({_HLL_M} - n_regs_hit) AS sum_pow,
       ({_HLL_ALPHA} * {_HLL_M * _HLL_M}.0)
         / (sp + ({_HLL_M} - n_regs_hit)) AS hll_estimate,
       exact_users
FROM agg JOIN ex USING (report_day)
""",
    tags=("analytics", "timeseries", "sketch", "approx", "window"),
    doc="The ORACLED twin of wau_sliding_hll: trailing "
    f"{WAU_WINDOW_DAYS}-day active-user estimates from the "
    "deterministic 64-register md5-hash48 HLL shared with "
    "approx_distinct_users_hll_oracled — register states, the sliding "
    "merge, and the raw estimate all hash-match DuckDB. The sliding "
    "structure is the point: per-day register maxes build in ONE "
    "map-combined shuffle of raw events, then the x"
    f"{WAU_WINDOW_DAYS} fan-out moves only (day, reg, rho) rows — "
    f"{_HLL_M} registers/day regardless of user cardinality — and "
    "re-maxing per report day IS the sketch union, exactly the merge "
    "the native DataSketches twin performs opaquely. Exact rides "
    "along for visible error. Dyadic-rational float algebra per the "
    "HLL-twin precedent: every partial sum fits 49 mantissa bits, so "
    "DOUBLE addition is exact and order-free in both engines.",
)
def q_wau_sliding_hll_oracled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    h = hash48(F.col("user_id").cast("string"))
    w = F.shiftright(F.col("hv"), 6)
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    b = ev.select(
        F.expr(f"ts_sec div {DAY_SEC}").alias("day"), h.alias("hv")
    ).select(
        "day",
        F.col("hv").bitwiseAND(F.lit(63)).alias("reg"),
        (F.lit(_HLL_RHO_MAX) - bitlen).alias("rho"),
    )
    m = b.groupBy("day", "reg").agg(F.max("rho").alias("mr"))
    days = m.select("day").distinct().withColumnRenamed("day", "report_day")
    c = m.select(
        "reg",
        "mr",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(WAU_WINDOW_DAYS - 1)
            )
        ).alias("report_day"),
    )
    wreg = (
        c.join(days, "report_day", "left_semi")
        .groupBy("report_day", "reg")
        .agg(F.max("mr").alias("mr"))
    )
    agg = wreg.groupBy("report_day").agg(
        F.count("*").alias("n_regs_hit"),
        F.sum(
            F.lit(1.0)
            / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(mr AS INT))")
        ).alias("sp"),
    )
    ud = ev.select(
        "user_id", F.expr(f"ts_sec div {DAY_SEC}").alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(WAU_WINDOW_DAYS - 1)
            )
        ).alias("report_day"),
    )
    ex = (
        contrib.join(days, "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    sum_pow = F.col("sp") + (F.lit(_HLL_M) - F.col("n_regs_hit"))
    return (
        agg.join(ex, "report_day")
        .select(
            "report_day",
            F.col("n_regs_hit").cast("long").alias("n_regs_hit"),
            sum_pow.alias("sum_pow"),
            (F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / sum_pow).alias(
                "hll_estimate"
            ),
            "exact_users",
        )
    )


# ---------------------------------------------------------------------------
# Theta-sketch segment overlap — audience intersection between event
# types estimated from per-segment bottom-K (KMV) sketches, the set
# algebra the HLL/KMV family was still missing: union is register
# re-max / sample re-rank, but INTERSECTION needs the theta estimator
# (common survivors below the combined theta, scaled back up).
# ---------------------------------------------------------------------------
THETA_K = 64
_THETA_SPACE = 1 << 48  # exhaustive-mode theta: the whole hash space


@register(
    "segment_overlap_theta",
    f"""
WITH du AS (
  SELECT DISTINCT event_type,
         {hash48_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM events
),
samp AS (
  SELECT event_type, hv FROM (
    SELECT event_type, hv,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
    FROM du
  ) WHERE rn <= {THETA_K}
),
summ AS (
  SELECT event_type, COUNT(*) AS k_used,
         CASE WHEN COUNT(*) < {THETA_K} THEN {_THETA_SPACE}
              ELSE MAX(hv) END AS theta
  FROM samp GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.k_used AS k_a, b.k_used AS k_b,
         LEAST(a.theta, b.theta) AS theta_ab
  FROM summ a JOIN summ b ON a.event_type < b.event_type
),
common AS (
  SELECT p.type_a, p.type_b, COUNT(*) AS common_k
  FROM samp sa JOIN samp sb ON sa.hv = sb.hv
       AND sa.event_type < sb.event_type
  JOIN pairs p ON p.type_a = sa.event_type AND p.type_b = sb.event_type
  WHERE sa.hv < p.theta_ab
  GROUP BY 1, 2
),
exact AS (
  SELECT ua.event_type AS type_a, ub.event_type AS type_b,
         COUNT(*) AS exact_overlap
  FROM (SELECT DISTINCT event_type, user_id FROM events) ua
  JOIN (SELECT DISTINCT event_type, user_id FROM events) ub
       ON ua.user_id = ub.user_id AND ua.event_type < ub.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.k_a, p.k_b, p.theta_ab,
       COALESCE(c.common_k, 0) AS common_k,
       CAST(COALESCE(c.common_k, 0) AS DOUBLE) * 281474976710656.0
         / CAST(p.theta_ab AS DOUBLE) AS est_overlap,
       COALESCE(x.exact_overlap, 0) AS exact_overlap
FROM pairs p
LEFT JOIN common c ON p.type_a = c.type_a AND p.type_b = c.type_b
LEFT JOIN exact x ON p.type_a = x.type_a AND p.type_b = x.type_b
""",
    tags=("analytics", "sketch", "approx", "set-intersection"),
    doc="Theta-sketch audience intersection: per event_type a bottom-"
    f"{THETA_K} KMV sketch of hash48(user_id) (theta = K-th smallest "
    "when the segment is bigger than K, else the whole hash space = "
    "exact mode), then for every type pair the standard theta "
    "estimator — common sample values strictly below the combined "
    "theta, scaled by space/theta. Completes the sketch family's set "
    "algebra next to the HLL union (register re-max) and the KMV "
    "quantile merge (bottom-K re-rank): INTERSECTION cannot be "
    "answered by either without this estimator. Cross-engine exact "
    "because everything is integer until one final IEEE multiply+"
    "divide on exactly-representable operands (common_k*2^48 is a "
    "multiple of a power of two; theta < 2^49). 100 TB: the distinct "
    "(type, user) pass is the only full-data shuffle (map-combined "
    "distinct on a high-cardinality key — the salting twin applies if "
    "one type dominates); samples are T*K rows, so the pairwise "
    "stage touches O(T^2 K) rows regardless of corpus size. The exact "
    "rider self-joins the distinct frame with per-user fan-out "
    "bounded by T^2 — drop it at deployment scale, it exists for "
    "visible sketch error. Extension beyond the reference engine "
    "(SURVEY.md SS2.5: no sketch surface).",
)
def q_segment_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.caching import rotating_persist
    from msstreamingstack_spark.functions.text import hash48

    ev = events_with_time(spark, sf_dir)
    # ONE full-data (type, user) distinct pass feeds both the sketch
    # side (hashed) and the exact rider — hash48 is injective per
    # distinct user modulo hash collisions, which the KMV definition
    # absorbs (the oracle distincts the hashed pairs identically).
    # eager: the frame feeds the broadcast(common)/broadcast(exact)
    # subtrees, whose concurrent builds race a lazy cache (r10 A/B).
    tu = rotating_persist(
        ev.select("event_type", "user_id").distinct(),
        "theta.tu",
        eager=True,
    )
    du = (
        tu.select(
            "event_type",
            hash48(F.col("user_id").cast("string")).alias("hv"),
        )
        .distinct()
    )
    wN = Window.partitionBy("event_type").orderBy("hv")
    # samp is tiny (<= T*K rows) but costs two shuffles (distinct +
    # window) to build, and the final plan references it four times
    # (summ in pairs, sa, sb, and pairs again in the output join) —
    # persist so the window pass runs once; eager because it feeds the
    # broadcast(common)/broadcast(pairs) subtrees (same race as tu)
    samp = rotating_persist(
        du.withColumn("rn", F.row_number().over(wN))
        .filter(F.col("rn") <= THETA_K)
        .drop("rn"),
        "theta.samp",
        eager=True,
    )
    summ = samp.groupBy("event_type").agg(
        F.count("*").alias("k_used"),
        F.when(F.count("*") < THETA_K, F.lit(_THETA_SPACE))
        .otherwise(F.max("hv"))
        .alias("theta"),
    )
    a, b = summ.alias("a"), summ.alias("b")
    pairs = (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.k_used").alias("k_a"),
            F.col("b.k_used").alias("k_b"),
            F.least(F.col("a.theta"), F.col("b.theta")).alias("theta_ab"),
        )
    )
    sa, sb = samp.alias("sa"), samp.alias("sb")
    common = (
        sa.join(
            sb,
            (F.col("sa.hv") == F.col("sb.hv"))
            & (F.col("sa.event_type") < F.col("sb.event_type")),
        )
        .select(
            F.col("sa.event_type").alias("type_a"),
            F.col("sb.event_type").alias("type_b"),
            F.col("sa.hv").alias("hv"),
        )
        .join(
            F.broadcast(pairs.select("type_a", "type_b", "theta_ab")),
            ["type_a", "type_b"],
        )
        .filter(F.col("hv") < F.col("theta_ab"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("common_k"))
    )
    # r11 (guide §2.3/§2.4): the exact rider was a tu×tu self-join on
    # user_id (sort + merge of the full distinct frame, T² fan-out
    # through the join). Per-user type-set + in-array pair expansion
    # is the same multiset of (a<b) pairs — tu is distinct, so each
    # user's type set has each type once and the self-join emitted
    # exactly the a<b pairs of that set — for ONE map-combined
    # groupBy(user) exchange and a bounded C(T,2) explode.
    exact = (
        tu.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("ts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, x -> transform("
                    "filter(ts, y -> y > x),"
                    " y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.type_a").alias("type_a"),
            F.col("p.type_b").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_overlap"))
    )
    return (
        pairs.join(F.broadcast(common), ["type_a", "type_b"], "left")
        .join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "k_a",
            "k_b",
            "theta_ab",
            F.coalesce(F.col("common_k"), F.lit(0)).alias("common_k"),
            (
                F.coalesce(F.col("common_k"), F.lit(0)).cast("double")
                * F.lit(281474976710656.0)
                / F.col("theta_ab").cast("double")
            ).alias("est_overlap"),
            F.coalesce(F.col("exact_overlap"), F.lit(0)).alias(
                "exact_overlap"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint scan — cumulative-deviation drift detection per
# event_type over hourly buckets, the sequential-analysis shape the
# anomaly family (rolling z-score, MAD) was missing: those flag point
# outliers, CUSUM flags SUSTAINED level shifts.
# ---------------------------------------------------------------------------
CUSUM_SLACK_DIV = 20  # allowance = mu/20 (5% of the per-type mean)
CUSUM_ALARM_DIV = 20  # alarm when S > total/20


@register(
    "anomaly_cusum_events",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
hourly AS (
  SELECT event_type, (ts_sec // 3600) * 3600 AS hour_bucket,
         COUNT(*) AS n_events,
         {_dec_sum_sql('value', 'hourly_sum')},
         CAST(SUM(CAST(value AS DECIMAL(25,6))) * 1000000 AS BIGINT)
           AS xi
  FROM ev GROUP BY 1, 2
),
tot AS (
  SELECT *, SUM(xi) OVER (PARTITION BY event_type) AS t_sum,
         COUNT(*) OVER (PARTITION BY event_type) AS n_hours
  FROM hourly
),
dev AS (
  SELECT *,
         xi - (t_sum // n_hours) - ((t_sum // n_hours) // {CUSUM_SLACK_DIV})
           AS d
  FROM tot
),
cum1 AS (
  SELECT *,
         SUM(d) OVER (PARTITION BY event_type ORDER BY hour_bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM dev
),
cum AS (
  SELECT *,
         MIN(c) OVER (PARTITION BY event_type ORDER BY hour_bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cmin
  FROM cum1
)
SELECT event_type, hour_bucket, n_events, hourly_sum,
       CAST(c - LEAST(0, cmin) AS DOUBLE) / 1000000.0 AS cusum_stat,
       (c - LEAST(0, cmin)) * {CUSUM_ALARM_DIV} > t_sum AS alarm
FROM cum
""",
    tags=("analytics", "anomaly", "timeseries", "window"),
    doc="One-sided CUSUM drift scan per event_type on hourly value "
    "mass: S_t = max(0, S_t-1 + (x_t - mu - slack)) flags SUSTAINED "
    "upward level shifts (traffic surges, bot floods, metric drift) "
    "that the registry's point-outlier detectors (rolling_zscore, "
    "MAD) smooth over. The clamp recursion is NOT a prefix sum, but "
    "the classic identity S_t = C_t - min(0, min_i<=t C_i) turns it "
    "into two stock window folds — cumulative sum + running minimum "
    "— so no UDF, no iteration, whole-stage codegen end to end. "
    "Cross-engine exact via the pagerank discipline: hourly mass in "
    "integer MICROS (DECIMAL(25,6) sum * 1e6 -> BIGINT, exact), mean "
    "and slack by positive-integer floor division (events.value >= 0 "
    "— Spark div truncation == DuckDB // floor only for non-negative "
    "operands, same precondition pagerank documents), every window "
    "op on BIGINTs; the only float steps are one exact cast and one "
    "IEEE divide at output. 100 TB: the raw scan collapses map-side "
    "into the (type, hour) hourly frame — bounded at types x hours "
    "regardless of event volume — and both window folds run on that "
    "bounded frame. Extension (SURVEY.md SS2.5: no anomaly surface "
    "in the reference).",
)
def q_anomaly_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_type", "ts_sec", "value"
    )
    hourly = ev.groupBy(
        "event_type",
        (F.expr("ts_sec div 3600") * 3600).alias("hour_bucket"),
    ).agg(
        F.count("*").alias("n_events"),
        _dec_sum(F.col("value"), "hourly_sum"),
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(25,6))) * 1000000 AS BIGINT)"
        ).alias("xi"),
    )
    w_all = Window.partitionBy("event_type")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = hourly.withColumn("t_sum", F.sum("xi").over(w_all)).withColumn(
        "n_hours", F.count("*").over(w_all)
    )
    dev = tot.withColumn(
        "d",
        F.col("xi")
        - F.expr("t_sum div n_hours")
        - F.expr(f"(t_sum div n_hours) div {CUSUM_SLACK_DIV}"),
    )
    cum = dev.withColumn("c", F.sum("d").over(wo)).withColumn(
        "cmin", F.min("c").over(wo)
    )
    s = F.col("c") - F.least(F.lit(0), F.col("cmin"))
    return cum.select(
        "event_type",
        "hour_bucket",
        "n_events",
        "hourly_sum",
        (s.cast("double") / F.lit(1000000.0)).alias("cusum_stat"),
        (s * CUSUM_ALARM_DIV > F.col("t_sum")).alias("alarm"),
    )
