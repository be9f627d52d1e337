"""Stateful-semantics queries in batch form — the reference's T1/T3/T4
(SURVEY.md §2.6) made oracle-checkable before the streaming layer
reuses the same operators (SURVEY.md §7 step 3).

Mapping of reference fields onto the driver's `events` table
(FIXTURES.md §F4): `event_type` plays `page_type` with 'purchase' as
the success marker; `value` plays `cart_amount`; `prop_k % 10` plays
`category`; device/platform come from the enrichment stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.operators.sessionize import (
    sessionize,
    sessionize_oracle_sql,
)
from msstreamingstack_spark.operators.state import (
    flag_new_users,
    total_order_sql,
    user_last_state,
    with_change_flags,
)
from msstreamingstack_spark.queries import (
    ENRICH_SQL,
    EVENTS_TS_SQL,
    register,
)
from msstreamingstack_spark.queries import q_enrich_clickstream


@register(
    "user_state_table",
    f"""
WITH enr AS ({ENRICH_SQL}),
base AS (
  SELECT user_id,
         MIN(ts_sec) AS first_seen,
         MAX(ts_sec) AS msg_date,
         COUNT(*) AS n_events,
         MAX_BY(event_type, {total_order_sql()}) AS last_event_type,
         MAX_BY(device, {total_order_sql()}) AS last_device,
         MAX_BY(platform, {total_order_sql()}) AS last_platform,
         MAX_BY(value, {total_order_sql()}) AS last_value
  FROM enr GROUP BY user_id
),
purch AS (
  SELECT user_id,
         MAX(ts_sec) AS last_purchase_ts,
         COUNT(*) AS n_purchases,
         MAX_BY(value, {total_order_sql()}) AS cart_amt,
         MAX_BY(CAST(prop_k % 10 AS VARCHAR), {total_order_sql()}) AS ctgry
  FROM enr WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT b.user_id, b.first_seen, b.msg_date, b.n_events,
       b.last_event_type, b.last_device, b.last_platform, b.last_value,
       p.last_purchase_ts,
       COALESCE(p.n_purchases, 0) AS n_purchases,
       COALESCE(p.cart_amt, 0.0) AS cart_amt,
       COALESCE(p.ctgry, 'none') AS ctgry
FROM base b LEFT JOIN purch p ON b.user_id = p.user_id
""",
    tags=("reference", "T1", "T3", "state"),
    doc="Per-user last-state upsert (T1) with purchase-conditional "
    "carries (T3): cart_amt/ctgry only move on purchase events, cart "
    "seeded to 0 for never-purchased users (reference "
    "StructuredStreaming.scala:206-221,:175; Redis state row "
    ":123-139). One shuffle per aggregate, unique-key left join.",
)
def q_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    enr = q_enrich_clickstream(spark, sf_dir).withColumn(
        "category", (F.col("prop_k") % 10).cast("string")
    )
    st = user_last_state(
        enr,
        purchase_pred=F.col("event_type") == "purchase",
        last_cols=("event_type", "device", "platform", "value"),
        purchase_cols=("value", "category"),
    )
    return st.select(
        "user_id",
        "first_seen",
        "msg_date",
        "n_events",
        F.col("last_event_type"),
        F.col("last_device"),
        F.col("last_platform"),
        F.col("last_value"),
        "last_purchase_ts",
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("cart_amt"),
        F.coalesce("purchase_category", F.lit("none")).alias("ctgry"),
    )


@register(
    "events_new_vs_returning",
    f"""
WITH e AS ({EVENTS_TS_SQL})
SELECT event_id, user_id, ts_sec, event_type, value,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) = 1
         AS is_new
FROM e
""",
    tags=("reference", "T4", "state"),
    doc="New-vs-returning dichotomy (T4): the reference splits each "
    "micro-batch into first-seen users and state transitions "
    "(StructuredStreaming.scala:158-178 vs :181-225); batch-exact as "
    "a first-event rank over the user window.",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.sources.tables import events_with_time

    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "ts_sec", "event_type", "value"
    )
    return flag_new_users(ev)


@register(
    "device_transitions",
    f"""
WITH enr AS ({ENRICH_SQL})
SELECT event_id, user_id, device,
       LAG(device) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
         AS prev_device,
       LAG(device) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
         IS NOT NULL
       AND LAG(device) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
         <> device AS device_changed
FROM enr
""",
    tags=("reference", "T3", "state", "window"),
    doc="Change detection (T3): previous value + changed flag per "
    "tracked column, the reference's partner_id/partner_name arms "
    "(StructuredStreaming.scala:190-205) generalized.",
)
def q_device_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    enr = q_enrich_clickstream(spark, sf_dir)
    out = with_change_flags(enr, cols=("device",))
    return out.select(
        "event_id", "user_id", "device", "prev_device", "device_changed"
    )


@register(
    "session_summary",
    f"""
WITH sess AS ({sessionize_oracle_sql(
        EVENTS_TS_SQL,
        init_pred="event_type = 'signup'",
        select_cols="event_id, user_id, event_type, value, ts_sec, session_idx",
    )})
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts_sec) AS start_sec,
       MAX(ts_sec) AS end_sec,
       MAX(ts_sec) - MIN(ts_sec) AS duration_sec,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       COALESCE(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END
                AS DECIMAL(25,6))) AS DOUBLE), 0.0) AS revenue
FROM sess GROUP BY user_id, session_id
""",
    tags=("reference", "T2", "agg", "flagship"),
    doc="Session rollup on top of the sessionizer: bounds, duration, "
    "purchase count and decimal-exact revenue per (user, session). "
    "Groups on a prefix of the sessionizer's partition key, so the "
    "aggregation reuses the window's shuffle.",
)
def q_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.sources.tables import events_with_time

    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    sess = sessionize(ev, init_col=(F.col("event_type") == "signup"))
    is_purch = F.col("event_type") == "purchase"
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_sec").alias("start_sec"),
        F.max("ts_sec").alias("end_sec"),
        (F.max("ts_sec") - F.min("ts_sec")).alias("duration_sec"),
        F.count(F.when(is_purch, 1)).alias("n_purchases"),
        F.coalesce(
            F.sum(F.when(is_purch, F.col("value")).cast("decimal(25,6)")).cast(
                "double"
            ),
            F.lit(0.0),
        ).alias("revenue"),
    )
