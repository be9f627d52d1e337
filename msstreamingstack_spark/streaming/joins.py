"""Stream-stream joins (beyond-reference surface).

The reference only ever joins a stream against a static state
snapshot (J1, StructuredStreaming.scala:151-155). Spark 3.x adds true
stream-stream joins with watermark-bounded state: each side buffers
rows only until the watermark + interval bound passes, so state stays
bounded no matter how long the streams run — the property that makes
this viable against an unbounded 100 TB/day feed, where an unbounded
join buffer would OOM every executor.

Semantics here: attribute each ``view`` event to the first following
``purchase`` by the same user within ``bound_sec`` — the classic
conversion-attribution interval join. Both legs carry an ``event_time``
TIMESTAMP built from the integer epoch seconds (``with_event_time``),
the column their watermarks and the interval condition run on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_BOUND_SEC = 1800


def with_event_time(events: DataFrame, ts_sec_col: str = "ts_sec") -> DataFrame:
    """Attach an event-time TIMESTAMP column derived from integer epoch
    seconds (the engine's canonical time representation)."""
    return events.withColumn(
        "event_time", F.to_timestamp(F.from_unixtime(F.col(ts_sec_col)))
    )


def split_view_purchase(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Branch one event feed into view / purchase legs with
    disambiguated column names. Works on both batch and streaming
    frames; in streaming, each leg re-reads from the same source
    offsets (one source, two filters — Spark shares the scan)."""
    ev = with_event_time(events)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts_sec").alias("view_ts"),
        F.col("event_time").alias("view_time"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts_sec").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("event_time").alias("purchase_time"),
    )
    return views, purchases


def view_purchase_interval_join(
    events: DataFrame,
    bound_sec: int = DEFAULT_BOUND_SEC,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Interval join: view ⋈ purchase on user within
    ``(view_ts, view_ts + bound_sec]``.

    Streaming: both sides carry watermarks and the join condition
    carries the event-time interval, which is exactly what lets Spark
    evict buffered rows (a view older than watermark+bound can never
    match a future purchase). ``how='leftOuter'`` additionally emits
    unconverted views once their match window has provably closed.

    Batch: the identical expression runs as a plain range join, so the
    DuckDB oracle can check the semantics (the driver's correctness
    gate runs this in batch mode).
    """
    views, purchases = split_view_purchase(events)
    if events.isStreaming:
        views = views.withWatermark("view_time", watermark)
        purchases = purchases.withWatermark("purchase_time", watermark)
    cond = (
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("purchase_time") > F.col("view_time"))
        & (
            F.col("purchase_time")
            <= F.col("view_time") + F.expr(f"INTERVAL {int(bound_sec)} SECONDS")
        )
    )
    return views.join(purchases, cond, how)


def first_conversion_per_view(
    events: DataFrame, bound_sec: int = DEFAULT_BOUND_SEC
) -> DataFrame:
    """Batch-mode attribution rollup used by the oracle gate: for each
    view, the earliest qualifying purchase (ties on ts broken by
    purchase_id). Aggregation instead of row_number keeps it a single
    shuffle on view_id."""
    joined = view_purchase_interval_join(events, bound_sec, how="inner")
    first = F.struct(
        F.col("purchase_ts"), F.col("purchase_id"), F.col("purchase_value")
    )
    return (
        joined.groupBy("view_id", "v_user_id", "view_ts")
        .agg(F.min(first).alias("f"))
        .select(
            "view_id",
            F.col("v_user_id").alias("user_id"),
            "view_ts",
            F.col("f.purchase_id").alias("purchase_id"),
            F.col("f.purchase_ts").alias("purchase_ts"),
            F.col("f.purchase_value").alias("purchase_value"),
        )
    )
