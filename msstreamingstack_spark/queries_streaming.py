"""Streaming-surface queries checkable in batch mode.

The stateful ``applyInPandasWithState`` path itself is exercised by
tests/test_streaming.py (micro-batch equivalence against the batch
sessionizer — not SQL-expressible as a streaming run); the native
``session_window`` aggregation has identical batch semantics, so it
IS oracle-checked here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from msstreamingstack_spark.operators.sessionize import sessionize_oracle_sql
from msstreamingstack_spark.queries import EVENTS_TS_SQL, register
from msstreamingstack_spark.sources.tables import events_with_time
from msstreamingstack_spark.streaming.stateful import session_window_agg

_SESS_CTE = sessionize_oracle_sql(
    EVENTS_TS_SQL,
    select_cols="event_id, user_id, value, ts_sec, session_idx",
    # native session_window MERGES an event landing exactly at
    # prev + gap (inclusive overlap in Spark's merge rule), i.e. it
    # splits only on gap > 30 min — the same strict-> rule as the
    # reference. Verified against the one exact-1800 s pair at sf0.1.
    strict_gt=True,
)


@register(
    "session_window_native",
    f"""
WITH sess AS ({_SESS_CTE})
SELECT user_id, COUNT(*) AS n_events,
       MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_idx
""",
    tags=("reference", "T2", "streaming", "session_window"),
    doc="Native Spark session_window(gap=30min) aggregation — the "
    "built-in streaming sessionizer run in batch mode (same operator "
    "works under readStream+watermark). Boundary note: an event exactly "
    "at prev + 30 min MERGES (Spark's session-merge overlap rule is "
    "inclusive) — identical to the reference's strict-> split.",
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "ts_sec", "event_type", "value"
    )
    return session_window_agg(ev, gap="30 minutes")
