"""Named query registry — the single source of truth behind
``__spark_entry__.py``'s ``queries()`` / ``oracle_sql()`` contract.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DF``
with (where SQL-expressible) an equivalent DuckDB oracle SQL string.
Column names are aliased identically on both sides (the driver sorts
columns by name and value-hashes).

Determinism rules used throughout (so Spark and DuckDB hash-match):
- event-time arithmetic on integer epoch seconds (`ts_sec`), never
  on float epochs or session-local timestamps;
- double aggregates go through an exact DECIMAL accumulator and are
  cast back to DOUBLE at the end (float summation order differs
  between engines; decimal addition is exact and order-free);
- any LIMIT/top-k query carries a total tiebreak order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.functions.expressions import (
    classify_device,
    classify_device_sql,
    normalize_platform,
    normalize_platform_sql,
    synthetic_user_agent,
    synthetic_user_agent_sql,
)
from msstreamingstack_spark.operators.sessionize import (
    sessionize,
    sessionize_bucketed,
    sessionize_oracle_sql,
)
from msstreamingstack_spark.sources.tables import events_enriched

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # None → non-SQL-expressible (driver does rows-only)
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags, doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB side of sources/tables.py helpers)
# ---------------------------------------------------------------------------
# events + integer epoch seconds + parsed props (P2). The driver's
# DuckDB views read `ts` as a timestamp; epoch_ns//1e9 floors to the
# same integer seconds as Spark's unix_timestamp under the UTC session
# (and as long-nanos // 1e9 for generator-encoded data).
EVENTS_TS_SQL = (
    "SELECT event_id, user_id, event_type, value, props, "
    "epoch_ns(ts)//1000000000 AS ts_sec FROM events"
)
PROP_K_SQL = "TRY_CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS BIGINT)"


def _dec_sum_sql(expr: str, alias: str, prec: str = "DECIMAL(25,6)") -> str:
    return f"CAST(SUM(CAST({expr} AS {prec})) AS DOUBLE) AS {alias}"


def _dec_sum(col, alias: str, prec: str = "decimal(25,6)"):
    return F.sum(col.cast(prec)).cast("double").alias(alias)


def _epoch_sec(col):
    """Timestamp → epoch seconds (long). The testdata's ms timestamps
    arrive as TIMESTAMP_NTZ; under the pinned UTC session an NTZ→LTZ
    hop then long-cast equals DuckDB's ``epoch(ts)`` exactly."""
    return col.cast("timestamp_ltz").cast("long")


# ---------------------------------------------------------------------------
# Flagship: clickstream enrichment + 30-min-gap sessionization
# (reference T2 batch-exact; SURVEY.md §7 step 1)
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    sessionize_oracle_sql(
        EVENTS_TS_SQL,
        init_pred="event_type = 'signup'",
        select_cols="event_id, user_id, event_type, value, ts_sec, session_idx",
    ),
    tags=("reference", "T2", "flagship"),
    doc="30-min inactivity-gap sessionization with init force-split "
    "(reference StructuredStreaming.scala:182-189; `signup` plays "
    "init_session=true per FIXTURES.md §F4).",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_enriched(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    out = sessionize(
        ev,
        init_col=(F.col("event_type") == "signup"),
    )
    return out.select(
        "event_id", "user_id", "event_type", "value", "ts_sec", "session_idx", "session_id"
    )


@register(
    "sessionize_events_bucketed",
    sessionize_oracle_sql(
        EVENTS_TS_SQL,
        init_pred="event_type = 'signup'",
        select_cols="event_id, user_id, event_type, value, ts_sec, session_idx",
    ),
    tags=("reference", "T2", "skew"),
    doc="Skew-bounded sessionization: identical semantics to "
    "sessionize_events (SAME oracle), but the event shuffle is keyed "
    "(user, day) with boundary stitching via a per-user-day summary — "
    "no hot user can pin a partition. The scale mitigation from "
    "plans/notes.md, equality-tested and oracle-checked.",
)
def q_sessionize_events_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_enriched(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    out = sessionize_bucketed(
        ev,
        init_col=(F.col("event_type") == "signup"),
    )
    return out.select(
        "event_id", "user_id", "event_type", "value", "ts_sec", "session_idx", "session_id"
    )


# Full enriched-events relation (shared by several oracles below and
# in queries_state.py).
ENRICH_SQL = f"""
WITH e AS ({EVENTS_TS_SQL}),
p AS (SELECT event_id, user_id, event_type, value, ts_sec,
             {PROP_K_SQL} AS prop_k FROM e),
ua AS (SELECT *, {synthetic_user_agent_sql('prop_k')} AS user_agent,
              CASE WHEN prop_k % 3 = 0 THEN 'MOBILE'
                   WHEN prop_k % 3 = 1 THEN 'WEB'
                   ELSE 'AMP' END AS platform_raw
       FROM p)
SELECT event_id, user_id, event_type, value, ts_sec, prop_k, user_agent,
       {classify_device_sql('user_agent')} AS device,
       {normalize_platform_sql('platform_raw')} AS platform
FROM ua
"""


@register(
    "enrich_clickstream",
    ENRICH_SQL,
    tags=("reference", "P2", "P7", "P8"),
    doc="JSON props parse (P2) + synthetic UA + device when-chain (P8) "
    "+ platform normalization (P7). Reference "
    "StructuredStreaming.scala:87-120.",
)
def q_enrich_clickstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_enriched(spark, sf_dir)
    ua = synthetic_user_agent(F.col("prop_k"))
    platform_raw = (
        F.when(F.col("prop_k") % 3 == 0, F.lit("MOBILE"))
        .when(F.col("prop_k") % 3 == 1, F.lit("WEB"))
        .otherwise(F.lit("AMP"))
    )
    return (
        ev.withColumn("user_agent", ua)
        .withColumn("device", classify_device(F.col("user_agent")))
        .withColumn("platform", normalize_platform(platform_raw))
        .select(
            "event_id", "user_id", "event_type", "value", "ts_sec",
            "prop_k", "user_agent", "device", "platform",
        )
    )


# ---------------------------------------------------------------------------
# Register the remaining query families (import side effects populate
# REGISTRY; placed at module bottom to avoid circular imports). The
# registry's order is this import order.
# ---------------------------------------------------------------------------
from msstreamingstack_spark import queries_relational  # noqa: E402,F401
from msstreamingstack_spark import queries_state  # noqa: E402,F401
from msstreamingstack_spark import queries_streaming  # noqa: E402,F401
from msstreamingstack_spark import queries_advanced  # noqa: E402,F401
from msstreamingstack_spark import queries_layout  # noqa: E402,F401
from msstreamingstack_spark import queries_analytics  # noqa: E402,F401
