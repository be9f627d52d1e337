"""Declared schemas — the engine never infers schemas in the hot path.

The reference infers its stream schema from a sample JSON file
(``StructuredStreaming.scala:71-76``, its comment calls that "brute
force") and declares its Redis state schema explicitly
(``StructuredStreaming.scala:123-139``). Policy here: everything is
declared, typed (timestamps as epoch numerics where the source demands,
amounts as DOUBLE, not the reference's all-strings discipline —
SURVEY.md §1.2), and documented against FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F1: clickstream input record (reference StructuredStreaming.scala:90-93)
# ---------------------------------------------------------------------------
CLICKSTREAM_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),          # epoch secs as string
        T.StructField("user_id", T.StringType()),
        T.StructField("user_agent", T.StringType()),
        T.StructField("partner_id", T.StringType()),
        T.StructField("partner_name", T.StringType()),
        T.StructField("init_session", T.BooleanType()),
        T.StructField("session_id", T.StringType()),
        T.StructField("page_type", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("cart_amount", T.StringType()),
        T.StructField("platform", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/; TESTDATA.md). `events.ts`
# is parquet TIMESTAMP(MICROS) in the driver files (reads back as
# timestamp_ntz on Spark 4); this declared shape is the paced
# generator's (int64 nanos). Consumers dispatch on the actual dtype —
# see sources.tables.events_with_time / streaming.pipeline.
# ---------------------------------------------------------------------------
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch NANOseconds (generator)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON: {"k": int}
    ]
)

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])

TPCH_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": EVENTS_SCHEMA,
}

TABLE_NAMES = tuple(TPCH_SCHEMAS)
