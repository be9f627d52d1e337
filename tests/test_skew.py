"""Salting operators: result-invariance on skewed data and actual
spread of the hot key across salt buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from msstreamingstack_spark.operators.skew import (
    _salt_col,
    salted_join,
    salted_sum_count,
)


def _skewed_df(spark, n=10_000, hot_share=0.9):
    """90% of rows on key 0, the rest spread over 100 keys."""
    hot = int(n * hot_share)
    return spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


def test_salted_agg_equals_plain_agg_on_skew(spark):
    df = _skewed_df(spark)
    got = {
        r.k: (r.sum_value, r.n_rows)
        for r in salted_sum_count(df, key="k", value_col="v", spread_col="row_id").collect()
    }
    want = {
        r.k: (float(r.s), r.n)
        for r in df.groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(25,6)")).alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_hot_key_spreads_over_salt_buckets(spark):
    df = _skewed_df(spark).withColumn("_salt", _salt_col("row_id", 8))
    n_buckets = (
        df.filter(F.col("k") == 0).select("_salt").distinct().count()
    )
    assert n_buckets == 8  # the hot key occupies every salt bucket


def test_salted_join_equals_plain_join(spark):
    left = _skewed_df(spark, n=2_000)
    right = spark.range(100).select(
        F.col("id").alias("rk"), F.concat(F.lit("g"), F.col("id") % 5).alias("grp")
    )
    got = (
        salted_join(left, right, "k", "rk", spread_col="row_id")
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    want = (
        left.join(right, left.k == right.rk)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salt_is_deterministic(spark):
    df = _skewed_df(spark, n=500).withColumn("_salt", _salt_col("row_id", 8))
    a = {r.row_id: r._salt for r in df.collect()}
    b = {r.row_id: r._salt for r in df.collect()}
    assert a == b


def test_bucketed_running_sum_equals_single_window(spark, sf_correctness):
    """The (key, bucket) prefix-sum decomposition must be bit-identical
    to the plain window — decimal partials re-add exactly."""
    from pyspark.sql import Window

    from msstreamingstack_spark.operators.windows import bucketed_running_sum
    from msstreamingstack_spark.sources.tables import load_table

    o = load_table(spark, sf_correctness, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    plain = {
        r["o_orderkey"]: str(r["rt"])
        for r in o.select(
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w).alias("rt"),
        ).collect()
    }
    bucketed = {
        r["o_orderkey"]: str(r["running_total"])
        for r in bucketed_running_sum(
            o.withColumn("od_sec", F.unix_timestamp(F.col("o_orderdate"))),
            part_col="o_custkey",
            order_cols=("o_orderdate", "o_orderkey"),
            value_col="o_totalprice",
            bucket_col=(F.col("od_sec") / (86_400 * 7)),
        ).collect()
    }
    assert bucketed == plain


def test_bucketed_running_sum_property(spark):
    """Random (key, ts, cents) streams: the (key, bucket) decomposition
    must equal a single-threaded decimal prefix-sum model for several
    bucket widths, including width 1 (every row its own bucket)."""
    from decimal import Decimal

    from hypothesis import given, settings, strategies as st

    from msstreamingstack_spark.operators.windows import bucketed_running_sum

    rows_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # key
            st.integers(min_value=0, max_value=50),     # ts
            st.integers(min_value=-10_000, max_value=10_000),  # cents
        ),
        min_size=1,
        max_size=25,
    )

    @given(rows_strategy, st.sampled_from([1, 7, 100]))
    @settings(max_examples=8, deadline=None)
    def check(rows, bucket_sec):
        df = spark.createDataFrame(
            [(i, k, ts, cents / 100.0) for i, (k, ts, cents) in enumerate(rows)],
            ["row_id", "k", "ts", "v"],
        )
        got = {
            r["row_id"]: Decimal(str(r["running_total"]))
            for r in bucketed_running_sum(
                df,
                part_col="k",
                order_cols=("ts", "row_id"),
                value_col="v",
                bucket_col=(F.col("ts") / bucket_sec),
            ).collect()
        }
        # model: per-key (ts, row_id)-ordered exact decimal prefix sum
        by_key = {}
        for i, (k, ts, cents) in enumerate(rows):
            by_key.setdefault(k, []).append((ts, i, cents))
        want = {}
        for k, evs in by_key.items():
            evs.sort()
            acc = Decimal(0)
            for ts, i, cents in evs:
                acc += Decimal(cents) / Decimal(100)
                want[i] = acc
        assert got == want

    check()
