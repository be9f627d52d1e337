"""Focused equivalence tests for the round-11 session-3 rewrites.

Each optimization replaced an aggregate-then-join-back (or
pre-aggregation) with an algebraically identical one-exchange form;
these tests pin the NEW form against the OLD form built inline on the
real fixture data, so a future refactor cannot silently change what
the kernel computes. (The oracle sweep already pins end-to-end
output; these pin the specific internal identity each rewrite relies
on.)
"""
from __future__ import annotations

from pyspark.sql import functions as F

from msstreamingstack_spark.sources.tables import load_table

from tests.conftest import SF_CORRECTNESS


def test_grouping_sets_preagg_matches_direct_expand(spark):
    """grouping_sets_revenue's finest-set pre-aggregate must be exactly
    re-aggregable: the DECIMAL partial sums and counts rolled up from
    the fine frame equal the direct single-pass aggregate per set."""
    li = load_table(spark, SF_CORRECTNESS, "lineitem")
    expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    direct = li.agg(
        F.sum(expr.cast("decimal(25,6)")).cast("double").alias("revenue"),
        F.count("*").alias("n"),
    ).collect()[0]
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(expr.cast("decimal(25,6)")).alias("rev_d"),
        F.count("*").alias("n0"),
    )
    rolled = fine.agg(
        F.sum("rev_d").cast("double").alias("revenue"),
        F.sum("n0").alias("n"),
    ).collect()[0]
    assert direct["n"] == rolled["n"]
    assert repr(direct["revenue"]) == repr(rolled["revenue"])
