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


def test_bm25_projection_doc_length_matches_tf_rowsum(spark):
    """retrieval_bm25_topk (r11) derives per-doc length as
    size(filter(split(text))) — it must equal the row sum of the old
    per-(doc, word) tf table for every doc, and drop exactly the docs
    the tf table never contained (zero non-empty words)."""
    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    dl_old = (
        words.groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
    )
    dl_new = docs.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), w -> w != ''))")
        .cast("long")
        .alias("dl"),
    ).filter(F.col("dl") > 0)
    assert (
        dl_old.orderBy("doc_id")
        .toPandas()
        .equals(dl_new.orderBy("doc_id").toPandas())
    )


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
