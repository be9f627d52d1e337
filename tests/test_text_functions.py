"""Edge-case unit tests for the text expression library — inputs the
synthetic corpus doesn't contain (empty/short docs, unicode)."""

from __future__ import annotations

from pyspark.sql import functions as F

from msstreamingstack_spark.functions.text import (
    hash48,
    shingles,
    token_count,
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).first().v


def test_shingles_empty_below_n(spark):
    assert _one(spark, "only two", shingles(F.col("t"), 3)) == []


def test_token_count_unicode(spark):
    assert _one(spark, "héllo wörld 你好", token_count(F.col("t"))) == 3


def test_hash48_deterministic_and_48bit(spark):
    h1 = _one(spark, "some shingle", hash48(F.col("t")))
    h2 = _one(spark, "some shingle", hash48(F.col("t")))
    assert h1 == h2
    assert 0 <= h1 < (1 << 48)
