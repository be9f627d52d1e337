"""Unit tests for the cross-engine string hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from msstreamingstack_spark.functions.text import hash48


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).first().v


def test_hash48_deterministic_and_48bit(spark):
    h1 = _one(spark, "some shingle", hash48(F.col("t")))
    h2 = _one(spark, "some shingle", hash48(F.col("t")))
    assert h1 == h2
    assert 0 <= h1 < (1 << 48)
