"""Edge-case unit tests for the text expression library — inputs the
synthetic corpus doesn't contain (empty/short docs, unicode)."""

from __future__ import annotations

from pyspark.sql import functions as F

from msstreamingstack_spark.functions.text import (
    distinct_token_ratio,
    dup_ngram_fraction,
    hash48,
    shingles,
    token_count,
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).first().v


def test_dup_ngram_fraction_short_doc_is_zero(spark):
    # fewer than n tokens → defined as 0.0, not null/negative
    assert _one(spark, "one two", dup_ngram_fraction(F.col("t"), 3)) == 0.0


def test_dup_ngram_fraction_fully_repeated(spark):
    # "a a a a a a": 4 trigrams, 1 distinct → 0.75
    assert _one(spark, "a a a a a a", dup_ngram_fraction(F.col("t"), 3)) == 0.75


def test_distinct_token_ratio_bounds(spark):
    assert _one(spark, "x x x x", distinct_token_ratio(F.col("t"))) == 0.25
    assert _one(spark, "a b c d", distinct_token_ratio(F.col("t"))) == 1.0


def test_shingles_empty_below_n(spark):
    assert _one(spark, "only two", shingles(F.col("t"), 3)) == []


def test_token_count_unicode(spark):
    assert _one(spark, "héllo wörld 你好", token_count(F.col("t"))) == 3


def test_hash48_deterministic_and_48bit(spark):
    h1 = _one(spark, "some shingle", hash48(F.col("t")))
    h2 = _one(spark, "some shingle", hash48(F.col("t")))
    assert h1 == h2
    assert 0 <= h1 < (1 << 48)


def test_char_trigrams_edges(spark):
    from msstreamingstack_spark.functions.text import char_trigrams

    assert _one(spark, "abcd", char_trigrams(F.col("t"))) == ["abc", "bcd"]
    assert _one(spark, "ab", char_trigrams(F.col("t"))) == []
    assert _one(spark, "xyz", char_trigrams(F.col("t"))) == ["xyz"]
    # unicode positions are character-based, not byte-based
    assert _one(spark, "héllo", char_trigrams(F.col("t"))) == [
        "hél", "éll", "llo",
    ]


def test_char_entropy_separates_prose_from_junk(spark):
    """The entropy score must order: uniform junk < English prose <
    uniform-random alphabet soup; single-char spam is ~0 bits."""
    from msstreamingstack_spark.queries import REGISTRY
    import tempfile, os
    import pyarrow as pa, pyarrow.parquet as pq

    rows = {
        1: "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
        2: "the quick brown fox jumps over the lazy dog and keeps running",
        3: "abcdefghijklmnopqrstuvwxyz0123456789!@#$%^&*()_+-=[]{}",
    }
    d = tempfile.mkdtemp()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(list(rows), pa.int64()),
            "text": pa.array(list(rows.values()), pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["t"] * 3, pa.string()),
            "n_chars": pa.array([len(v) for v in rows.values()], pa.int64()),
        }),
        os.path.join(d, "documents.parquet"),
    )
    ent = {
        r["doc_id"]: r["char_entropy"]
        for r in REGISTRY["quality_char_entropy"].builder(spark, d).collect()
    }
    assert ent[1] == 0.0
    assert 3.0 < ent[2] < 4.6, ent[2]  # natural-language band
    assert ent[3] > 5.5, ent[3]        # near-uniform distribution
    assert ent[1] < ent[2] < ent[3]
