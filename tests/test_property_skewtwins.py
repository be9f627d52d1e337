"""Property tests for the skew-decomposition kernel
(operators/windows.py): on random data with random bucket
granularity, it must be BIT-identical to the plain single-window
form — the exactness claim (long partials re-add exactly) holds for
every input, not just the fixtures."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import Window, functions as F

from msstreamingstack_spark.operators.windows import bucketed_running_sum


# Whole-module slow tier: exhaustive sweeps the default run skips
# (oracle parity duplicates `python -m msstreamingstack_spark verify`,
# which the external driver runs separately; opt in with --runslow).
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    # hypothesis needs a non-function-scoped fixture
    return spark


rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),          # hot-ish key
        st.integers(min_value=0, max_value=50),    # order / bucket feed
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=1,
    max_size=40,
)


def _df(spark, rows):
    # rid is the unique tiebreaker that makes every order total
    return spark.createDataFrame(
        [(k, o, v, i) for i, (k, o, v) in enumerate(rows)],
        ["k", "o", "v", "rid"],
    )


@settings(max_examples=25, deadline=None)
@given(rows=rows_strategy, bucket_width=st.sampled_from([1, 4, 16, 1000]))
def test_bucketed_running_sum_matches_window(
    spark_session_holder, rows, bucket_width
):
    spark = spark_session_holder
    df = _df(spark, rows)
    w = (
        Window.partitionBy("k")
        .orderBy("o", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    plain = df.withColumn("run", F.sum(F.col("v").cast("long")).over(w))
    twin = bucketed_running_sum(
        df,
        "k",
        ("o", "rid"),
        "v",
        F.floor(F.col("o") / bucket_width),
        out="run",
        prec="long",
    )
    assert sorted(map(tuple, plain.select("rid", "run").collect())) == sorted(
        map(tuple, twin.select("rid", "run").collect())
    )
