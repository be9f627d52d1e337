"""Property tests for the analytics family: the distributed
gaps-and-islands (SCD2) and funnel constructions must agree with
trivially-correct single-threaded Python models on arbitrary inputs —
tie timestamps, single-event users, device flapping, and
stage-skipping orderings land here without hand-picking cases."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import Window, functions as F


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    return spark


DEVICES = ["A", "B", "C"]

runs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # user_id
        st.integers(min_value=0, max_value=50),  # ts_sec
        st.integers(min_value=0, max_value=2),   # device idx
    ),
    min_size=1,
    max_size=30,
)


def _runs_model(rows):
    """Per user: time-ordered maximal runs of equal device."""
    by_user: dict[int, list] = {}
    for eid, (u, ts, d) in enumerate(rows):
        by_user.setdefault(u, []).append((ts, eid, DEVICES[d]))
    out = []
    for u, evs in by_user.items():
        evs.sort()
        run_idx, prev_dev = 0, None
        run = None
        for ts, eid, dev in evs:
            if dev != prev_dev:
                if run:
                    out.append(run)
                run_idx += 1
                run = [u, dev, run_idx, ts, ts, 1]
            else:
                run[4] = ts
                run[5] += 1
            prev_dev = dev
        if run:
            out.append(run)
    return sorted(tuple(r) for r in out)


@given(runs_strategy)
@settings(max_examples=12, deadline=None)
def test_scd2_runs_match_python_model(spark_session_holder, rows):
    spark = spark_session_holder
    df = spark.createDataFrame(
        [(eid, u, ts, DEVICES[d]) for eid, (u, ts, d) in enumerate(rows)],
        "event_id long, user_id long, ts_sec long, device string",
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    lagged = F.lag("device").over(w)
    got = (
        df.withColumn(
            "chg",
            F.when(lagged.isNull() | (lagged != F.col("device")), 1).otherwise(0),
        )
        .withColumn("run_idx", F.sum("chg").over(w))
        .groupBy("user_id", "device", "run_idx")
        .agg(
            F.min("ts_sec").alias("valid_from_sec"),
            F.max("ts_sec").alias("valid_to_sec"),
            F.count("*").alias("n_events"),
        )
        .collect()
    )
    got_set = sorted(
        (r["user_id"], r["device"], r["run_idx"], r["valid_from_sec"],
         r["valid_to_sec"], r["n_events"])
        for r in got
    )
    assert got_set == _runs_model(rows)


funnel_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # user_id
        st.integers(min_value=0, max_value=40),  # ts_sec
        st.sampled_from(["signup", "view", "purchase", "click"]),
    ),
    min_size=1,
    max_size=30,
)


def _funnel_model(rows):
    by_user: dict[int, list] = {}
    for u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    out = {}
    for u, evs in by_user.items():
        s = min((ts for ts, et in evs if et == "signup"), default=None)
        v = (
            min((ts for ts, et in evs if et == "view" and ts >= s), default=None)
            if s is not None
            else None
        )
        p = (
            min((ts for ts, et in evs if et == "purchase" and ts >= v), default=None)
            if v is not None
            else None
        )
        out[u] = (s, v, p)
    return out


@given(funnel_strategy)
@settings(max_examples=12, deadline=None)
def test_funnel_stages_match_python_model(spark_session_holder, rows):
    spark = spark_session_holder
    df = spark.createDataFrame(rows, "user_id long, ts_sec long, event_type string")
    wu = Window.partitionBy("user_id")
    s1 = df.withColumn(
        "s", F.min(F.when(F.col("event_type") == "signup", F.col("ts_sec"))).over(wu)
    )
    s2 = s1.withColumn(
        "v",
        F.min(
            F.when(
                (F.col("event_type") == "view") & (F.col("ts_sec") >= F.col("s")),
                F.col("ts_sec"),
            )
        ).over(wu),
    )
    s3 = s2.withColumn(
        "p",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts_sec") >= F.col("v")),
                F.col("ts_sec"),
            )
        ).over(wu),
    )
    got = {
        r["user_id"]: (r["s"], r["v"], r["p"])
        for r in s3.select("user_id", "s", "v", "p").distinct().collect()
    }
    assert got == _funnel_model(rows)
