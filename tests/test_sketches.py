"""Mergeable-sketch semantics: the HLL rollup must (a) be exact below
the sparse-mode threshold at both oracle SFs, (b) survive a
persist-to-parquet-and-merge round trip — the property that makes
daily sketch tables re-aggregable at 100 TB without rescanning raw
events.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from msstreamingstack_spark.queries import REGISTRY
from msstreamingstack_spark.sources.tables import events_with_time


def _exact(spark, sf):
    ev = events_with_time(spark, sf)
    return {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }


def test_sketch_estimate_exact_at_small_sf(spark):
    """Exact in coupon mode (sf0.01 = 150 users, the driver's oracle
    SF); bounded HLL error once past it (sf0.1 = 1500 users,
    measured 0.8%)."""
    sf = "/root/testdata/sf0.01"
    got = {
        r["event_type"]: r["est_users"]
        for r in REGISTRY["distinct_users_sketch_rollup"].builder(spark, sf).collect()
    }
    assert got == _exact(spark, sf), sf

    sf = "/root/testdata/sf0.1"
    got = {
        r["event_type"]: r["est_users"]
        for r in REGISTRY["distinct_users_sketch_rollup"].builder(spark, sf).collect()
    }
    for k, exact in _exact(spark, sf).items():
        assert abs(got[k] - exact) <= 0.02 * exact, (k, got[k], exact)


def test_driver_fixture_stays_in_coupon_mode(spark):
    """GUARD for the distinct_users_sketch_rollup oracle contract: its
    DuckDB oracle is exact COUNT(DISTINCT), which only matches the HLL
    estimate while the driver fixture's per-type user cardinality sits
    inside DataSketches' exact coupon mode (< ~3/4 * 2^lgK; 512 is a
    conservative bound at the lgK=12 default). If a fixture bump trips
    this, DEMOTE the registry entry to rows-only (oracle=None) — the
    pytest twin above carries the exactness/error-bound check."""
    per_type = _exact(spark, "/root/testdata/sf0.01")
    assert per_type and max(per_type.values()) <= 512, (
        "sf0.01 user cardinality left HLL coupon mode: demote "
        "distinct_users_sketch_rollup to rows-only", per_type
    )


def test_sketches_persist_and_merge(spark, tmp_path):
    """Daily sketches written to parquet, read back, unioned with a
    later increment's sketches: the merged estimate must equal the
    exact distinct count over both increments combined."""
    sf = "/root/testdata/sf0.01"
    ev = events_with_time(spark, sf).select(
        "event_type", F.expr("ts_sec div 86400").alias("day"), "user_id"
    )
    cut = ev.agg(F.expr("percentile(day, 0.5)")).first()[0]
    first, second = ev.filter(F.col("day") <= cut), ev.filter(F.col("day") > cut)

    store = os.path.join(str(tmp_path), "daily_sketches.parquet")
    first.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    ).write.mode("overwrite").parquet(store)

    merged = (
        spark.read.parquet(store)
        .unionByName(
            second.groupBy("event_type", "day").agg(
                F.hll_sketch_agg("user_id").alias("sk")
            )
        )
        .groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select("event_type", F.hll_sketch_estimate("sk").alias("est"))
    )
    got = {r["event_type"]: r["est"] for r in merged.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_wau_hll_twin_tracks_exact_within_bound(spark):
    """wau_sliding_hll (mergeable day-sketch path) vs
    wau_sliding_distinct (exact): identical day set, exact match in
    HLL coupon mode at sf0.01, <2% per-day error at sf0.1 — the bound
    that licenses the sketch twin as the 100 TB path."""
    for sf, tol in (("/root/testdata/sf0.01", 0.0),
                    ("/root/testdata/sf0.1", 0.02)):
        exact = {
            r["report_day"]: r["active_users"]
            for r in REGISTRY["wau_sliding_distinct"].builder(spark, sf).collect()
        }
        est = {
            r["report_day"]: r["active_users_est"]
            for r in REGISTRY["wau_sliding_hll"].builder(spark, sf).collect()
        }
        assert set(est) == set(exact), sf
        for day, n in exact.items():
            assert abs(est[day] - n) <= tol * n, (sf, day, est[day], n)


def test_wau_hll_oracled_sliding_merge_properties(spark, sf_correctness):
    """The r10 oracled sliding-HLL twin: same report-day set as the
    exact query; each report day's register union dominates every
    contributing day's registers (union monotonicity — re-derived by
    running the same query and checking estimate >= any single-day
    coupon bound is overkill; instead pin the Flajolet 3-sigma error
    vs the exact rider it carries); and the register count never
    exceeds m=64."""
    from msstreamingstack_spark.queries import REGISTRY

    rows = (
        REGISTRY["wau_sliding_hll_oracled"]
        .builder(spark, sf_correctness)
        .collect()
    )
    exact_days = {
        r["report_day"]
        for r in REGISTRY["wau_sliding_distinct"]
        .builder(spark, sf_correctness)
        .collect()
    }
    assert {r["report_day"] for r in rows} == exact_days
    for r in rows:
        assert 1 <= r["n_regs_hit"] <= 64, r
        err = abs(r["hll_estimate"] - r["exact_users"]) / r["exact_users"]
        assert err <= 3 * 1.04 / (64 ** 0.5), (r["report_day"], err)


def test_hll_oracled_estimate_within_error_bound(spark, sf_correctness):
    """The deterministic 64-register HLL's raw estimate stays within
    3 standard errors (3 * 1.04/sqrt(64) ~ 39%) of the exact distinct
    count for every event_type — the Flajolet bound the m=64 sketch
    promises; the cross-engine bit-identity itself is the driver
    oracle's job."""
    from msstreamingstack_spark.queries import REGISTRY

    rows = (
        REGISTRY["approx_distinct_users_hll_oracled"]
        .builder(spark, sf_correctness)
        .collect()
    )
    assert rows
    for r in rows:
        err = abs(r["hll_estimate"] - r["exact_users"]) / r["exact_users"]
        assert err <= 3 * 1.04 / (64 ** 0.5), (r["event_type"], err)
        assert r["n_regs_hit"] + r["n_zero_regs"] == 64
