"""Event-analytics family (queries_analytics.py): plan-shape pins and
crafted-frame semantic checks. Oracle parity at sf0.01 is covered by
test_oracle_parity's registry sweep; here we pin the 100 TB-relevant
plan properties and the ordering semantics the SQL oracle can't
distinguish on random data.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Row, functions as F

from msstreamingstack_spark.plans.inspect import plan_facts
from msstreamingstack_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"

# Exchange OCCURRENCE budgets (formatted plan lists each physical
# exchange twice: tree + details). Measured at sf0.01 with AQE on;
# slack of one real exchange over the measured value where AQE may
# re-plan at other sizes.
PLAN_BUDGET = {
    "cohort_retention": 6,        # 3 real: cohort agg, join, grid agg
    "funnel_conversion": 4,       # 2 real: ONE user window (3 stages
                                  # share it), distinct+final agg
    "scd2_device_runs": 4,        # lag+runsum share the user exchange
    "rolling_zscore_events": 2,   # 1 real: the user window
    "heavy_hitters_exact": 6,     # counts agg + scalar total + bcast
    "ltv_deciles": 6,             # custkey agg, ntile, decile agg
    "histogram_event_values": 2,  # 1 real: bin agg after map combine
    "distinct_users_sketch_rollup": 4,  # daily sketches, type union
}


@pytest.mark.parametrize("name", sorted(PLAN_BUDGET))
def test_analytics_plan_budgets(spark, name):
    f = plan_facts(REGISTRY[name].builder(spark, SF))
    assert f.shuffles <= PLAN_BUDGET[name], (
        f"{name}: {f.shuffles} Exchange occurrences > "
        f"budget {PLAN_BUDGET[name]}\n{f.text[:2000]}"
    )
    assert "BatchEvalPython" not in f.text, f"{name}: Python in hot path"


def test_funnel_windows_share_one_exchange(spark):
    """The three chained stage windows all partition on user_id: Spark
    must plan exactly one exchange for them (exchange reuse), not one
    per stage."""
    f = plan_facts(REGISTRY["funnel_conversion"].builder(spark, SF))
    assert f.shuffles <= 4, f.text[:2000]


def test_scalar_totals_are_broadcast(spark):
    """The global event total (heavy-hitter denominator) must move via
    a broadcast one-row join, never a single-partition window over the
    full relation."""
    for name in ("heavy_hitters_exact",):
        f = plan_facts(REGISTRY[name].builder(spark, SF))
        assert "BroadcastExchange" in f.text, f"{name}: no broadcast\n{f.text[:1500]}"
        assert "Window" not in f.text, f"{name}: global window leaked in"


def _funnel(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, ts_sec long, event_type string")
    # reuse the registered builder's logic by monkey-loading is overkill;
    # the semantics under test are the stage-order constraints, so we
    # re-run the same windowed construction inline via the SQL oracle
    # shape on a temp view.
    df.createOrReplaceTempView("funnel_probe")
    return spark.sql(
        """
        WITH s1 AS (
          SELECT user_id, ts_sec, event_type,
                 MIN(CASE WHEN event_type = 'signup' THEN ts_sec END)
                   OVER (PARTITION BY user_id) AS s
          FROM funnel_probe),
        s2 AS (
          SELECT *, MIN(CASE WHEN event_type = 'view' AND ts_sec >= s
                             THEN ts_sec END)
                      OVER (PARTITION BY user_id) AS v FROM s1),
        s3 AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_sec >= v
                             THEN ts_sec END)
                      OVER (PARTITION BY user_id) AS p FROM s2)
        SELECT DISTINCT user_id, s, v, p FROM s3
        """
    )


def test_funnel_stage_order_enforced(spark):
    """A purchase BEFORE the first post-signup view must not count as
    a funnel conversion; one after it must."""
    rows = [
        # user 1: signup(10) -> purchase(15) -> view(20): purchase
        # precedes the qualifying view => no stage-3 conversion.
        Row(user_id=1, ts_sec=10, event_type="signup"),
        Row(user_id=1, ts_sec=15, event_type="purchase"),
        Row(user_id=1, ts_sec=20, event_type="view"),
        # user 2: full ordered funnel.
        Row(user_id=2, ts_sec=10, event_type="signup"),
        Row(user_id=2, ts_sec=20, event_type="view"),
        Row(user_id=2, ts_sec=30, event_type="purchase"),
        # user 3: view before signup only => stage 2 not reached.
        Row(user_id=3, ts_sec=5, event_type="view"),
        Row(user_id=3, ts_sec=10, event_type="signup"),
    ]
    got = {r["user_id"]: (r["s"], r["v"], r["p"]) for r in _funnel(spark, rows).collect()}
    assert got[1] == (10, 20, None)
    assert got[2] == (10, 20, 30)
    assert got[3] == (10, None, None)


def test_scd2_runs_collapse_and_reopen(spark):
    """A device that reappears after an interruption must open a NEW
    validity interval (type-2, not type-1)."""
    ev = spark.createDataFrame(
        [
            (1, 100, 1, "ANDROID"),
            (1, 200, 2, "ANDROID"),
            (1, 300, 3, "IPHONE"),
            (1, 400, 4, "ANDROID"),  # reopens: run 3, not merged with run 1
        ],
        "user_id long, ts_sec long, event_id long, device string",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    lagged = F.lag("device").over(w)
    runs = (
        ev.withColumn(
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
        .orderBy("run_idx")
        .collect()
    )
    assert [(r["device"], r["run_idx"], r["valid_from_sec"], r["valid_to_sec"]) for r in runs] == [
        ("ANDROID", 1, 100, 200),
        ("IPHONE", 2, 300, 300),
        ("ANDROID", 3, 400, 400),
    ]


def test_heavy_hitters_threshold_is_exact(spark):
    """Membership must flip exactly at count*200 > total (integer
    compare), verified against a brute-force recount."""
    df = REGISTRY["heavy_hitters_exact"].builder(spark, SF)
    rows = df.collect()
    from msstreamingstack_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    total = ev.count()
    brute = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        if r["n"] * 200 > total
    }
    assert {r["user_id"]: r["n_events"] for r in rows} == brute


def test_dynamic_gap_matches_native_session_window(spark, sf_correctness):
    """The oracled gaps-and-islands decomposition must agree with
    Spark's NATIVE session_window(dynamic gap) on every session
    (start, event count) — same corpus, same per-event-type gaps.
    This is the semantics pin that justified the strict-after split
    rule (native merge is boundary-inclusive)."""
    from pyspark.sql import functions as F

    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.queries_analytics import (
        DYN_GAP_DEFAULT_SEC,
        DYN_GAP_PURCHASE_SEC,
    )
    from msstreamingstack_spark.sources.tables import events_with_time

    mine = {
        (r["user_id"], r["session_start_sec"]): r["n_events"]
        for r in REGISTRY["sessionize_dynamic_gap"]
        .builder(spark, sf_correctness)
        .collect()
    }
    ev = events_with_time(spark, sf_correctness).select(
        "user_id", "ts_sec", "event_type"
    )
    gap = F.when(
        F.col("event_type") == "purchase",
        F.lit(f"{DYN_GAP_PURCHASE_SEC} seconds"),
    ).otherwise(F.lit(f"{DYN_GAP_DEFAULT_SEC} seconds"))
    native = {
        (r["user_id"], r["start_sec"]): r["n"]
        for r in ev.withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
        .groupBy("user_id", F.session_window(F.col("ts"), gap))
        .agg(F.count("*").alias("n"), F.min("ts_sec").alias("start_sec"))
        .select("user_id", "start_sec", "n")
        .collect()
    }
    assert mine == native


def test_ewma_matches_python_model_bitwise(spark, sf_correctness):
    """Pure-Python recurrence with the same float literals must agree
    to the 9-decimal rounding the query emits; rn must enumerate each
    user's events in time order."""
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.sources.tables import events_with_time

    ev = (
        events_with_time(spark, sf_correctness)
        .select("user_id", "event_id", "ts_sec", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    expect: dict[tuple[int, int], tuple[int, float]] = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts_sec"], r["event_id"]))
        y = 0.0
        for i, r in enumerate(rows):
            y = r["value"] if i == 0 else 0.7 * y + 0.3 * r["value"]
            expect[(uid, r["event_id"])] = (i + 1, y)

    out = REGISTRY["ewma_event_values"].builder(spark, sf_correctness).collect()
    assert len(out) == len(ev)
    for r in out:
        rn, y = expect[(r["user_id"], r["event_id"])]
        assert r["rn"] == rn
        assert abs(r["ewma"] - round(y, 9)) <= 2e-9, (r, y)


def test_ewma_stays_inside_prefix_envelope(spark, sf_smoke):
    """EWMA is a convex combination: every smoothed value must lie
    within [min, max] of the prefix values seen so far."""
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.sources.tables import events_with_time

    vals = {
        (r["user_id"], r["event_id"]): r["value"]
        for r in events_with_time(spark, sf_smoke)
        .select("user_id", "event_id", "value")
        .collect()
    }
    out = sorted(
        REGISTRY["ewma_event_values"].builder(spark, sf_smoke).collect(),
        key=lambda r: (r["user_id"], r["rn"]),
    )
    lo = hi = None
    prev_uid = None
    for r in out:
        v = vals[(r["user_id"], r["event_id"])]
        if r["user_id"] != prev_uid:
            prev_uid, lo, hi = r["user_id"], v, v
        else:
            lo, hi = min(lo, v), max(hi, v)
        assert lo - 1e-9 <= r["ewma"] <= hi + 1e-9


def test_regr_matches_numpy(spark, sf_correctness):
    """slope/intercept/corr must agree with numpy's lstsq/corrcoef on
    the same integer (x, cents) pairs."""
    import numpy as np

    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.sources.tables import events_enriched

    ev = events_enriched(spark, sf_correctness).select(
        "event_type", "prop_k", "value"
    ).collect()
    groups: dict[str, list] = {}
    for r in ev:
        groups.setdefault(r["event_type"], []).append(
            (r["prop_k"], round(r["value"] * 100))
        )
    out = {
        r["event_type"]: r
        for r in REGISTRY["regr_value_on_propk"].builder(spark, sf_correctness).collect()
    }
    assert set(out) == set(groups)
    for et, pts in groups.items():
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        corr = np.corrcoef(x, y)[0, 1]
        r = out[et]
        assert r["n_pts"] == len(pts)
        assert abs(r["slope"] - slope) < 1e-6
        assert abs(r["intercept"] - intercept) < 1e-6
        assert abs(r["corr"] - corr) < 1e-9
        assert -1.0 <= r["corr"] <= 1.0


def test_anomaly_mad_matches_numpy_model(spark, sf_correctness):
    """med/MAD/outlier counts must agree with a from-scratch numpy
    model using the same interpolated median and the same pinned
    (9-digit-rounded) fence arithmetic."""
    import numpy as np

    from msstreamingstack_spark.sources.tables import events_with_time

    vals: dict[str, list[float]] = {}
    for r in events_with_time(spark, sf_correctness).select(
        "event_type", "value"
    ).collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    out = {
        r["event_type"]: r
        for r in REGISTRY["anomaly_mad_events"].builder(
            spark, sf_correctness
        ).collect()
    }
    assert set(out) == set(vals)

    def pin9(x: float) -> float:
        return float(np.format_float_positional(x, 9, fractional=True))

    for et, xs in vals.items():
        a = np.array(xs, dtype="float64")
        med = pin9(float(np.percentile(a, 50)))
        dev = np.abs(a - med)
        mad = pin9(float(np.percentile(dev, 50)))
        n_out = int(np.sum(dev > 3.0 * mad))
        r = out[et]
        assert r["n_events"] == len(xs)
        assert abs(r["med"] - med) < 1e-9
        assert abs(r["mad"] - mad) < 1e-9
        assert r["n_outliers"] == n_out
        # a 3-MAD fence on real data should flag some but not most
        assert 0 < r["n_outliers"] < 0.5 * r["n_events"]


def test_resample_ohlc_matches_sorted_model(spark, sf_correctness):
    """open/close must equal the first/last value by (ts_sec,
    event_id) order within each (event_type, hour) bucket; high/low
    the extrema."""
    from collections import defaultdict

    from msstreamingstack_spark.sources.tables import events_with_time

    raw = events_with_time(spark, sf_correctness).select(
        "event_type", "ts_sec", "event_id", "value"
    ).collect()
    buckets = defaultdict(list)
    for r in raw:
        buckets[(r["event_type"], r["ts_sec"] // 3600 * 3600)].append(
            (r["ts_sec"], r["event_id"], r["value"])
        )
    got = {
        (r["event_type"], r["hour_bucket"]): r
        for r in REGISTRY["resample_ohlc_hourly"].builder(
            spark, sf_correctness
        ).collect()
    }
    assert set(got) == set(buckets)
    for key, rows in buckets.items():
        rows.sort()
        g = got[key]
        assert g["n_events"] == len(rows)
        assert g["open"] == rows[0][2]
        assert g["close"] == rows[-1][2]
        assert g["high"] == max(v for _, _, v in rows)
        assert g["low"] == min(v for _, _, v in rows)


def test_wau_sliding_matches_bruteforce(spark, sf_correctness):
    """Trailing-7-day distinct users must equal the brute-force count
    over the raw (user, day) pairs for every observed day."""
    from msstreamingstack_spark.sources.tables import events_with_time

    pairs = {
        (r["user_id"], r["ts_sec"] // 86400)
        for r in events_with_time(spark, sf_correctness)
        .select("user_id", "ts_sec")
        .collect()
    }
    days = sorted({d for _, d in pairs})
    got = {
        r["report_day"]: r["active_users"]
        for r in REGISTRY["wau_sliding_distinct"].builder(
            spark, sf_correctness
        ).collect()
    }
    assert set(got) == set(days)
    for d in days:
        want = len({u for u, dd in pairs if d - 6 <= dd <= d})
        assert got[d] == want
    # the window must actually widen counts vs single-day actives
    single = max(len({u for u, dd in pairs if dd == d}) for d in days)
    assert max(got.values()) > single


def test_session_paths_topk_deterministic_and_modeled(spark, sf_correctness):
    """Paths must equal a Python model (sorted by (ts_sec, event_id),
    joined with '>'), and the top-20 must be the model's top-20 under
    the same (count desc, path asc) total order."""
    from collections import Counter, defaultdict

    from msstreamingstack_spark.sources.tables import events_with_time

    raw = events_with_time(spark, sf_correctness).select(
        "user_id", "ts_sec", "event_id", "event_type"
    ).collect()
    per_day = defaultdict(list)
    for r in raw:
        per_day[(r["user_id"], r["ts_sec"] // 86400)].append(
            (r["ts_sec"], r["event_id"], r["event_type"])
        )
    counts = Counter(
        ">".join(t for _, _, t in sorted(v)) for v in per_day.values()
    )
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["path"], r["n_journeys"])
        for r in REGISTRY["session_paths_topk"].builder(
            spark, sf_correctness
        ).collect()
    ]
    assert got == want


def test_event_transition_matrix_rows_normalize(spark, sf_correctness):
    """Each from_type's probabilities must sum to ~1, counts must
    match a Python lead() model, and self-transitions must exist
    (streams repeat types)."""
    from collections import Counter, defaultdict

    from msstreamingstack_spark.sources.tables import events_with_time

    raw = events_with_time(spark, sf_correctness).select(
        "user_id", "ts_sec", "event_id", "event_type"
    ).collect()
    per_user = defaultdict(list)
    for r in raw:
        per_user[r["user_id"]].append((r["ts_sec"], r["event_id"], r["event_type"]))
    model = Counter()
    for evs in per_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            model[(a, b)] += 1
    rows = REGISTRY["event_transition_matrix"].builder(
        spark, sf_correctness
    ).collect()
    got = {(r["from_type"], r["to_type"]): r["n_transitions"] for r in rows}
    assert got == dict(model)
    sums = defaultdict(float)
    for r in rows:
        sums[r["from_type"]] += r["prob"]
    assert all(abs(s - 1.0) < 1e-6 for s in sums.values())
    assert any(a == b for a, b in got)


def test_bootstrap_ci_brackets_full_sample_mean(spark, sf_correctness):
    """Every type's CI must be ordered (lo <= mid <= hi), strictly
    non-degenerate (replicate means vary), and bracket the
    full-sample mean of integer cents."""
    from collections import defaultdict

    from msstreamingstack_spark.queries_analytics import BOOT_REPS
    from msstreamingstack_spark.sources.tables import events_with_time

    vals = defaultdict(list)
    for r in events_with_time(spark, sf_correctness).select(
        "event_type", "value"
    ).collect():
        vals[r["event_type"]].append(round(r["value"] * 100))
    rows = REGISTRY["bootstrap_ci_value_mean"].builder(
        spark, sf_correctness
    ).collect()
    assert {r["event_type"] for r in rows} == set(vals)
    for r in rows:
        assert r["n_reps"] == BOOT_REPS
        assert r["ci_lo"] <= r["ci_mid"] <= r["ci_hi"]
        assert r["ci_lo"] < r["ci_hi"]  # replicates genuinely vary
        full_mean = sum(vals[r["event_type"]]) / len(vals[r["event_type"]])
        assert r["ci_lo"] <= full_mean <= r["ci_hi"]


def test_events_gap_stats_matches_python_lag(spark, sf_correctness):
    """Gap counts and max must match a per-user sorted Python model;
    p50 <= p90 <= max for every type."""
    from collections import defaultdict

    from msstreamingstack_spark.sources.tables import events_with_time

    per_user = defaultdict(list)
    for r in events_with_time(spark, sf_correctness).select(
        "user_id", "ts_sec", "event_id", "event_type"
    ).collect():
        per_user[r["user_id"]].append((r["ts_sec"], r["event_id"], r["event_type"]))
    gaps = defaultdict(list)
    for evs in per_user.values():
        evs.sort()
        for (t0, _, _), (t1, _, ty) in zip(evs, evs[1:]):
            gaps[ty].append(t1 - t0)
    got = {
        r["event_type"]: r
        for r in REGISTRY["events_gap_stats"].builder(spark, sf_correctness).collect()
    }
    assert set(got) == set(gaps)
    for ty, gs in gaps.items():
        g = got[ty]
        assert g["n_gaps"] == len(gs)
        assert g["max_gap_sec"] == max(gs)
        assert g["p50_gap_sec"] <= g["p90_gap_sec"] <= g["max_gap_sec"]


def test_rfm_segments_partition_customers(spark, sf_correctness):
    """Segment counts must sum to the customer base; codes must be
    valid 3-digit quintile composites; the best segment (555) must
    outspend the worst (111) on average."""
    from msstreamingstack_spark.sources.tables import load_table

    rows = REGISTRY["rfm_segments"].builder(spark, sf_correctness).collect()
    n_cust = (
        load_table(spark, sf_correctness, "orders")
        .select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    by_code = {r["rfm_code"]: r for r in rows}
    for code in by_code:
        r, f, m = code // 100, (code // 10) % 10, code % 10
        assert 1 <= r <= 5 and 1 <= f <= 5 and 1 <= m <= 5
    if 555 in by_code and 111 in by_code:
        assert by_code[555]["avg_monetary"] > by_code[111]["avg_monetary"]


def test_basket_lift_matches_counter_model(spark, sf_correctness):
    """Pair counts and lift must agree with a Python Counter model
    over the deduped (order, brand) baskets."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from msstreamingstack_spark.sources.tables import load_table

    li = load_table(spark, sf_correctness, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    part = {
        r["p_partkey"]: r["p_brand"]
        for r in load_table(spark, sf_correctness, "part").collect()
    }
    baskets = defaultdict(set)
    for r in li:
        baskets[r["l_orderkey"]].add(part[r["l_partkey"]])
    n_orders = len(baskets)
    bc = Counter(b for bs in baskets.values() for b in bs)
    pc = Counter()
    for bs in baskets.values():
        for a, b in combinations(sorted(bs), 2):
            pc[(a, b)] += 1
    rows = REGISTRY["basket_lift_pairs"].builder(spark, sf_correctness).collect()
    got = {(r["brand_a"], r["brand_b"]): r for r in rows}
    want = {k: v for k, v in pc.items() if v >= 5}
    assert set(got) == set(want)
    for (a, b), n_ab in want.items():
        g = got[(a, b)]
        assert g["n_ab"] == n_ab
        lift = n_ab * n_orders / (bc[a] * bc[b])
        assert abs(g["lift"] - lift) < 1e-6


def test_events_dow_profile_anchored_and_partitioned(spark, sf_correctness):
    """Every (type, dow) share must be a valid partition (per-type
    shares sum to ~1), dow in [0, 6], the anchor must be correct
    (1970-01-01 = Thursday = dow 3 under 0=Monday), and counts must
    match a Python datetime model."""
    from collections import Counter, defaultdict
    from datetime import datetime, timezone

    from msstreamingstack_spark.sources.tables import events_with_time

    # anchor: 1970-01-01 (epoch day 0) is a Thursday; our integer
    # convention (epoch_day + 4) % 7 maps it to 4, i.e. 0=Sunday —
    # equal to (python weekday + 1) % 7, pinned per-row below
    assert datetime(1970, 1, 1, tzinfo=timezone.utc).weekday() == 3
    model = Counter()
    for r in events_with_time(spark, sf_correctness).select(
        "event_type", "ts_sec"
    ).collect():
        dow = (r["ts_sec"] // 86400 + 4) % 7
        wd = datetime.fromtimestamp(r["ts_sec"], tz=timezone.utc).weekday()
        assert dow == (wd + 1) % 7  # engine dow = python weekday shifted
        model[(r["event_type"], dow)] += 1
    rows = REGISTRY["events_dow_profile"].builder(spark, sf_correctness).collect()
    got = {(r["event_type"], r["dow"]): r["n_events"] for r in rows}
    assert got == dict(model)
    sums = defaultdict(float)
    for r in rows:
        assert 0 <= r["dow"] <= 6
        sums[r["event_type"]] += r["share_of_type"]
    assert all(abs(s - 1.0) < 1e-6 for s in sums.values())


def _md5_hash48(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_cusum_matches_clamp_recursion_bitwise(spark, sf_correctness):
    """Independent Python mirror of anomaly_cusum_events from the raw
    events table, computing the CLAMP RECURSION directly
    (S_t = max(0, S_{t-1} + d_t)) — proving the query's prefix-sum /
    running-min identity (S_t = C_t - min(0, min C)) equals the
    sequential definition, in the same integer-micros arithmetic."""
    from collections import defaultdict
    from decimal import Decimal

    from msstreamingstack_spark.queries_analytics import (
        CUSUM_ALARM_DIV,
        CUSUM_SLACK_DIV,
    )
    from msstreamingstack_spark.sources.tables import events_with_time

    raw = events_with_time(spark, sf_correctness).select(
        "event_type", "ts_sec", "value"
    ).collect()
    hourly = defaultdict(lambda: [0, Decimal(0)])  # (type,hour) -> [n, sum]
    for r in raw:
        k = (r["event_type"], r["ts_sec"] // 3600 * 3600)
        hourly[k][0] += 1
        # DECIMAL(25,6) quantization of each value, like the query
        hourly[k][1] += Decimal(repr(r["value"])).quantize(Decimal("0.000001"))
    by_type = defaultdict(list)
    for (et, hb), (n, s) in hourly.items():
        by_type[et].append((hb, n, int(s * 1_000_000)))
    expect = {}
    for et, rows in by_type.items():
        rows.sort()
        tot = sum(x for _, _, x in rows)
        mu = tot // len(rows)
        slack = mu // CUSUM_SLACK_DIV
        s_run = 0
        for hb, n, xi in rows:
            s_run = max(0, s_run + (xi - mu - slack))
            expect[(et, hb)] = (
                n,
                float(s_run) / 1e6,
                s_run * CUSUM_ALARM_DIV > tot,
            )
    got = REGISTRY["anomaly_cusum_events"].builder(
        spark, sf_correctness
    ).collect()
    assert len(got) == len(expect)
    n_alarm = 0
    for r in got:
        n, stat, alarm = expect[(r["event_type"], r["hour_bucket"])]
        assert r["n_events"] == n
        assert r["cusum_stat"] == stat  # bitwise: same int -> /1e6
        assert r["alarm"] == alarm
        n_alarm += alarm
    # the statistic must actually move: some alarms or some nonzero S
    assert any(r["cusum_stat"] > 0 for r in got)


def test_theta_overlap_matches_python_sketch_bitwise(spark, sf_correctness):
    """Full Python mirror of segment_overlap_theta: per-type bottom-K
    KMV over md5-hash48(user_id), pairwise theta intersection, exact
    rider — every output column bitwise, plus the estimator lands
    within the ~1/sqrt(K) KMV band of the exact overlap."""
    from collections import defaultdict

    from msstreamingstack_spark.queries_analytics import (
        THETA_K,
        _THETA_SPACE,
    )
    from msstreamingstack_spark.sources.tables import events_with_time

    raw = events_with_time(spark, sf_correctness).select(
        "event_type", "user_id"
    ).distinct().collect()
    users = defaultdict(set)
    for r in raw:
        users[r["event_type"]].add(r["user_id"])
    samp, theta = {}, {}
    for et, us in users.items():
        hs = sorted({_md5_hash48(str(u)) for u in us})
        samp[et] = set(hs[:THETA_K])
        theta[et] = hs[THETA_K - 1] if len(hs) >= THETA_K else _THETA_SPACE
    types = sorted(users)
    expect = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            th = min(theta[a], theta[b])
            common = sum(1 for h in samp[a] & samp[b] if h < th)
            est = float(common) * float(1 << 48) / float(th)
            exact = len(users[a] & users[b])
            expect[(a, b)] = (
                len(samp[a]),
                len(samp[b]),
                th,
                common,
                est,
                exact,
            )
    got = REGISTRY["segment_overlap_theta"].builder(
        spark, sf_correctness
    ).collect()
    assert len(got) == len(expect)
    for r in got:
        k_a, k_b, th, common, est, exact = expect[(r["type_a"], r["type_b"])]
        assert (r["k_a"], r["k_b"], r["theta_ab"]) == (k_a, k_b, th)
        assert r["common_k"] == common
        assert r["est_overlap"] == est
        assert r["exact_overlap"] == exact
        # KMV accuracy: 4/sqrt(K) relative band (loose, >99.9% of draws)
        if exact > 0:
            assert abs(r["est_overlap"] - exact) <= max(
                4.0 / (THETA_K ** 0.5) * exact, 8.0
            )

