"""Physical-plan shape tests — pin the 100 TB-relevant properties of
each operator family's plan: predicate pushdown to the parquet scan,
column pruning, broadcast of small sides, no Python in hot paths.

These are the ".explain and iterate" gate: a regression that silently
un-pushes a filter or turns a broadcast join into a shuffle fails here
even though correctness tests still pass.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from msstreamingstack_spark.plans.inspect import assert_scan_pruned, plan_facts
from msstreamingstack_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def test_range_join_is_broadcast_not_cartesian(spark):
    f = plan_facts(REGISTRY["range_join_price_bands"].builder(spark, SF))
    assert "BroadcastNestedLoopJoin" in f.text
    assert "CartesianProduct" not in f.text


def test_left_join_pushes_no_filter_to_preserved_side(spark):
    # left outer join: orders (preserved) scan must NOT get the
    # customer filter; broadcast on the dim side
    f = plan_facts(REGISTRY["join_left_orders_customer"].builder(spark, SF))
    assert f.broadcast_joins >= 1


@pytest.mark.slow
def test_no_python_eval_in_relational_paths(spark):
    """Every relational/tpch query stays JVM-side end-to-end — Python
    appears only in explicitly-Python operators (pandas folds)."""
    for name, spec in REGISTRY.items():
        if name in (
            "pandas_udaf_value_moments",
            "ewma_event_values",  # prefix-dependent applyInPandas fold
        ):
            continue
        if "streaming" in spec.tags:
            continue
        f = plan_facts(spec.builder(spark, SF))
        assert f.python_evals == 0, f"{name} has Python in the plan"


def test_scan_pruning_on_wide_documents(spark):
    # sessionize_events needs user_id/ts/event_type but not the JSON props
    df = REGISTRY["sessionize_events"].builder(spark, SF)
    assert_scan_pruned(
        df, must_read=["user_id", "ts", "event_type"], must_not_read=["props"]
    )


def test_sessionize_single_shuffle(spark):
    """Sessionization = one hash partition by user_id; window + derive
    reuse the same partitioning (no extra exchange)."""
    f = plan_facts(REGISTRY["sessionize_events"].builder(spark, SF))
    assert f.shuffles <= 2, f.text  # AQE counts logical+final exchange


@pytest.mark.parametrize("name", ["histogram_event_values", "agg_events_stats"])
def test_aggregates_are_partial_then_final(spark, name):
    """Map-side combine present: HashAggregate appears above AND below
    the exchange (partial_ prefix in formatted plans)."""
    f = plan_facts(REGISTRY[name].builder(spark, SF))
    assert f.text.count("HashAggregate") >= 2
    assert "partial_" in f.text


def test_range_frame_single_window_pass(spark):
    """Both RANGE-frame aggs share one Window operator: one shuffle on
    user_id, one sort, no second exchange."""
    import re

    f = plan_facts(REGISTRY["range_frame_rolling_sum"].builder(spark, SF))
    assert f.python_evals == 0
    # formatted explain lists each op twice (tree + detail): count nodes
    assert len(re.findall(r"\(\d+\) Window", f.text)) == 1, f.text
    assert len(re.findall(r"\(\d+\) Exchange", f.text)) == 1, f.text


def test_grouping_sets_single_expand_pass(spark):
    """GROUPING SETS compiles to Expand + one aggregate pair — not one
    scan per grouping set."""
    import re

    f = plan_facts(REGISTRY["grouping_sets_revenue"].builder(spark, SF))
    assert "Expand" in f.text
    assert len(re.findall(r"\(\d+\) Scan parquet", f.text)) == 1, f.text


def test_interval_join_no_cartesian(spark):
    """The attribution query's join must run as an equi-join on user
    with the interval as its residual predicate — never a
    cartesian/nested-loop."""
    f = plan_facts(REGISTRY["interval_join_attribution"].builder(spark, SF))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_shuffle_budget_pins(spark):
    """Upper-bound shuffle budget per headline operator, in formatted-
    plan Exchange OCCURRENCES (each physical exchange appears twice:
    tree + details section). A regression that adds one real shuffle
    raises the count by 2 and fails here with the plan attached."""
    # the budgets pin the UNCACHED shape: a rotating-persist slot left
    # by an earlier test whose logical plan matches a subtree here
    # would print the cached plan's own exchanges into the text and
    # inflate the count
    spark.catalog.clearCache()
    budget = {
        "sessionize_events": 2,        # 1 real: user key (exchange reuse)
        "histogram_event_values": 2,   # 1 real: group keys after partial agg
        "hypertable_rollup": 4,        # 2 real: minutely, hourly
    }
    for name, max_occ in budget.items():
        f = plan_facts(REGISTRY[name].builder(spark, SF))
        assert f.shuffles <= max_occ, (
            f"{name}: {f.shuffles} Exchange occurrences > budget {max_occ}\n"
            f"{f.text[:2000]}"
        )


def test_bucketed_window_plan_budgets(spark):
    """The skew-bounded window twins pay a bounded premium over their
    plain forms: pin their Exchange occurrence budgets (tree+details
    double-count) and that the tiny summary side joins broadcast, so
    the only event-sized shuffles are the (key, bucket) window and the
    final stitch/session-id stage."""
    spark.catalog.clearCache()  # pin the uncached shape (see above)
    f = plan_facts(REGISTRY["sessionize_events_bucketed"].builder(spark, SF))
    assert f.shuffles <= 8, f.text[:2000]
    assert f.broadcast_joins >= 1, "summary side must broadcast"
    f = plan_facts(REGISTRY["running_revenue_bucketed"].builder(spark, SF))
    assert f.shuffles <= 6, f.text[:2000]
    assert f.broadcast_joins >= 1, "summary side must broadcast"


def test_basket_pairs_no_self_join(spark):
    """r9 basket kernel: pairs explode map-side from the per-order
    sorted brand array — the plan must carry NO okey self-join (no
    SortMergeJoin / ShuffledHashJoin anywhere; the only joins are the
    broadcast part-dim and the broadcast stats tail), and exactly one
    event-sized exchange (the groupBy(okey) basket build) plus the
    tiny post-explode grid aggregate."""
    spark.catalog.clearCache()
    for name in ("basket_lift_pairs", "basket_lift_pairs_capped"):
        f = plan_facts(REGISTRY[name].builder(spark, SF))
        assert "SortMergeJoin" not in f.text, (name, f.text[:2000])
        assert "ShuffledHashJoin" not in f.text, (name, f.text[:2000])
        assert f.broadcast_joins >= 3, (name, f.text[:2000])
        # measured occurrence budgets (tree+details double-count; the
        # ob subtree prints once per consumer — n, bc, baskets — and
        # the capped form adds the row_number window's okey exchange
        # per consumer). The self-join form measured 20/— here; a
        # regression reintroducing it fails the join asserts above
        # before these budgets.
        max_occ = 16 if name == "basket_lift_pairs" else 24
        assert f.shuffles <= max_occ, (
            f"{name}: {f.shuffles} Exchange occurrences > {max_occ}\n"
            f"{f.text[:2000]}"
        )


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """At 100 TB the lineitem side of a selective dim join is a
    multi-TB scan, and Spark's runtime bloom filter (default-on,
    size-gated) injects a might_contain() predicate on the fact side
    built from the filtered dim — row groups that cannot match never
    leave the scan. The size gates (10 GB application-side scan)
    correctly DON'T fire at test scale, so this pin lowers them to
    prove the engine session supports the injection path end-to-end;
    on defaults the same plan stays clean (no per-join overhead
    locally). Broadcast is disabled in-test because bloom filters
    only apply to shuffle joins (a broadcast join already prunes)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        pt = spark.read.parquet(f"{SF}/part.parquet").filter(
            F.col("p_type") == "SMALL"
        )
        df = (
            li.join(pt, li.l_partkey == pt.p_partkey)
            .groupBy("l_returnflag")
            .count()
        )
        f = plan_facts(df)
        assert "might_contain" in f.text, "runtime bloom filter not injected"
        # correctness unaffected by the injected filter
        assert df.count() > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pagerank_edges_persisted_once_no_cartesian(spark):
    """PageRank's normalized edge table must come from the persisted
    slot (it feeds every round — recomputing the lineitem⋈orders build
    per round is the failure), with no cartesian pair stage and no
    Python anywhere; the only cross joins are the broadcast node-count
    scalar."""
    f = plan_facts(REGISTRY["graph_pagerank_copurchase"].builder(spark, SF))
    assert "InMemoryTableScan" in f.text, "edge table must be persisted"
    assert "CartesianProduct" not in f.text
    assert f.python_evals == 0, "PageRank must stay JVM-side"


def test_merge_single_key_shuffle_no_python(spark):
    """The MERGE decomposition must stay one full-outer key join plus
    a narrow projection — no cartesian, no Python, and the source
    build must not re-scan customer more than the two declared reads
    (updates + target)."""
    f = plan_facts(REGISTRY["merge_upsert_customers"].builder(spark, SF))
    assert "CartesianProduct" not in f.text
    assert f.python_evals == 0, "merge must stay JVM-side"


def test_ewma_single_shuffle_into_pandas_kernel(spark):
    """The EWMA kernel pays exactly ONE user_id exchange feeding one
    partition-level MapInPandas fold (r11 shape: an explicit hash
    repartition + in-partition sort replaces groupBy().applyInPandas,
    so thousands of per-user pandas frames collapse into one pass per
    task and parallelism is the configured shuffle width, not the
    AQE-coalesced byte count). No second shuffle anywhere."""
    f = plan_facts(REGISTRY["ewma_event_values"].builder(spark, SF))
    assert "MapInPandas" in f.text
    assert "FlatMapGroupsInPandas" not in f.text
    # formatted plans list every node twice (tree + detail section), so
    # one physical occurrence == count 2
    assert f.python_evals == 2, f.text
    assert f.shuffles == 2, f.text
    # the repartition must be the explicit hash form on user_id (exempt
    # from AQE coalescing), with the group sort inside the partition
    assert "REPARTITION_BY_NUM" in f.text, f.text


def test_triangle_count_no_cartesian_and_reuses_oriented(spark):
    """All three triangle joins must be equi-joins on node keys (never
    cartesian/BNLJ), and the oriented edge frame must come from ONE
    persisted subtree consumed three times."""
    f = plan_facts(REGISTRY["graph_triangle_count"].builder(spark, SF))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert f.text.count("InMemoryTableScan") >= 3, f.text
    assert f.python_evals == 0


def test_regr_single_shuffle_moment_fold(spark):
    """The regression family is one partial-aggregated shuffle of six
    numbers per group — no join, no window, no Python."""
    f = plan_facts(REGISTRY["regr_value_on_propk"].builder(spark, SF))
    assert f.python_evals == 0
    assert f.broadcast_joins == 0 and f.sortmerge_joins == 0
    assert "HashAggregate" in f.text


def test_sixth_wave_plans_no_cartesian_no_python(spark):
    """Sixth-wave operators: every join is keyed (no cartesian/BNLJ
    except declared broadcast scalars), and nothing drops to a Python
    worker — all are pure JVM expression plans."""
    for name in (
        "anomaly_mad_events",
        "resample_ohlc_hourly",
        "wau_sliding_distinct",
        "session_paths_topk",
        "event_transition_matrix",
        "bootstrap_ci_value_mean",
    ):
        f = plan_facts(REGISTRY[name].builder(spark, SF))
        assert "CartesianProduct" not in f.text, name
        assert f.python_evals == 0, (name, f.text)


def test_ohlc_single_exchange_partial_agg(spark):
    """The candle table is ONE map-combined shuffle: partial
    struct-min/max on the scan side, one exchange on (type, hour)."""
    import re

    f = plan_facts(REGISTRY["resample_ohlc_hourly"].builder(spark, SF))
    assert len(set(re.findall(r"\((\d+)\) Exchange", f.text))) == 1, f.text
    assert "partial_min" in f.text and "partial_max" in f.text, f.text
    assert "Join" not in f.text
