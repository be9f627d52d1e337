"""Skew-twin auto-dispatch: the probe + measured-crossover router
(operators/skew_dispatch.py).

The contract under test, per family:
  - crossover math reproduces the round 9 crossover runs' shape
    (piecewise 3-point: sessionize ~0.245, running_revenue ~0.196,
    the two source-dominance families inf — no crossover at this
    scale);
  - the dispatcher picks PLAIN on a uniform fixture and the TWIN on
    the 30%-hot fixture (running_revenue's measured crossover 0.196
    sits between them);
  - routing never changes the result — auto output is bit-identical
    to the default plan (the twins' own parity suites pin the twin
    side; here we pin the auto path end-to-end once).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from msstreamingstack_spark.operators.skew_dispatch import (
    CALIBRATED_QUALITY,
    DISPATCH,
    RUNNING_REVENUE,
    SESSIONIZE,
    TOKEN_BUDGET,
    _rank_window_model,
    auto_build,
    decide,
    hot_key_share,
)
from msstreamingstack_spark.queries import REGISTRY


class TestCrossoverMath:
    def test_sessionize_crossover_matches_measured_points(self):
        # r9 piecewise: crossing in the [0.15, 0.3] segment — plain
        # 2.698->3.272 vs twin 3.279->2.940
        assert SESSIONIZE.crossover_share() == pytest.approx(0.245, abs=0.005)

    def test_running_revenue_crossover(self):
        # r9 piecewise 0.196; the two-point line through (uniform,
        # hot) alone would say 0.161 — BELOW the measured 0.15-point
        # where plain still wins (2.904 vs 3.643). The interior point
        # exists precisely to remove that dead-zone.
        assert RUNNING_REVENUE.crossover_share() == pytest.approx(
            0.196, abs=0.005
        )
        two_point = RUNNING_REVENUE.__class__(
            "rr2pt",
            RUNNING_REVENUE.plain_uniform,
            RUNNING_REVENUE.plain_hot,
            RUNNING_REVENUE.twin_uniform,
            RUNNING_REVENUE.twin_hot,
            measured_hot=RUNNING_REVENUE.measured_hot,
        )
        assert two_point.crossover_share() == pytest.approx(0.161, abs=0.005)

    def test_source_dominance_families_have_no_crossover_at_this_scale(self):
        # token_budget: plain got FASTER under dominance; calibrated:
        # premium never repaid within h <= 1. Both -> inf, so auto
        # always picks plain (explicit --skew-robust on still works).
        assert math.isinf(TOKEN_BUDGET.crossover_share())
        assert math.isinf(CALIBRATED_QUALITY.crossover_share())

    def test_rank_window_transfer_model(self):
        # h* = (premium - 1) / 1.5 * 0.3
        assert _rank_window_model(1.48).crossover_share() == pytest.approx(
            0.096, abs=0.001
        )
        assert _rank_window_model(1.48).extrapolated is True

    def test_twin_cheaper_at_uniform_means_always_twin(self):
        from msstreamingstack_spark.operators.skew_dispatch import (
            CrossoverModel,
        )

        m = CrossoverModel("x", 2.0, 2.0, 1.0, 1.0)
        assert m.crossover_share() == 0.0


class TestDispatchTable:
    def test_every_entry_resolves_in_registry(self):
        import inspect

        for name, d in DISPATCH.items():
            assert name in REGISTRY
            if d.twin_entry is not None:
                assert d.twin_entry in REGISTRY
            else:
                sig = inspect.signature(REGISTRY[name].builder)
                assert "skew_robust" in sig.parameters


class TestHotKeyShareAndDecision:
    """The verdict's done-criterion: plain on the uniform fixture,
    twin on the 30%-hot fixture, matching the crossover data."""

    def _uniform(self, spark):
        # 100 keys x 40 rows: top-1 share 0.01 — below every finite
        # crossover in the table.
        return spark.range(4000).select(
            (F.col("id") % 100).alias("o_custkey")
        )

    def _hot30(self, spark):
        # ~30% of rows on ONE key (the hot-key fixture shape), the
        # regime the round 9 crossover runs measured.
        return spark.range(4000).select(
            F.when(F.col("id") % 10 < 3, F.lit(0))
            .otherwise(F.col("id"))
            .alias("o_custkey")
        )

    def test_share_estimates(self, spark):
        assert hot_key_share(self._uniform(spark)) == pytest.approx(0.01)
        assert hot_key_share(self._hot30(spark)) == pytest.approx(
            0.3, abs=0.01
        )

    def test_uniform_routes_plain_hot_routes_twin(self, spark):
        u = decide(
            "running_revenue_per_customer",
            hot_key_share(self._uniform(spark)),
        )
        h = decide(
            "running_revenue_per_customer", hot_key_share(self._hot30(spark))
        )
        assert u.use_twin is False
        assert h.use_twin is True
        # the routing boundary IS the measured crossover
        assert u.crossover == pytest.approx(0.196, abs=0.005)

    def test_source_dominance_stays_plain_even_at_60pct(self):
        d = decide("token_budget_sample", 0.6)
        assert d.use_twin is False and math.isinf(d.crossover)

    def test_decision_describe_names_provenance(self):
        s = decide("topk_customers_per_segment", 0.5).describe()
        assert "transfer" in s and "twin" in s
        s2 = decide("running_revenue_per_customer", 0.01).describe()
        assert "measured" in s2 and "default plan" in s2


class TestAutoBuildEndToEnd:
    def test_auto_is_bit_identical_to_default(self, spark, sf_smoke):
        # sf0.001 orders is near-uniform on o_custkey -> auto picks
        # plain; force the comparison anyway by also building the
        # twin entry and checking all three collect identically.
        df_auto, decision = auto_build(
            spark, sf_smoke, "running_revenue_per_customer"
        )
        df_plain = REGISTRY["running_revenue_per_customer"].builder(
            spark, sf_smoke
        )
        df_twin = REGISTRY["running_revenue_bucketed"].builder(
            spark, sf_smoke
        )
        rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
        assert rows(df_auto) == rows(df_plain) == rows(df_twin)
        assert decision.use_twin is False  # uniform natural data

    def test_low_cardinality_segment_key_routes_twin(self, spark, sf_smoke):
        # 5 market segments -> top-1 share ~0.2 >= transfer crossover
        # 0.096: at corpus scale a bare segment window pins ~20% of
        # all customers to one task, exactly the hazard the twin
        # bounds — auto must pick it, and results must not move.
        df_auto, decision = auto_build(
            spark, sf_smoke, "topk_customers_per_segment"
        )
        assert decision.use_twin is True
        df_plain = REGISTRY["topk_customers_per_segment"].builder(
            spark, sf_smoke
        )
        assert sorted(map(tuple, df_auto.collect())) == sorted(
            map(tuple, df_plain.collect())
        )

    def test_unknown_query_raises(self, spark, sf_smoke):
        with pytest.raises(KeyError):
            auto_build(spark, sf_smoke, "tpch_q1")


class TestCliPlumbing:
    def test_check_skew_mode_rejects_auto_without_dispatch_entry(self):
        from msstreamingstack_spark.__main__ import _check_skew_mode

        assert _check_skew_mode("tpch_q1", "auto", err_code=2) == 2
        assert _check_skew_mode("tpch_q1", "on", err_code=1) == 1
        assert _check_skew_mode("tpch_q1", None, err_code=2) is None
        assert (
            _check_skew_mode("running_revenue_per_customer", "auto", 2)
            is None
        )
        assert _check_skew_mode("token_budget_sample", "on", 2) is None


class TestEntryPairTwinViaOn:
    def test_on_mode_resolves_entry_pair_twins(self, spark, capsys):
        """--skew-robust on must work for queries whose twin is a
        SEPARATE registry entry (sessionize_events_bucketed), not only
        for flag-selected twins."""
        from msstreamingstack_spark.__main__ import (
            _build_with_skew_mode,
            _check_skew_mode,
        )

        assert _check_skew_mode("sessionize_events", "on", 2) is None
        df_twin = _build_with_skew_mode(
            spark, "/root/testdata/sf0.001", "sessionize_events", "on"
        )
        df_plain = REGISTRY["sessionize_events"].builder(
            spark, "/root/testdata/sf0.001"
        )
        assert sorted(map(tuple, df_twin.collect())) == sorted(
            map(tuple, df_plain.collect())
        )
