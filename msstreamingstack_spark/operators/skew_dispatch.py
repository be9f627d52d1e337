"""Skew-twin auto-dispatch: route a query to its skew-robust twin
when the data says so.

The engine carries bit-identical ``skew_robust`` twins for the window
family (the one operator class AQE cannot skew-split — a window
partitioned by a hot key sorts that key's entire slice in ONE task).
The twins cost a measured premium on uniform data (round 7 twin
runs: 1.09-3.28x) and win past a measured hot-key share (round 6-7
crossover runs), so until now every caller had to decide by hand via
``--skew-robust``.

This module closes the loop: a cheap top-1-key-share probe plus the
measured two-point crossover data pick the plan. Both plans are
bit-identical (pinned by the twin parity tests), so the dispatcher
can never change a result — only its cost.

Crossover model
---------------
The crossover runs measured each family at two hot-share points
(uniform, and 0.3 for the key-skew fixtures / 0.6 for the
source-dominance fixtures). Runtime is modeled linearly in the hot
share ``h`` between the two points::

    plain(h) = pu + (ph - pu) * h / H      (H = measured hot share)
    twin(h)  = tu + (th - tu) * h / H

and the crossover share ``h*`` solves ``plain(h*) = twin(h*)``. When
the lines never cross in (0, 1] — the twin's premium exceeds any
plain-side degradation, as measured for the source-keyed
value-ordered windows at this scale — the crossover is ``inf`` and
auto mode always picks the plain plan (the twin stays reachable via
an explicit ``--skew-robust on``; its hazard is the 10^4x regime the
round 7 crossover runs recorded).

For rank-window twins (top-k per key) no direct crossover fixture
exists at bench SF (their inputs are too small to degrade), so their
model is a documented TRANSFER: plain normalized to 1.0 at uniform
degrading to 2.5 at 30% hot (the midpoint of the two measured window
families: sessionize 2.33x, running_revenue 2.80x), twin flat at its
measured uniform premium from the round 7 twin runs (the measured
twins were flat under skew: 1.01x, 0.83x). Those models carry
``extrapolated=True`` so the provenance is visible in the decision.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "CrossoverModel",
    "SkewDispatch",
    "DISPATCH",
    "Decision",
    "hot_key_share",
    "decide",
    "auto_build",
]


@dataclass(frozen=True)
class CrossoverModel:
    """Two measured (hot_share, seconds) points per plan.

    ``measured_hot`` is the hot share of the skewed fixture the
    numbers come from (0.3 for the key-skew events/orders fixtures,
    0.6 for the source-dominance documents fixtures). ``extrapolated``
    marks transfer models (see module docstring) vs directly
    measured families.
    """

    family: str
    plain_uniform: float
    plain_hot: float
    twin_uniform: float
    twin_hot: float
    measured_hot: float = 0.3
    extrapolated: bool = False
    # Optional INTERIOR measured point (round 9 crossover runs):
    # with it the model is piecewise-linear through three points
    # instead of one line through two. The r9 interior fixtures
    # showed plain-side cost slightly CONCAVE in hot share (measured
    # mid 0.84-0.91x the two-point line), which places the true
    # crossover a little above the two-point h* — the piecewise fit
    # stops the router flipping to the twin in that dead-zone.
    plain_mid: Optional[float] = None
    twin_mid: Optional[float] = None
    measured_mid: float = 0.15

    def crossover_share(self) -> float:
        """Hot-key share past which the twin is the cheaper plan.

        ``inf`` when the plain plan stays cheaper over (0, 1] — i.e.
        the twin premium at uniform is never repaid by plain-side
        degradation within any realizable hot share. Piecewise over
        the measured points when an interior point exists; exactly
        the old two-point line otherwise.
        """
        pts = [(0.0, self.plain_uniform, self.twin_uniform)]
        if self.plain_mid is not None and self.twin_mid is not None:
            pts.append((self.measured_mid, self.plain_mid, self.twin_mid))
        pts.append((self.measured_hot, self.plain_hot, self.twin_hot))
        for (h0, p0, t0), (h1, p1, t1) in zip(pts, pts[1:]):
            gap0 = t0 - p0  # >0: twin premium at segment start
            gap1 = t1 - p1
            if gap0 <= 0:
                return h0  # twin already cheaper entering the segment
            if gap1 <= 0:
                # crossing inside this measured segment
                return h0 + (h1 - h0) * gap0 / (gap0 - gap1)
        # no crossing inside the measured range: extrapolate the last
        # segment's closing rate
        (h0, p0, t0), (h1, p1, t1) = pts[-2], pts[-1]
        closing = ((p1 - p0) - (t1 - t0)) / (h1 - h0)
        if closing <= 0:
            return math.inf
        h = h1 + (t1 - p1) / closing
        return h if h <= 1.0 else math.inf


# Directly measured families — numbers verbatim from the round 9
# crossover runs (32x sf0.1 fixtures, quiet host, THREE points per
# family: uniform / 15% / 30% hot — 30%/60% for the source-dominance
# pair). r9 vs the r7 two-point models:
# both window families' crossovers moved DOWN (sessionize 0.336 -> ~0.245,
# running_revenue 0.221 -> ~0.196 piecewise) — consistent with r8's
# observed dead heat at share 0.30 — and the interior points confirm
# ~linearity (two-point-line ratios 0.84-1.02) with mild concavity,
# which the piecewise fit absorbs.
SESSIONIZE = CrossoverModel(
    "sessionize", 2.640, 3.272, 3.894, 2.940, measured_hot=0.3,
    plain_mid=2.698, twin_mid=3.279, measured_mid=0.15,
)  # h* ~= 0.245 (piecewise; twin measured FASTER at 30% hot in r9)
RUNNING_REVENUE = CrossoverModel(
    "running_revenue", 1.544, 5.371, 3.484, 3.693, measured_hot=0.3,
    plain_mid=2.904, twin_mid=3.643, measured_mid=0.15,
)  # h* ~= 0.196 (piecewise; two-point line said 0.161, inside the
#    0.15-point's measured plain-still-wins regime — the dead-zone
#    the interior point exists to remove)
TOKEN_BUDGET = CrossoverModel(
    "token_budget", 1.021, 0.886, 2.545, 2.212, measured_hot=0.6,
    plain_mid=0.835, twin_mid=2.076, measured_mid=0.3,
)  # inf — plain got FASTER under source dominance at this scale
CALIBRATED_QUALITY = CrossoverModel(
    "calibrated_quality", 1.002, 0.99, 2.514, 2.249, measured_hot=0.6,
    plain_mid=1.01, twin_mid=2.061, measured_mid=0.3,
)  # inf — twin premium never repaid at this scale


def _rank_window_model(premium: float) -> CrossoverModel:
    """Transfer model for the rank-window (top-k per key) twins.

    Normalized: plain 1.0 -> 2.5 at 30% hot (midpoint of the two
    measured window-family degradations, 2.33x and 2.80x); twin flat
    at its round 7 uniform premium (measured twins were flat
    under skew). h* = (premium - 1) / 1.5 * 0.3.
    """
    return CrossoverModel(
        "rank_window", 1.0, 2.5, premium, premium,
        measured_hot=0.3, extrapolated=True,
    )


ProbeFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class SkewDispatch:
    """How to auto-route one registry query.

    ``probe`` returns a 1-column DataFrame of the query's window
    partition key (one row per windowed input row) — the thing whose
    top-1 share decides the plan. ``twin_entry`` names a separate
    registry entry when the twin is not flag-selected.
    """

    query: str
    probe: ProbeFn
    model: CrossoverModel
    twin_entry: Optional[str] = None  # None => builder(skew_robust=True)


def hot_key_share(
    keyed: DataFrame, fraction: Optional[float] = None, seed: int = 8
) -> float:
    """Share of rows held by the single hottest key.

    One column-pruned scan -> map-side-combined count-by-key -> a
    2-scalar agg; cost is O(distinct keys) post-combine, the cheapest
    honest skew probe Spark offers without a prior sketch. Pass
    ``fraction`` to probe a row sample at corpus scale (top-1 share
    is stable under uniform row sampling).
    """
    if fraction is not None:
        keyed = keyed.sample(fraction=fraction, seed=seed)
    counts = keyed.groupBy(keyed.columns[0]).count()
    row = counts.agg(
        F.max("count").alias("top"), F.sum("count").alias("tot")
    ).first()
    if row is None or not row["tot"]:
        return 0.0
    return float(row["top"]) / float(row["tot"])


@dataclass(frozen=True)
class Decision:
    query: str
    share: float
    crossover: float
    use_twin: bool
    family: str
    extrapolated: bool

    def describe(self) -> str:
        x = "inf" if math.isinf(self.crossover) else f"{self.crossover:.3f}"
        src = "transfer" if self.extrapolated else "measured"
        plan = "skew-robust twin" if self.use_twin else "default plan"
        return (
            f"{self.query}: top-key share {self.share:.3f} vs "
            f"crossover {x} ({self.family}, {src}) -> {plan}"
        )


def decide(query: str, share: float) -> Decision:
    d = DISPATCH[query]
    x = d.model.crossover_share()
    return Decision(
        query=query,
        share=share,
        crossover=x,
        use_twin=share >= x,
        family=d.model.family,
        extrapolated=d.model.extrapolated,
    )


# --------------------------------------------------------------------------
# Probes: the exact column the query's window partitions by, pruned to
# one column so the parquet scan reads nothing else.
# --------------------------------------------------------------------------

def _col_probe(table: str, col: str) -> ProbeFn:
    def probe(spark: SparkSession, sf_dir: str) -> DataFrame:
        from msstreamingstack_spark.sources.tables import load_table

        return load_table(spark, sf_dir, table).select(col)

    return probe


def _term_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inverted_index_sampled partitions by TERM, a derived key — the
    probe tokenizes a deterministic ~1/16 doc sample (hash-of-id
    sampling is exact here because the window's rows are (doc, term)
    pairs grouped by term, and sampling whole docs preserves each
    term's expected share)."""
    from msstreamingstack_spark.functions.text import hash48
    from msstreamingstack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sampled = docs.filter(hash48(F.col("doc_id").cast("string")) % 16 == 0)
    return (
        sampled.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .distinct()
        .select("term")
    )


# Premiums from the round 7 twin runs (uniform sf0.1, default_s -> robust_s).
_DISPATCHES: Sequence[SkewDispatch] = (
    # Directly measured families
    SkewDispatch(
        "sessionize_events", _col_probe("events", "user_id"),
        SESSIONIZE, twin_entry="sessionize_events_bucketed",
    ),
    SkewDispatch(
        "running_revenue_per_customer", _col_probe("orders", "o_custkey"),
        RUNNING_REVENUE, twin_entry="running_revenue_bucketed",
    ),
    SkewDispatch(
        "token_budget_sample", _col_probe("documents", "source"),
        TOKEN_BUDGET,
    ),
    SkewDispatch(
        "token_budget_quality_sample", _col_probe("documents", "source"),
        TOKEN_BUDGET,
    ),
    SkewDispatch(
        "pack_sequences_greedy", _col_probe("documents", "source"),
        TOKEN_BUDGET,
    ),
    SkewDispatch(
        "pack_blocks_fixed", _col_probe("documents", "source"),
        TOKEN_BUDGET,
    ),
    SkewDispatch(
        "quality_source_calibrated", _col_probe("documents", "source"),
        CALIBRATED_QUALITY,
    ),
    # Rank-window transfer models (premium from the round 7 twin runs)
    SkewDispatch(
        "topk_customers_per_segment", _col_probe("customer", "c_mktsegment"),
        _rank_window_model(1.48),
    ),
    SkewDispatch(
        "top_ngrams_per_lang", _col_probe("documents", "lang"),
        _rank_window_model(1.09),
    ),
    SkewDispatch(
        "sample_reservoir_stratified", _col_probe("documents", "lang"),
        _rank_window_model(1.49),
    ),
    SkewDispatch("inverted_index_sampled", _term_probe,
                 _rank_window_model(1.52)),
)

DISPATCH: dict[str, SkewDispatch] = {d.query: d for d in _DISPATCHES}


def auto_build(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    fraction: Optional[float] = None,
) -> tuple[DataFrame, Decision]:
    """Probe, decide, and build the chosen (bit-identical) plan."""
    from msstreamingstack_spark.queries import REGISTRY

    if query not in DISPATCH:
        raise KeyError(
            f"{query} has no skew auto-dispatch entry; use an explicit "
            "--skew-robust on, or the default plan"
        )
    d = DISPATCH[query]
    share = hot_key_share(d.probe(spark, sf_dir), fraction=fraction)
    decision = decide(query, share)
    if not decision.use_twin:
        df = REGISTRY[query].builder(spark, sf_dir)
    elif d.twin_entry is not None:
        df = REGISTRY[d.twin_entry].builder(spark, sf_dir)
    else:
        df = REGISTRY[query].builder(spark, sf_dir, skew_robust=True)
    return df, decision
