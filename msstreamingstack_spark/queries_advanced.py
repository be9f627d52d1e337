"""Advanced operator coverage: as-of / range joins, exact percentiles
and approximate aggregates — registered through the same
queries()/oracle_sql() entry points as everything else.

The as-of join entries cover operators the reference engine lacks
outright (SURVEY.md §2.4-2.5 "ABSENT" sections). Scale notes live on
each operator's docstring.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.functions.text import hash48_sql
from msstreamingstack_spark.operators.asof import asof_join
from msstreamingstack_spark.queries import (
    EVENTS_TS_SQL,
    _dec_sum,
    _dec_sum_sql,
    register,
)
from msstreamingstack_spark.sources.tables import (
    events_with_time,
    load_table,
    spread,
)


# ---------------------------------------------------------------------------
# As-of join (point-in-time enrichment)
# ---------------------------------------------------------------------------
@register(
    "asof_last_purchase",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
p AS (
  SELECT user_id, ts_sec AS purchase_ts, MAX(value) AS purchase_value
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_sec
)
SELECT e.event_id, e.user_id, e.event_type, e.ts_sec,
       COALESCE(p.purchase_ts, -1) AS purchase_ts,
       COALESCE(p.purchase_value, -1.0) AS purchase_value
FROM ev e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts_sec >= p.purchase_ts
""",
    tags=("advanced", "asof-join"),
    doc="Backward-inclusive as-of join: every event carries the most "
    "recent at-or-before purchase of the same user. Union+window "
    "sort-merge form — O(|L|+|R|) through one shuffle, no range "
    "explosion (operators/asof.py).",
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts_sec").alias("purchase_ts"))
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "event_type", "ts_sec"),
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="purchase_ts",
    )
    # sentinel-coalesce: null bigint/double columns round-trip through
    # pandas as float NaN, breaking the driver's repr-exact compare
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_sec",
        F.coalesce(F.col("purchase_ts"), F.lit(-1)).alias("purchase_ts"),
        F.coalesce(F.col("purchase_value"), F.lit(-1.0)).alias("purchase_value"),
    )


ASOF_FWD_TOL_SEC = 3600


@register(
    "asof_next_purchase_tolerance",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
p AS (
  SELECT user_id, ts_sec AS purchase_ts, MAX(value) AS purchase_value
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_sec
),
v AS (SELECT event_id, user_id, ts_sec FROM ev WHERE event_type = 'view'),
m AS (
  SELECT v.event_id, v.user_id, v.ts_sec, p.purchase_ts, p.purchase_value
  FROM v ASOF LEFT JOIN p
    ON v.user_id = p.user_id AND v.ts_sec <= p.purchase_ts
)
SELECT event_id, user_id, ts_sec,
       COALESCE(CASE WHEN purchase_ts - ts_sec <= {ASOF_FWD_TOL_SEC}
                     THEN purchase_ts END, -1) AS purchase_ts,
       COALESCE(CASE WHEN purchase_ts - ts_sec <= {ASOF_FWD_TOL_SEC}
                     THEN purchase_value END, -1.0) AS purchase_value
FROM m
""",
    tags=("advanced", "asof-join", "tolerance"),
    doc="FORWARD as-of join with tolerance: every view carries the "
    "next at-or-after purchase of the same user, nulled (sentineled) "
    "when it is more than an hour out — pandas merge_asof"
    "(direction='forward', tolerance=...) semantics, the "
    "next-conversion / sensor-alignment shape. Same union+window "
    "single-shuffle plan as the backward form (operators/asof.py — "
    "comparator flipped, window looks ahead); the DuckDB twin is "
    "ASOF LEFT JOIN with the flipped comparator + tolerance CASE. "
    "Differs from interval_join_attribution by returning exactly one "
    "row per view (match or sentinel), never multiplying rows.",
)
def q_asof_next_purchase_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts_sec").alias("purchase_ts"))
        .agg(F.max("value").alias("purchase_value"))
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_sec"
    )
    out = asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="purchase_ts",
        direction="forward",
        tolerance=ASOF_FWD_TOL_SEC,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.coalesce(F.col("purchase_ts"), F.lit(-1)).alias("purchase_ts"),
        F.coalesce(F.col("purchase_value"), F.lit(-1.0)).alias(
            "purchase_value"
        ),
    )


# ---------------------------------------------------------------------------
# Range (band) join
# ---------------------------------------------------------------------------
PRICE_BANDS = (
    ("P0_under_100k", 0.0, 100_000.0),
    ("P1_100k_200k", 100_000.0, 200_000.0),
    ("P2_200k_300k", 200_000.0, 300_000.0),
    ("P3_300k_400k", 300_000.0, 400_000.0),
    ("P4_400k_plus", 400_000.0, 1e18),
)

_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)


@register(
    "range_join_price_bands",
    f"""
SELECT band, COUNT(*) AS n_orders,
       {_dec_sum_sql('o_totalprice', 'sum_price')}
FROM orders
JOIN (VALUES {_BANDS_VALUES}) AS bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
""",
    tags=("advanced", "range-join"),
    doc="Non-equi range join against a tiny banding dimension — "
    "explicitly broadcast, so the physical plan is a "
    "BroadcastNestedLoopJoin over a 5-row build side instead of a "
    "shuffled cartesian; the classic scalable banding shape.",
)
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        list(PRICE_BANDS), ["band", "lo", "hi"]
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Percentiles (exact, interpolated) + approximate aggregates
# ---------------------------------------------------------------------------
@register(
    "percentile_event_values",
    f"""
WITH ev AS ({EVENTS_TS_SQL})
SELECT event_type,
       CAST(CAST(quantile_cont(value, 0.25) AS DECIMAL(18,9)) AS DOUBLE) AS p25,
       CAST(CAST(quantile_cont(value, 0.50) AS DECIMAL(18,9)) AS DOUBLE) AS p50,
       CAST(CAST(quantile_cont(value, 0.75) AS DECIMAL(18,9)) AS DOUBLE) AS p75,
       CAST(CAST(quantile_cont(value, 0.95) AS DECIMAL(18,9)) AS DOUBLE) AS p95
FROM ev GROUP BY event_type
""",
    tags=("advanced", "percentile", "agg"),
    doc="Exact linear-interpolated percentiles per group (Spark "
    "`percentile` ≡ DuckDB `quantile_cont`); the DECIMAL(18,9) "
    "round-trip pins 9-digit rounding on both engines, and the final "
    "DOUBLE keeps the output repr engine-independent (the engine's "
    "`_dec_sum` discipline — a DECIMAL final column reprs differently "
    "between Spark and DuckDB and hash-fails the driver compare).",
)
def q_percentile_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        *[
            F.percentile(F.col("value"), F.lit(q))
            .cast("decimal(18,9)")
            .cast("double")
            .alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@register(
    "approx_distinct_users",
    None,  # HLL sketch values are engine-specific → rows-only check;
    # the ±5% accuracy bound vs exact is asserted in tests/test_advanced.py
    tags=("advanced", "approx", "agg"),
    doc="approx_count_distinct (HyperLogLog++) per event_type — the "
    "sketch path for 100 TB cardinality estimation; exact-vs-approx "
    "error bound is pytest-asserted since sketches differ by engine.",
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.approx_count_distinct("event_id", 0.02).alias("approx_events"),
    )


# Deterministic cross-engine HLL parameters + the dyadic-rational
# float-algebra argument live in functions/sketch.py (shared with the
# sliding-window twin in queries_analytics; a queries_* module must
# never import a sibling queries_* module at module level — the
# re-entrant first-import path would hit it partially initialized).
from msstreamingstack_spark.functions.sketch import (  # noqa: E402
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
    HLL_RHO_MAX as _HLL_RHO_MAX,
)


@register(
    "approx_distinct_users_hll_oracled",
    f"""
WITH h AS (
  SELECT event_type, user_id,
         {hash48_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM events
),
b AS (
  SELECT event_type, hv & 63 AS reg,
         {_HLL_RHO_MAX} - CASE WHEN (hv >> 6) = 0 THEN 0
                               ELSE length(bin(hv >> 6)) END AS rho
  FROM h
),
m AS (SELECT event_type, reg, MAX(rho) AS mr FROM b GROUP BY 1, 2),
agg AS (
  SELECT event_type, COUNT(*) AS n_regs_hit,
         SUM(1.0 / CAST(1::BIGINT << mr AS DOUBLE)) AS sp
  FROM m GROUP BY 1
),
ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
       FROM events GROUP BY 1)
SELECT agg.event_type,
       CAST(n_regs_hit AS BIGINT) AS n_regs_hit,
       CAST({_HLL_M} - n_regs_hit AS BIGINT) AS n_zero_regs,
       sp + ({_HLL_M} - n_regs_hit) AS sum_pow,
       ({_HLL_ALPHA} * {_HLL_M * _HLL_M}.0) / (sp + ({_HLL_M} - n_regs_hit))
         AS hll_estimate,
       exact_users
FROM agg JOIN ex USING (event_type)
""",
    tags=("advanced", "approx", "sketch", "agg"),
    doc="The ORACLED twin of approx_distinct_users: a deterministic "
    "64-register HLL built from the shared md5 hash48 primitive, so "
    "register states AND the raw estimate hash-match DuckDB exactly "
    "— proof that sketch pipelines can be cross-engine verifiable "
    "when the hash and the float algebra are pinned (the native "
    "approx_count_distinct row stays rows-only by design: its HLL++ "
    "internals are engine-specific). Exact distinct rides along for "
    "visible error. Mergeable: (event_type, reg) -> max(rho) partials "
    "combine map-side and across shards/micro-batches, the same "
    "shape Spark's own sketch uses at 100 TB. No small-range "
    "correction (ln() is not bit-portable across engines) — "
    "consumers apply it to the integer register counts this emits.",
)
def q_approx_distinct_users_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from msstreamingstack_spark.functions.text import hash48

    ev = events_with_time(spark, sf_dir)
    h = hash48(F.col("user_id").cast("string"))
    w = F.shiftright(h, 6)
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    b = ev.select(
        "event_type",
        h.bitwiseAND(F.lit(63)).alias("reg"),
        (F.lit(_HLL_RHO_MAX) - bitlen).alias("rho"),
    )
    m = b.groupBy("event_type", "reg").agg(F.max("rho").alias("mr"))
    agg = m.groupBy("event_type").agg(
        F.count("*").alias("n_regs_hit"),
        F.sum(
            F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(mr AS INT))")
        ).alias("sp"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    sum_pow = F.col("sp") + (F.lit(_HLL_M) - F.col("n_regs_hit"))
    return (
        agg.join(ex, "event_type")
        .select(
            "event_type",
            F.col("n_regs_hit").cast("long").alias("n_regs_hit"),
            (F.lit(_HLL_M) - F.col("n_regs_hit")).cast("long").alias(
                "n_zero_regs"
            ),
            sum_pow.alias("sum_pow"),
            (F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / sum_pow).alias(
                "hll_estimate"
            ),
            "exact_users",
        )
    )


@register(
    "approx_percentile_event_values",
    None,  # approx_percentile sketches are engine-specific → rows-only;
    # the rank-error bound vs the exact percentile query is asserted in
    # tests/test_advanced.py
    tags=("advanced", "approx", "agg", "percentile"),
    doc="approx_percentile per event_type (Spark's quantile sketch, "
    "accuracy 10000 ≈ 0.01% rank error) — the sketch twin of the exact "
    "`percentile_event_values`: at 100 TB the exact form needs a full "
    "sort-by-value per group while the sketch is one mergeable "
    "accumulator per partition (same shape as approx_count_distinct), "
    "which is the only percentile anyone computes at that scale. "
    "Rank-error bound vs the exact query is pytest-asserted; sketch "
    "internals differ per engine so the driver records rows-only.",
)
def q_approx_percentile_event_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_percentile(
            F.col("value"),
            F.array(*[F.lit(q) for q in (0.25, 0.50, 0.75, 0.95)]),
            F.lit(10000),
        ).alias("approx_quantiles")
    )


# Deterministic cross-engine quantile sketch: a bottom-K sample under
# the pinned md5 hash48 order (KMV-style). A static hash threshold
# (bottom 1/16 of the 48-bit space) thins the stream MAP-SIDE before
# any shuffle, then a per-group (hv, event_id) row_number caps the
# sample at K — the cap makes the sample, and therefore every
# estimate, a pure function of the data under the pinned hash.
# Mergeable: union two samples, re-rank, re-cap (bottom-K is closed
# under union), the same shard/micro-batch merge shape as the HLL
# twin's (reg -> max rho) partials. The deployment knob at 100 TB is
# the threshold (expected survivors per group ~= a small multiple of
# K); the estimates stay deterministic regardless because the cap is
# part of the definition.
_QSK_K = 1024
_QSK_THRESH = 1 << 44  # bottom 1/16 of the hash48 space
_QSK_QS = (0.25, 0.50, 0.75, 0.95)


@register(
    "percentile_event_values_sketch",
    f"""
WITH h AS (
  SELECT event_type, value,
         {hash48_sql("CAST(event_id AS VARCHAR)")} AS hv, event_id
  FROM events
),
s AS (
  SELECT event_type, value FROM (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY hv, event_id) AS rk
    FROM h WHERE hv < {_QSK_THRESH}
  ) WHERE rk <= {_QSK_K}
),
sk AS (
  SELECT event_type, COUNT(*) AS k_used,
{",".join(f'''         CAST(CAST(quantile_cont(value, {q}) AS DECIMAL(18,9))
              AS DOUBLE) AS s{int(q * 100)}''' for q in _QSK_QS)}
  FROM s GROUP BY event_type
),
ex AS (
  SELECT event_type,
         CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,9)) AS DOUBLE)
           AS p50_exact
  FROM events GROUP BY event_type
)
SELECT sk.event_type, k_used, s25, s50, s75, s95, p50_exact
FROM sk JOIN ex USING (event_type)
""",
    tags=("advanced", "approx", "sketch", "percentile", "agg"),
    doc="The ORACLED twin of approx_percentile_event_values (the r9 "
    "verdict's task #6, on the HLL-twin precedent): quantiles over a "
    f"deterministic bottom-{_QSK_K} sample in pinned md5-hash48 order "
    "— sample membership AND the interpolated estimates hash-match "
    "DuckDB exactly, because the hash, the tie-break (hv, event_id), "
    "the cap, and the DECIMAL(18,9) rounding are all part of the "
    "sketch's definition. A static threshold (bottom 1/16 of hash "
    "space) thins map-side before the only per-group sort, and the "
    "bottom-K sample is mergeable (union -> re-rank -> re-cap) "
    "across shards and micro-batches like any KMV sketch. Exact p50 "
    "rides along for visible rank error; the native approx_percentile "
    "row stays rows-only by design (its sketch internals are "
    "engine-specific). Group-set caveat (r10 ADVICE, deliberate): an "
    "event_type with ZERO hash-survivors below the threshold has no "
    "sample at all and DROPS OUT of the output (threshold filter + "
    "inner join from sk) — identically on both engines, so the hash "
    "still matches, but the sketch's group set can be a strict subset "
    "of the exact twin's at tiny scales. At deployment scale the "
    "threshold is sized so expected survivors per group >> 0 and the "
    "dropout probability is (15/16)^n -> 0; a group too rare to "
    "survive has too few rows to estimate quantiles from anyway.",
)
def q_percentile_event_values_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from msstreamingstack_spark.functions.text import hash48

    ev = events_with_time(spark, sf_dir)
    h = hash48(F.col("event_id").cast("string"))
    cand = ev.select(
        "event_type", "value", h.alias("hv"), "event_id"
    ).filter(F.col("hv") < F.lit(_QSK_THRESH))
    w = Window.partitionBy("event_type").orderBy("hv", "event_id")
    samp = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QSK_K)
    )
    sk = samp.groupBy("event_type").agg(
        F.count("*").alias("k_used"),
        *[
            F.percentile(F.col("value"), F.lit(q))
            .cast("decimal(18,9)")
            .cast("double")
            .alias(f"s{int(q * 100)}")
            for q in _QSK_QS
        ],
    )
    ex = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5))
        .cast("decimal(18,9)")
        .cast("double")
        .alias("p50_exact")
    )
    return sk.join(F.broadcast(ex), "event_type").select(
        "event_type", "k_used", "s25", "s50", "s75", "s95", "p50_exact"
    )


# ---------------------------------------------------------------------------
# Skew mitigation (salting) — result-identical to unsalted forms,
# so the oracle is the PLAIN SQL equivalent
# ---------------------------------------------------------------------------
@register(
    "salted_agg_user_values",
    f"""
WITH ev AS ({EVENTS_TS_SQL})
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_rows
FROM ev GROUP BY user_id
""",
    tags=("advanced", "skew", "agg"),
    doc="Two-stage salted aggregation (operators/skew.py): hot keys "
    "spread across 8 reducers in stage 1, recombined in stage 2. "
    "Oracle is the plain GROUP BY — salting must be value-invisible.",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.skew import salted_sum_count

    ev = events_with_time(spark, sf_dir)
    return salted_sum_count(
        ev, key="user_id", value_col="value", spread_col="event_id"
    )


@register(
    "salted_join_events_customer",
    f"""
WITH ev AS ({EVENTS_TS_SQL})
SELECT c.c_mktsegment, COUNT(*) AS n_events,
       CAST(SUM(CAST(ev.value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM ev JOIN customer c ON ev.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    tags=("advanced", "skew", "join"),
    doc="Salted equi-join (left salted 8x, right replicated 8x) "
    "rolled up per market segment; oracle is the plain join — the "
    "salt must never change the result.",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.skew import salted_join
    from msstreamingstack_spark.queries import _dec_sum

    ev = events_with_time(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    joined = salted_join(
        ev, c, left_key="user_id", right_key="c_custkey", spread_col="event_id"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        _dec_sum(F.col("value"), "sum_value"),
    )


# ---------------------------------------------------------------------------
# Hypertable-style hierarchical time rollup (continuous aggregates)
# ---------------------------------------------------------------------------
@register(
    "hypertable_rollup",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
minutely AS (
  SELECT (ts_sec // 60) * 60 AS min_bucket, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(25,6))) AS sv
  FROM ev GROUP BY 1, 2
)
SELECT (min_bucket // 3600) * 3600 AS hour_bucket, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(sv) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_minutes_active
FROM minutely GROUP BY 1, 2
""",
    tags=("advanced", "rollup", "timeseries"),
    doc="Hierarchical time-bucket rollup: hourly aggregates computed "
    "FROM minutely partials (sum-of-sums), never rescanning raw "
    "events — the continuous-aggregate pattern that makes multi-"
    "resolution dashboards O(buckets), not O(raw), at 100 TB. "
    "Decimal partials keep re-aggregation exact.",
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    minutely = (
        ev.groupBy(
            ((F.col("ts_sec") / 60).cast("long") * 60).alias("min_bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
        )
    )
    return (
        minutely.groupBy(
            ((F.col("min_bucket") / 3600).cast("long") * 3600).alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.count("*").alias("n_minutes_active"),
        )
    )


# ---------------------------------------------------------------------------
# Semi-structured (VARIANT) surface — Spark 4 parse_json/variant_get
# ---------------------------------------------------------------------------
@register(
    "variant_props_profile",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(SUM(CASE WHEN json_extract(props, '$.missing') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_path
FROM events
GROUP BY event_type
""",
    tags=("extension", "advanced", "variant", "semistructured"),
    doc="Semi-structured event properties through Spark 4's VARIANT "
    "type: parse_json once into a variant column, then typed "
    "variant_get path extraction ($.k as long; an absent path yields "
    "NULL, profiled per group) and a relational aggregate on top. "
    "This is the modern replacement for the reference's "
    "infer-schema-from-a-sample-file approach "
    "(StructuredStreaming.scala:70-76) when the payload is genuinely "
    "open-schema: VARIANT keeps the binary-encoded value columnar "
    "(shreddable at the scan at 100 TB) instead of re-parsing JSON "
    "text per query or freezing an inferred schema that next week's "
    "events violate. Oracle: DuckDB json_extract over the same "
    "strings — the values, not the encoding, are the contract.",
)
def q_variant_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.variant_get(F.col("v"), "$.k", "long").alias("k"),
        F.variant_get(F.col("v"), "$.missing", "long").alias("m"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).alias(
            "n_missing_path"
        ),
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (decorrelation surface)
# ---------------------------------------------------------------------------
@register(
    "correlated_max_acctbal",
    """
SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal
FROM customer c
WHERE c.c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
""",
    tags=("relational", "subquery"),
    doc="Correlated scalar subquery (per-nation max): Catalyst "
    "decorrelates it into an aggregate + join — the TPC-H Q2/Q17 "
    "shape; no per-row re-execution ever happens.",
)
def q_correlated_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("_corr_customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal
        FROM _corr_customer c
        WHERE c.c_acctbal = (SELECT MAX(c2.c_acctbal) FROM _corr_customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


# ---------------------------------------------------------------------------
# pandas-UDAF surface (the reference has none — §2.7)
# ---------------------------------------------------------------------------
@register(
    "pandas_udaf_value_moments",
    """
WITH ev AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events)
SELECT event_type,
       CAST(SUM(cents * cents) AS BIGINT) AS sq_cents,
       COUNT(*) AS n
FROM ev GROUP BY event_type
""",
    tags=("extension", "udaf", "agg"),
    doc="Grouped-aggregate pandas UDF (Arrow-batched numpy reduction) "
    "— the UDAF surface the reference lacks. Integer cents arithmetic "
    "keeps the custom aggregate bit-exact vs the SQL oracle.",
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    # the Series -> scalar type hints make these grouped-agg UDFs; the
    # hints resolve in the module's globals, hence the top-level pandas
    # import. Grouped-agg pandas UDFs cannot mix with built-in
    # aggregates in one agg(), so the count is a (trivial) UDAF too
    @pandas_udf("long")
    def sq_cents(v: pd.Series) -> int:
        cents = np.rint(v.to_numpy() * 100).astype("int64")
        return int((cents * cents).sum())

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    ev = events_with_time(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        sq_cents(F.col("value")).alias("sq_cents"),
        n_rows(F.col("value")).alias("n"),
    )


@register(
    "set_ops_all_lineitem",
    """
WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
b AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
SELECT 'intersect_all' AS op, l_orderkey FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
UNION ALL
SELECT 'except_all' AS op, l_orderkey FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
""",
    tags=("setop", "multiset"),
    doc="Multiset INTERSECT ALL / EXCEPT ALL (duplicate-preserving "
    "bag semantics) over overlapping lineitem key bags — the set-op "
    "surface the distinct variants can't express.",
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "l_orderkey")  # noqa: E731
    return tag(a.intersectAll(b), "intersect_all").unionAll(
        tag(a.exceptAll(b), "except_all")
    )


# ---------------------------------------------------------------------------
# Interval join: conversion attribution
# ---------------------------------------------------------------------------
@register(
    "interval_join_attribution",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
v AS (SELECT event_id AS view_id, user_id, ts_sec AS view_ts
      FROM ev WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts_sec AS purchase_ts,
             value AS purchase_value
      FROM ev WHERE event_type = 'purchase'),
j AS (
  SELECT v.view_id, v.user_id, v.view_ts,
         p.purchase_id, p.purchase_ts, p.purchase_value
  FROM v JOIN p ON v.user_id = p.user_id
    AND p.purchase_ts > v.view_ts
    AND p.purchase_ts <= v.view_ts + 1800
)
SELECT view_id, user_id, view_ts, purchase_id, purchase_ts, purchase_value
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY view_id ORDER BY purchase_ts, purchase_id) AS rn
      FROM j)
WHERE rn = 1
""",
    tags=("advanced", "interval-join"),
    doc="Conversion attribution: each view matched to its first "
    "following same-user purchase within 30 min. An equi-join on user "
    "with the interval on integer ts_sec as its residual predicate "
    "(no cartesian); argmin via min(struct) = one shuffle, no "
    "row_number re-sort.",
)
def q_interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_with_time(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts_sec").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts_sec").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = views.join(
        purchases,
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + 1800),
    )
    first = F.min(F.struct("purchase_ts", "purchase_id", "purchase_value"))
    return (
        joined.groupBy("view_id", "v_user_id", "view_ts")
        .agg(first.alias("f"))
        .select(
            "view_id",
            F.col("v_user_id").alias("user_id"),
            "view_ts",
            "f.purchase_id",
            "f.purchase_ts",
            "f.purchase_value",
        )
    )


# ---------------------------------------------------------------------------
# Window-frame extras
# ---------------------------------------------------------------------------
@register(
    "window_rank_family",
    f"""
WITH ev AS ({EVENTS_TS_SQL}),
per_user AS (
  SELECT user_id,
         {_dec_sum_sql('value', 'total_value')},
         COUNT(*) AS n_events
  FROM ev GROUP BY user_id
)
SELECT user_id, total_value,
       NTILE(4) OVER w AS quartile,
       CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pct_rank,
       CAST(CUME_DIST() OVER w AS DOUBLE) AS cume,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS dense_rnk
FROM per_user
WINDOW w AS (ORDER BY total_value, user_id)
""",
    tags=("relational", "window"),
    doc="Ranking-family window functions (ntile / percent_rank / "
    "cume_dist / rank / dense_rank) over per-user value totals. "
    "user_id tie-break makes every rank deterministic. Single global "
    "window = single-partition sort: acceptable because the input is "
    "one row per user AFTER aggregation; at 100 TB the pre-agg "
    "shuffle dominates and the ranked set is small.",
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = events_with_time(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        _dec_sum(F.col("value"), "total_value"),
        F.count("*").alias("n_events"),
    )
    w = Window.orderBy("total_value", "user_id")
    return per_user.select(
        "user_id",
        "total_value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
        F.cume_dist().over(w).cast("double").alias("cume"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("dense_rnk"),
    )


@register(
    "range_frame_rolling_sum",
    f"""
WITH ev AS ({EVENTS_TS_SQL})
SELECT event_id, user_id, ts_sec,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER (
         PARTITION BY user_id ORDER BY ts_sec
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_1h_value,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY ts_sec
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS rolling_1h_events
FROM ev
""",
    tags=("relational", "window", "range-frame"),
    doc="RANGE-frame sliding window: per-user 1-hour trailing value "
    "sum/count keyed on event-time seconds — the time-based frame "
    "semantics ROWS frames cannot express (simultaneous and gapped "
    "events handled correctly). One shuffle on user_id, sorted once, "
    "both frames computed in the same window pass.",
)
def q_range_frame_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = events_with_time(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.sum(F.col("value").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_1h_value"),
        F.count("*").over(w).alias("rolling_1h_events"),
    )


@register(
    "grouping_sets_revenue",
    f"""
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS grp_id,
       {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    tags=("relational", "grouping-sets"),
    doc="Explicit GROUPING SETS (detail, per-flag, grand total) with "
    "GROUPING() disambiguation of produced NULLs vs data NULLs — the "
    "general form behind ROLLUP/CUBE (both also registered). Spark "
    "expands the sets in one Expand+Aggregate pass: one shuffle, not "
    "one scan per set.",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    # Pre-aggregate to the FINEST grouping set first, then run the
    # native GROUPING SETS over that tiny frame: Spark's Expand
    # otherwise multiplies every scanned row by the number of sets
    # BEFORE the partial aggregate (x3 the scan rows here; x|sets| of
    # a 100 TB scan). SUM/COUNT partials re-aggregate exactly — the
    # DECIMAL revenue sum is associative integer-scaled arithmetic, so
    # the final doubles are bit-identical (parity-checked; interleaved
    # A/B at sf0.1: 1.51 -> 0.67 s).
    return spark.sql(
        """
        WITH fine AS (
          SELECT l_returnflag, l_linestatus,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(25,6))) AS rev_d,
                 COUNT(*) AS n0
          FROM _gs_lineitem GROUP BY l_returnflag, l_linestatus
        )
        SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
               COALESCE(l_linestatus, '<all>') AS linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
                 AS grp_id,
               CAST(SUM(rev_d) AS DOUBLE) AS revenue,
               SUM(n0) AS n
        FROM fine
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# Data-quality constraint report (deequ-style promotion gate)
# ---------------------------------------------------------------------------
@register(
    "dq_report",
    """
SELECT 'orders' AS table_name, 'unique:o_orderkey' AS check_name,
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_violations,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_checked
FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'orders', 'fk:o_custkey',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem', 'range:l_discount',
       CAST(SUM(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.3)
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events', 'not_null:user_id',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM events
UNION ALL
SELECT 'events', 'in_set:event_type',
       CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                     ('view', 'click', 'purchase', 'signup', 'error')
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM events
""",
    tags=("advanced", "quality", "dq"),
    doc="Declarative constraint suite over the fixture tables: PK "
    "uniqueness (one shuffle), FK orphans (anti-join, AQE-broadcast "
    "dim), value range, null rate and domain membership (the per-row "
    "checks fuse into one scan+aggregate each). Promotion gate shape: "
    "all n_violations must be 0 before data ships; the streaming twin "
    "is observe() in streaming/pipeline.py.",
)
def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.quality_checks import (
        check_foreign_key,
        check_in_range,
        check_unique,
        fused_row_checks,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    parts = [
        check_unique(orders, "orders", ["o_orderkey"]),
        check_foreign_key(orders, "orders", "o_custkey", customer, "c_custkey"),
        check_in_range(lineitem, "lineitem", "l_discount", 0.0, 0.3),
        fused_row_checks(
            ev,
            "events",
            [
                ("not_null:user_id", F.col("user_id").isNull()),
                (
                    "in_set:event_type",
                    F.col("event_type").isNotNull()
                    & ~F.col("event_type").isin(
                        "view", "click", "purchase", "signup", "error"
                    ),
                ),
            ],
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# MERGE INTO semantics on plain parquet (lakehouse upsert algebra)
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_customers",
    """
WITH src AS (
  SELECT c_custkey AS k, c_name, c_nationkey,
         CAST(c_acctbal + 100.00 AS DOUBLE) AS c_acctbal,
         c_mktsegment, c_custkey % 10 = 0 AS is_delete
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT s_suppkey + 900000000 AS k, 'NEW_' || s_name AS c_name,
         s_nationkey AS c_nationkey, s_acctbal AS c_acctbal,
         'MIGRATED' AS c_mktsegment, FALSE AS is_delete
  FROM supplier
),
j AS (
  SELECT t.c_custkey AS tk, s.k AS sk,
         t.c_name AS t_name, t.c_nationkey AS t_nat,
         t.c_acctbal AS t_bal, t.c_mktsegment AS t_seg,
         s.c_name AS s_name, s.c_nationkey AS s_nat,
         s.c_acctbal AS s_bal, s.c_mktsegment AS s_seg, s.is_delete
  FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.k
)
SELECT COALESCE(tk, sk) AS c_custkey,
       CASE WHEN tk IS NULL THEN s_name ELSE t_name END AS c_name,
       CASE WHEN tk IS NULL THEN s_nat ELSE t_nat END AS c_nationkey,
       CASE WHEN tk IS NOT NULL AND sk IS NOT NULL THEN s_bal
            WHEN tk IS NULL THEN s_bal ELSE t_bal END AS c_acctbal,
       CASE WHEN tk IS NULL THEN s_seg ELSE t_seg END AS c_mktsegment
FROM j
WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL AND is_delete)
""",
    tags=("extension", "merge", "upsert", "cdc", "relational"),
    doc="MERGE INTO on plain parquet, as the full-outer-join + case "
    "algebra every real MERGE lowers to (operators/merge.py): a "
    "deterministic CDC batch updates every 5th customer's balance "
    "(+100.00 — exact on the cents grid, no rounding anywhere), "
    "deletes every 10th (source-flagged, the WHEN MATCHED AND cond "
    "DELETE clause), and inserts the suppliers as migrated customer "
    "rows under a collision-free key range (WHEN NOT MATCHED INSERT). "
    "Plan: ONE key shuffle for the join (source side broadcasts when "
    "CDC-sized), narrow case projection after; duplicate source keys "
    "rejected up front (MERGE is undefined under them — same error "
    "Delta raises). The ref has no batch maintenance surface "
    "(SURVEY.md §2.5 ABSENT) — north-star extension.",
)
def q_merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.merge import merge_upsert

    target = load_table(spark, sf_dir, "customer")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    updates = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.00)).cast("double").alias("c_acctbal"),
        "c_mktsegment",
        (F.col("c_custkey") % 10 == 0).alias("is_delete"),
    )
    inserts = supp.select(
        (F.col("s_suppkey") + 900000000).alias("c_custkey"),
        F.concat(F.lit("NEW_"), F.col("s_name")).alias("c_name"),
        F.col("s_nationkey").alias("c_nationkey"),
        F.col("s_acctbal").alias("c_acctbal"),
        F.lit("MIGRATED").alias("c_mktsegment"),
        F.lit(False).alias("is_delete"),
    )
    return merge_upsert(
        target,
        updates.unionByName(inserts),
        key="c_custkey",
        update_cols={"c_acctbal": F.col("s_c_acctbal")},
        delete_cond=F.col("s_is_delete"),
    )


# ---------------------------------------------------------------------------
# Weighted PageRank over the co-purchase graph (iterative propagation)
# ---------------------------------------------------------------------------
def _pagerank_oracle() -> str:
    from msstreamingstack_spark.operators.pagerank import pagerank_sql

    return pagerank_sql()


@register(
    "graph_pagerank_copurchase",
    _pagerank_oracle(),
    tags=("extension", "graph", "iterative", "pagerank"),
    doc="Weighted PageRank (d=0.85, 4 rounds) over the symmetric "
    "customer↔supplier co-purchase graph — FIXED-round weighted mass "
    "propagation (link-quality doc scoring, crawl domain authority). "
    "Plan: normalized edge list built once and persisted (feeds every "
    "round), each round = one join against "
    "the node-count-sized ranks frame (auto-broadcast here; bucketed "
    "co-located shuffle join on a web-scale graph) + one dst fold — "
    "T rounds, T fold shuffles, no driver-side state. Cross-engine "
    "exactness: integer-ratio edge probabilities, per-contribution "
    "round-then-DECIMAL(38,12) sums, identical IEEE teleport/damping "
    "expression per round; the DuckDB twin unrolls the rounds as "
    "chained CTEs (aggregation over a recursive reference is "
    "restricted in WITH RECURSIVE — the fixed-T unroll is the "
    "portable form). Ref has no graph surface (SURVEY.md §2.5 "
    "ABSENT) — north-star extension.",
)
def q_graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.pagerank import (
        copurchase_edges,
        copurchase_node_str,
        pagerank,
    )

    # the kernel runs on BIGINT node ids; the public 'c…'/'s…' string
    # form is reconstructed only here, in the final projection
    return pagerank(
        copurchase_edges(
            spread(load_table(spark, sf_dir, "lineitem")),
            load_table(spark, sf_dir, "orders"),
        )
    ).select(copurchase_node_str().alias("node"), "pagerank")


def _ppr_oracle() -> str:
    from msstreamingstack_spark.operators.pagerank import pagerank_sql

    return pagerank_sql(
        seed_subquery=(
            "SELECT 'c' || c_custkey FROM customer WHERE c_nationkey = 0"
        )
    )


@register(
    "graph_pagerank_personalized",
    _ppr_oracle(),
    tags=("extension", "graph", "iterative", "pagerank", "personalized"),
    doc="PERSONALIZED PageRank over the same co-purchase graph: the "
    "teleport mass (and the walk's start) lands only on nation-0 "
    "customers, so scores measure proximity to that seed set — the "
    "similar-items / trust-propagation form (recommendation and "
    "crawl-seed scoring). Same fixed-point integer kernel as "
    "graph_pagerank_copurchase (operators/pagerank.py) with one "
    "semantic subtlety both engines had to get right: a seed whose "
    "in-contributions are empty in some round must STILL receive its "
    "teleport mass, so each round is contributions FULL OUTER seed "
    "teleports, not a contribution-side join. Scores are "
    "seed-relative (non-seeds hold only propagated mass).",
)
def q_graph_pagerank_personalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from msstreamingstack_spark.operators.pagerank import (
        copurchase_edges,
        copurchase_node_id,
        copurchase_node_str,
        pagerank,
    )

    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(copurchase_node_id(custkey="c_custkey"))
    )
    return pagerank(
        copurchase_edges(
            spread(load_table(spark, sf_dir, "lineitem")),
            load_table(spark, sf_dir, "orders"),
        ),
        seeds=seeds,
    ).select(copurchase_node_str().alias("node"), "pagerank")


# ---------------------------------------------------------------------------
# Triangle counting — the second graph kernel (after PageRank):
# cohesion/clustering
# structure of the part co-occurrence graph.
# ---------------------------------------------------------------------------
# Top-K sparsification bound for the co-occurrence KNN graph. The
# testdata's part vocabulary is FIXED (does not grow with SF), so the
# raw co-occurrence graph densifies toward a clique as orders grow and
# an unthresholded triangle count would measure data density, not the
# plan (measured: 30 s / 4x-ratio 2.74 at sf0.1 unsparsified). Keeping
# each node's K strongest edges is the standard KNN-graph
# construction: edge count <= N*K and wedge fan-out <= K by
# construction, independent of corpus density.
TRI_KNN_K = 8


@register(
    "graph_triangle_count",
    f"""
WITH cpairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS cnt
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
sym AS (
  SELECT u AS node, v AS nbr, cnt FROM cpairs
  UNION ALL
  SELECT v AS node, u AS nbr, cnt FROM cpairs
),
topk AS (
  SELECT node, nbr FROM (
    SELECT node, nbr,
           ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY cnt DESC, nbr ASC) AS rk
    FROM sym
  ) WHERE rk <= {TRI_KNN_K}
),
pairs AS (
  SELECT DISTINCT LEAST(node, nbr) AS u, GREATEST(node, nbr) AS v
  FROM topk
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN p.u ELSE p.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN p.v ELSE p.u END AS dst
  FROM pairs p
  JOIN deg du ON p.u = du.node
  JOIN deg dv ON p.v = dv.node
),
tri AS (
  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
  FROM oriented o1
  JOIN oriented o2 ON o1.dst = o2.src
  JOIN oriented o3 ON o3.src = o1.src AND o3.dst = o2.dst
),
node_tri AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
)
SELECT nt.node, d.deg, nt.n_triangles
FROM node_tri nt JOIN deg d ON nt.node = d.node
""",
    tags=("extension", "graph", "self-join", "topk"),
    doc="Per-node triangle counts of the top-K part co-occurrence "
    "graph: each part keeps its K=8 strongest co-occurrence edges "
    "(weight = shared-order count, id tiebreak) — the standard "
    "KNN-graph sparsification that bounds edge count at N*K and "
    "degree at 2K regardless of how dense raw co-occurrence gets — "
    "then counts closed triads via DEGREE-ORIENTED wedge closure "
    "(Schank/Ortmann): orient every undirected edge from its "
    "(degree, id)-smaller endpoint so each triangle materializes "
    "exactly once and wedge fan-out is capped by out-degree. The "
    "two bounds compose: the KNN cap handles corpus densification, "
    "the orientation cap handles skew within the kept graph — "
    "that is what lets this run on a 100 TB basket corpus where a "
    "naive 3-cycle join explodes. Edge build is per-order C(k,2) "
    "pair expansion (k = order size, bounded small) + one weighted "
    "agg; top-K is one window over the symmetric adjacency; the "
    "oriented edge frame is persisted once and joined three times; "
    "all joins are equi-joins on node keys.",
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from msstreamingstack_spark.caching import rotating_persist

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r11 (guide §2.3/§2.4): per-order C(k,2) pair expansion via ONE
    # groupBy(orderkey) + in-array HOF instead of the lineitem
    # self-join — the join form paid a sort-merge of the full table
    # plus a second exchange of the 1.2M raw pair rows; here the
    # pairs never widen an exchange (the HOF explode feeds the
    # map-combined (u,v) aggregate directly). Multiset-exact: for
    # every line item x, `filter(ps, y -> y > x)` pairs it with every
    # line item of a strictly larger partkey in the same order —
    # exactly the rows the a.partkey < b.partkey self-join emitted
    # (duplicate partkeys in one order contribute multiplicity in
    # both forms). Interleaved best-of-4 A/B at sf0.1, combined with
    # the deg persist below: 7.10 -> 4.57 s.
    ps = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("ps"))
    cpairs = (
        ps.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> transform("
                    "filter(ps, y -> y > x), y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count("*").alias("cnt"))
    )
    sym = cpairs.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), "cnt"
    ).unionAll(
        cpairs.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "cnt")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("nbr").asc()
    )
    topk = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TRI_KNN_K)
        .select("node", "nbr")
    )
    und = rotating_persist(
        topk.select(
            F.least(F.col("node"), F.col("nbr")).alias("u"),
            F.greatest(F.col("node"), F.col("nbr")).alias("v"),
        ).distinct(),
        "triangles.und",
    )
    # r11 (guide §5): deg is consumed THREE times (du, dv, and the
    # final node join) — without its own slot each consumer re-ran
    # the union + aggregate over the cached und frame
    deg = rotating_persist(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg")),
        "triangles.deg",
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    # r11 (guide §2.4): cache oriented hash-partitioned on src — the
    # wedge join consumes it for o2 (keyed src) AND o3 (keyed
    # (src,dst): hash(src) co-locates equal (src,dst) rows, so the
    # ClusteredDistribution is satisfied without an exchange); only
    # o1's dst-keyed side still exchanges. Explicit REPARTITION_BY_NUM
    # survives the cache (see operators/pagerank.py).
    nparts = spark.sparkContext.defaultParallelism
    oriented = rotating_persist(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .repartition(nparts, "src"),
        "triangles.oriented",
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    o3 = oriented.alias("o3")
    tri = (
        o1.join(o2, F.col("o1.dst") == F.col("o2.src"))
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.src"))
            & (F.col("o3.dst") == F.col("o2.dst")),
        )
        .select(
            F.col("o1.src").alias("x"),
            F.col("o1.dst").alias("y"),
            F.col("o2.dst").alias("z"),
        )
    )
    node_tri = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return node_tri.join(deg, "node").select("node", "deg", "n_triangles")
