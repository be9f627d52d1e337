"""Skew-bounded window aggregation — the (key, bucket) decomposition
for prefix-sum windows.

A running-total window partitioned by a hot key has the same failure
mode as sessionization: window operators can't skew-split, so one
monstrous key pins one partition. Any PREFIX-SUM window decomposes
exactly, though: compute the running sum within (key, time-bucket),
then add the cumulative total of all PRIOR buckets (a one-row-per-
key-bucket summary pass). With DECIMAL accumulators the decomposition
is bit-exact — decimal addition is associative — so the bucketed form
is a drop-in replacement verified against the same oracle.

The same summary-pass trick powers ``sessionize_bucketed``
(operators/sessionize.py); this is the generic arithmetic instance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def bucketed_running_sum(
    df: DataFrame,
    part_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    bucket_col: Column,
    out: str = "running_total",
    prec: str = "decimal(25,6)",
) -> DataFrame:
    """Running sum of ``value_col`` over (``part_col``, ``order_cols``)
    with the event-sized shuffle keyed (part, bucket).

    ``bucket_col`` must be monotone non-decreasing in ``order_cols``
    within each partition (a time bucket of the leading order column).
    Output is bit-identical to the single-window form because the
    decimal partials re-add exactly.
    """
    ev = df.withColumn("_bkt", bucket_col.cast("long"))
    w_b = (
        Window.partitionBy(part_col, "_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = ev.withColumn(
        "_lrun", F.sum(F.col(value_col).cast(prec)).over(w_b)
    )
    # one tiny row per (key, bucket); groupBy key is prefix-compatible
    # with the window partitioning (no extra event-sized shuffle)
    summary = ev.groupBy(part_col, "_bkt").agg(
        F.sum(F.col(value_col).cast(prec)).alias("_tot")
    )
    w_u = (
        Window.partitionBy(part_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summary = summary.withColumn(
        "_base", F.coalesce(F.sum("_tot").over(w_u), F.lit(0).cast(prec))
    )
    return (
        ev.join(summary.select(part_col, "_bkt", "_base"), [part_col, "_bkt"])
        .withColumn(out, F.col("_base") + F.col("_lrun"))
        .drop("_bkt", "_lrun", "_base")
    )

