"""Streaming-maintained continuous aggregate (materialized view).

The batch engine already has the hierarchical rollup
(``hypertable_rollup``: hourly FROM minutely partials, never raw
rows). This module maintains those minutely partials INCREMENTALLY
from the event stream, so dashboards at any resolution read a small
MV, and no query ever rescans raw events:

  event stream ──(update-mode windowed agg, watermark-bounded state)──▶
  per-batch changed (minute, event_type) groups ──(foreachBatch upsert:
  read-merge ONLY the affected minute partitions, dynamic partition
  overwrite)──▶ hive-partitioned parquet MV ──▶ ``hourly_from_mv``
  (sum-of-partials, exact DECIMAL)

Scale shape, per micro-batch:
- Update output mode emits only groups that CHANGED this batch, each
  carrying its complete new value (count/sum over all data so far) —
  the upsert never recomputes history.
- The merge reads ONLY affected minute partitions (static partition
  pruning on a collected bucket list — a few per batch since event
  time advances with the stream), anti-joins the changed groups out,
  unions the new values in, and dynamic-overwrites just those
  directories. Unchanged minutes are never read or written.
- Watermark bounds the streaming agg state: buckets older than the
  delay are finalized and evicted; a straggler lands in a dead bucket
  and is dropped by the agg (counted via the pipeline's observe
  metrics if attached).
- ``sinks.layout.compact_parquet`` is the companion for the
  many-small-files tail a long-running MV accretes.

Reference contrast: the reference recomputes nothing — it has no
aggregate sink at all (its Cassandra rows are per-event upserts); the
continuous aggregate is the piece a dashboard over its data would
have needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.streaming.pipeline import read_event_stream

MV_COLS = ("min_bucket", "event_type", "n", "sv")


def minutely_partials(events: DataFrame, watermark_delay: str = "2 hours") -> DataFrame:
    """Update-mode minutely partial aggregates with watermark-bounded
    state. ``sv`` stays DECIMAL so every downstream re-aggregation
    (hourly, daily, …) is exact — the same discipline as the batch
    rollup's oracle parity."""
    ev = events.withColumn("event_time", F.col("ts_sec").cast("timestamp"))
    return (
        ev.withWatermark("event_time", watermark_delay)
        .groupBy(
            F.window("event_time", "1 minute").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
        )
        .select(
            F.col("w.start").cast("long").alias("min_bucket"),
            "event_type",
            "n",
            "sv",
        )
    )


def upsert_mv(updates: DataFrame, mv_dir: str) -> None:
    """Merge one batch of changed groups into the partitioned MV.

    Touches only the minute partitions present in ``updates``: carried
    rows for those partitions are read under a static ``isin`` filter
    (partition-pruned scan), the changed groups are anti-joined out,
    and the union dynamic-overwrites exactly those directories.
    """
    spark = updates.sparkSession
    updates = updates.persist()
    try:
        buckets = [r[0] for r in updates.select("min_bucket").distinct().collect()]
        if not buckets:
            return
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out = updates.select(*MV_COLS)
        if _mv_exists(mv_dir):
            carried = (
                spark.read.parquet(mv_dir)
                .filter(F.col("min_bucket").isin(buckets))
                .join(
                    updates.select("min_bucket", "event_type"),
                    ["min_bucket", "event_type"],
                    "left_anti",
                )
                .select(*MV_COLS)
            )
            out = out.unionByName(carried)
            # Materialize the merged batch BEFORE the overwrite starts:
            # `carried` lazily reads the same partition dirs the write
            # below deletes/replaces, so without an eager snapshot a
            # task retry mid-commit would re-read already-mutated
            # partitions and permanently drop untouched groups. The
            # snapshot is a few changed minute-buckets per micro-batch
            # — small by construction.
            out = out.localCheckpoint(eager=True)
        out.write.mode("overwrite").partitionBy("min_bucket").parquet(mv_dir)
    finally:
        updates.unpersist()


def _mv_exists(mv_dir: str) -> bool:
    if not os.path.isdir(mv_dir):
        return False
    for root, _dirs, files in os.walk(mv_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def run_continuous_agg(
    spark: SparkSession,
    source_path: str,
    mv_dir: str,
    checkpoint_dir: str,
    watermark_delay: str = "2 hours",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Launch the MV-maintenance query; returns the StreamingQuery."""
    events = read_event_stream(spark, source_path, max_files_per_trigger)
    partials = minutely_partials(events, watermark_delay)

    writer = (
        partials.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "cp"))
        .foreachBatch(lambda df, _bid: upsert_mv(df, mv_dir))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_mv(spark: SparkSession, mv_dir: str) -> DataFrame:
    return spark.read.parquet(mv_dir).select(*MV_COLS)


def hourly_from_mv(spark: SparkSession, mv_dir: str) -> DataFrame:
    """Hourly rollup FROM the minutely partials — identical output
    contract to the batch ``hypertable_rollup`` query (exact decimal
    sum-of-sums), but reading the MV instead of raw events."""
    mv = read_mv(spark, mv_dir)
    return (
        mv.groupBy(
            ((F.col("min_bucket") / 3600).cast("long") * 3600).alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.count("*").alias("n_minutes_active"),
        )
    )
