"""Data-layout management: hive-partitioned writes and partition
pruning — the disk-layout half of the 100 TB story.

At cluster scale the dominant cost of most queries is the scan. Two
layout tools bound it:

- **Hive partitioning** (``write_partitioned``): directory-per-value
  layout on a low-cardinality derived key (event date, region). A
  predicate on the partition key prunes whole directories at plan
  time — the scan never opens the files. `.explain` shows the pruned
  set under ``PartitionFilters``; ``tests/test_layout.py`` pins it.
- **Bucketing** (``tests/test_bucketing.py``): hash-bucket layout on
  a high-cardinality join key, eliminating the per-query shuffle.

Choosing the partition key: aim for 100 MB-1 GB per partition-file at
the target scale; a per-day key over a year of 100 TB gives ~270 GB
per day, so compose with a second key (e.g. ``event_type``) or rely
on the 128 MB ``maxPartitionBytes`` splitting within each directory.
NEVER partition on a high-cardinality key (user_id): millions of tiny
directories destroy both the driver's file listing and HDFS/S3
metadata. That is what bucketing is for.

The reference has no disk layout at all — its only persistent store
is Cassandra keyed ``(ts, user_id)`` (reference README.md:35-52);
partition-per-date + pruning is the Spark-native equivalent of its
time-series primary key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.session import apply_runtime_confs
from msstreamingstack_spark.sources.tables import events_with_time


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Write ``df`` hive-partitioned by ``partition_cols``.

    ``dynamic=True`` sets ``partitionOverwriteMode=dynamic`` so an
    overwrite only replaces the partitions present in ``df`` — the
    idempotent daily-backfill pattern (re-running one day's job never
    truncates the other 364 directories).
    """
    spark = df.sparkSession
    if dynamic:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def events_partitioned_by_day(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """Lay out the events table partitioned by event date.

    One shuffle-free pass: the date is derived per-row, so this is a
    narrow map + write. (A ``repartition(date)`` before the write
    would give one file per date at the cost of a shuffle — worth it
    when many input tasks each hold many dates and would otherwise
    emit tasks x dates small files.)
    """
    apply_runtime_confs(spark)
    ev = events_with_time(spark, sf_dir).withColumn(
        "event_date", F.to_date(F.timestamp_seconds(F.col("ts_sec")))
    )
    write_partitioned(ev, path, ["event_date"])


def read_pruned_day(spark: SparkSession, path: str, day: str) -> DataFrame:
    """Read one day from a date-partitioned events layout.

    The equality predicate on the partition column is resolved
    against the directory listing at planning time (plan shows it in
    ``PartitionFilters``, and the scan's ``numFiles`` drops to that
    day's files) — at 100 TB/year this is the difference between
    scanning ~270 GB and scanning everything.
    """
    return spark.read.parquet(path).filter(F.col("event_date") == F.lit(day))


def retention_sweep(
    path: str,
    partition_col: str,
    cutoff: str,
    dry_run: bool = False,
) -> list[str]:
    """TTL delete on a hive-partitioned layout: drop every
    ``<partition_col>=<value>`` directory whose value sorts strictly
    below ``cutoff`` (ISO dates sort lexically, so a string compare is
    a date compare). Returns the dropped partition values.

    This is METADATA-ONLY data lifecycle: no file is ever read — the
    partition directory listing IS the index, the same mechanism that
    makes the read side prune (``read_pruned_day``). At 100 TB/year a
    90-day TTL sweep touches ~275 directory names and removes them;
    a row-level `DELETE WHERE ts < cutoff` would rewrite every file.
    The complement of ``write_partitioned``'s dynamic-overwrite
    backfill: together they give append / upsert-day / expire-day
    without a table format.

    Safety: only exact ``col=value`` first-level directories are
    considered; anything else (files, _SUCCESS, other columns) is
    left untouched. ``dry_run`` lists without deleting.
    """
    import os
    import shutil

    prefix = f"{partition_col}="
    dropped = []
    if not os.path.isdir(path):
        return dropped
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if not (os.path.isdir(full) and entry.startswith(prefix)):
            continue
        value = entry[len(prefix):]
        if value < cutoff:
            dropped.append(value)
            if not dry_run:
                shutil.rmtree(full)
    return dropped

