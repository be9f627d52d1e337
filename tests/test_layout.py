"""Disk-layout tests: hive-partition pruning, dynamic partition
overwrite, and runtime bloom-filter join pruning — the scan-bounding
tools that matter most at 100 TB (sinks/layout.py).
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from msstreamingstack_spark.plans.inspect import formatted_plan
from msstreamingstack_spark.sinks.layout import (
    events_partitioned_by_day,
    read_pruned_day,
    write_partitioned,
)
from msstreamingstack_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_layout(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "events_by_day")
    events_partitioned_by_day(spark, SF, path)
    return path


def test_partitioned_layout_on_disk(events_layout):
    days = [d for d in os.listdir(events_layout) if d.startswith("event_date=")]
    assert len(days) > 1, days  # real multi-directory layout


def test_partition_filter_prunes_directories(spark, events_layout):
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(events_layout)
        if d.startswith("event_date=")
    )
    one_day = read_pruned_day(spark, events_layout, days[0])
    txt = formatted_plan(one_day)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "event_date" in m.group(1), txt
    # the pruned scan must see strictly fewer rows than the full scan
    full = spark.read.parquet(events_layout)
    assert one_day.count() < full.count()
    # and the partition column never reaches the parquet reader as a
    # data filter (it is directory metadata, not file content)
    assert "PushedFilters: [IsNotNull(event_date)" not in txt


def test_dynamic_partition_overwrite_preserves_other_days(
    spark, events_layout, tmp_path
):
    path = str(tmp_path / "dyn")
    src = spark.read.parquet(events_layout)
    days = sorted(r[0] for r in src.select("event_date").distinct().collect())
    write_partitioned(src, path, ["event_date"])
    before = spark.read.parquet(path).count()
    day0 = src.filter(F.col("event_date") == F.lit(days[0]))
    n0 = day0.count()
    # overwrite ONLY day0 with a halved version; other days must survive
    write_partitioned(day0.limit(n0 // 2), path, ["event_date"])
    after = spark.read.parquet(path)
    assert after.filter(F.col("event_date") == F.lit(days[0])).count() == n0 // 2
    assert after.count() == before - n0 + n0 // 2


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """With a selective dim filter and a shuffle join, Spark injects a
    bloom-filter semi-reduction on the fact side (might_contain over a
    bloom_filter_agg subquery) — at 100 TB this drops most fact rows
    before the shuffle. Thresholds lowered to trigger at test scale;
    at production scale the defaults (10 GB application side) apply."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        txt = formatted_plan(j)
        assert "might_contain" in txt, txt
        assert "bloom_filter_agg" in txt
        assert j.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_retention_sweep_drops_expired_partitions(spark, tmp_path):
    from msstreamingstack_spark.sinks.layout import retention_sweep

    path = str(tmp_path / "retained")
    events_partitioned_by_day(spark, SF, path)
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("event_date=")
    )
    assert len(days) >= 3, days
    cutoff = days[len(days) // 2]
    before = spark.read.parquet(path).count()
    kept_expected = (
        spark.read.parquet(path)
        .filter(F.col("event_date") >= F.lit(cutoff))
        .count()
    )

    # dry run: reports but deletes nothing
    listed = retention_sweep(path, "event_date", cutoff, dry_run=True)
    assert listed == [d for d in days if d < cutoff]
    assert spark.read.parquet(path).count() == before

    dropped = retention_sweep(path, "event_date", cutoff)
    assert dropped == listed
    remaining = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("event_date=")
    )
    assert remaining == [d for d in days if d >= cutoff]
    # table remains readable and holds exactly the retained rows
    assert spark.read.parquet(path).count() == kept_expected

    # idempotent: second sweep drops nothing
    assert retention_sweep(path, "event_date", cutoff) == []
