"""Source edge: event drops that gain columns."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_event_drops_schema_evolution(spark, tmp_path):
    """Later drops may gain columns (crawlers add fields). The declared
    -schema streaming source must keep working (subset read ignores the
    new column); a batch read with mergeSchema surfaces it for
    consumers that want it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from msstreamingstack_spark.sinks.writers import CollectingSink

    d = tmp_path / "evo_drops"
    d.mkdir()

    def drop(name, ids, extra, mtime):
        cols = {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i for i in ids], pa.int64()),
            "user_id": pa.array([i % 5 for i in ids], pa.int64()),
            "event_type": pa.array(["view"] * len(ids), pa.string()),
            "value": pa.array([float(i) for i in ids], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(ids), pa.string()),
        }
        if extra:
            cols["crawler_tag"] = pa.array(["v2"] * len(ids), pa.string())
        path = d / name
        pq.write_table(pa.table(cols), path)
        os.utime(path, (mtime, mtime))

    drop("a.parquet", [1, 2, 3], extra=False, mtime=1_700_000_000)
    drop("b.parquet", [4, 5], extra=True, mtime=1_700_000_010)

    from msstreamingstack_spark.streaming.pipeline import read_event_stream

    sink = CollectingSink()
    q = (
        read_event_stream(spark, str(d), max_bytes_per_trigger=1)
        .select("event_id", "ts_sec")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_evo"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r["event_id"] for r in sink.rows} == {1, 2, 3, 4, 5}

    merged = spark.read.option("mergeSchema", "true").parquet(str(d))
    assert "crawler_tag" in merged.columns
    assert merged.filter(F.col("crawler_tag").isNull()).count() == 3
