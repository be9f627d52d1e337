"""Streaming heavy hitters: bucket-partitioned space-saving state.

The batch registry answers "top values by exact count"
(``heavy_hitters_exact`` — a full groupBy, fine when you can afford
the shuffle). On an unbounded stream the exact answer needs unbounded
state, so the streaming form is the SPACE-SAVING sketch (Metwally et
al. 2005): track at most ``capacity`` counters per partition of the
key space; an untracked arrival evicts the minimum counter and
inherits its count as the new entry's error bound. Guarantees, per
bucket with n observed rows: every true count is within
``[est - err, est]``, and any key with true count > n/capacity is
guaranteed tracked — the standard frequent-items contract.

Spark-first layout: keys are hash-partitioned into ``n_buckets``
groups and ``applyInPandasWithState`` keeps ONE bounded sketch per
bucket. Because a key lives in exactly ONE bucket (it's a partition,
not a sample), bucket sketches union WITHOUT cross-sketch merge
error, and capacity scales horizontally: total state =
``n_buckets × capacity`` counters regardless of stream length or key
cardinality — the property that makes this viable against 100 TB/day
of events. Per micro-batch each bucket emits its full sketch
snapshot (``capacity`` rows, NOT the batch's row count), so the sink
sees a bounded update stream and the latest batch IS the answer.

Determinism: chunks are concatenated then sorted once on
``event_id`` (batch-then-event_id arrival order),
eviction ties break on (count, key) ascending — so the final state
is bit-equal to a sequential reference run over the same
batch-then-event_id order (pinned by tests/test_streaming_hh.py
against an independent Python model).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

HH_BUCKETS = 32
HH_CAPACITY = 8


def bucket_hash(col: Column, buckets: int) -> Column:
    """md5-derived bucket id — bit-exact with the DuckDB twin
    :func:`bucket_hash_sql` (both take the top 32 hash bits, so the
    value fits a BIGINT and the modulo is on the same non-negative
    integer)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % buckets
    )


def bucket_hash_sql(expr: str, buckets: int) -> str:
    return f"TRY_CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT) % {buckets}"


_HH_OUT = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("key", StringType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
        StructField("n_seen", LongType()),
    ]
)
_HH_STATE = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)


def _make_hh_fn(capacity: int):
    def _hh_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True).sort_values("event_id")
        if state.exists:
            keys, counts, errs, n_seen = (
                list(state.get[0]),
                list(state.get[1]),
                list(state.get[2]),
                int(state.get[3]),
            )
        else:
            keys, counts, errs, n_seen = [], [], [], 0
        idx = {k: i for i, k in enumerate(keys)}
        for v in rows["k"]:
            v = str(v)
            n_seen += 1
            i = idx.get(v)
            if i is not None:
                counts[i] += 1
            elif len(keys) < capacity:
                idx[v] = len(keys)
                keys.append(v)
                counts.append(1)
                errs.append(0)
            else:
                # evict the minimum counter; ties break on (count, key)
                # ascending so the state is arrival-order deterministic
                j = min(range(len(keys)), key=lambda i: (counts[i], keys[i]))
                del idx[keys[j]]
                idx[v] = j
                errs[j] = counts[j]
                keys[j] = v
                counts[j] += 1
        state.update((keys, counts, errs, n_seen))
        yield pd.DataFrame(
            {
                "bucket": [int(key[0])] * len(keys),
                "key": keys,
                "est": counts,
                "err": errs,
                "n_seen": [n_seen] * len(keys),
            }
        )

    return _hh_fn


def bucketed_sketches(
    events: DataFrame,
    key_col: str = "user_id",
    n_buckets: int = HH_BUCKETS,
    capacity: int = HH_CAPACITY,
) -> DataFrame:
    """(streaming or batch-test) events → per-bucket sketch snapshot
    rows. The bucket id is a stable hash partition of the key space
    (pmod of the md5-derived bucket hash — NOT Spark's ``hash()``,
    whose seed semantics shouldn't leak into state layout)."""
    keyed = events.select(
        "event_id",
        F.col(key_col).cast("string").alias("k"),
    ).withColumn("bucket", bucket_hash(F.col("k"), n_buckets).cast("int"))
    return keyed.groupBy("bucket").applyInPandasWithState(
        _make_hh_fn(capacity),
        outputStructType=_HH_OUT,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def top_k(sketches: DataFrame, k: int) -> DataFrame:
    """Batch-side rollup of one micro-batch's sketch snapshot: union
    of buckets (keys partition cleanly — no merge error), top-k by
    estimate with a (key) tiebreak."""
    return (
        sketches.orderBy(F.col("est").desc(), F.col("key").asc())
        .limit(k)
        .select("key", "est", "err", "bucket")
    )


def run_heavy_hitters_stream(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    k: int = 10,
    n_buckets: int = HH_BUCKETS,
    capacity: int = HH_CAPACITY,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Launch the sketch stream; each micro-batch overwrites
    ``batch_id=<n>`` with that batch's top-k (idempotent replay). Returns the StreamingQuery."""
    import os

    from msstreamingstack_spark.streaming.pipeline import read_event_stream

    events = read_event_stream(spark, source_path, max_files_per_trigger)
    sketches = bucketed_sketches(events, key_col, n_buckets, capacity)

    def sink(df: DataFrame, batch_id: int) -> None:
        top_k(df, k).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    writer = (
        sketches.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "cp"))
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
