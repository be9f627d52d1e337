"""End-to-end streaming pipeline: ONE query, multi-sink fan-out.

Reference topology (StructuredStreaming.scala:228-279): five
concurrent ``writeStream.start()`` — console, Redis×2, Cassandra×2 —
each re-reading Kafka (5× source consumption, double-processing
races). Rebuild topology: one ``readStream`` → enrichment → stateful
sessionization → one ``foreachBatch`` that fans out to every sink on
the same computed micro-batch (source read once; sinks see identical
data; checkpoint gives exactly-once state + at-least-once sinks with
idempotent writers).

Sources: file stream over parquet drops (test harness stand-in for
S1 Kafka, which is config-gated — same pipeline object works with
``spark.readStream.format("kafka")`` when brokers exist).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from msstreamingstack_spark.schemas import EVENTS_SCHEMA
from msstreamingstack_spark.session import apply_runtime_confs
from msstreamingstack_spark.sources.tables import NANOS_PER_SEC
from msstreamingstack_spark.streaming.stateful import sessionize_stream

SinkFn = Callable[[DataFrame, int], None]

# Input bytes one run_pipeline trigger admits: a backlog drains in as few
# triggers as this allows, instead of paying the fixed per-trigger cost
# (offsets, planning, WAL, Python workers, sink commit) once per drop.
# The bound is memory, held three times over: fan_out persists the whole
# micro-batch, each state call concatenates one bucket's share
# (1/BUCKETS) into one pandas frame, and TransactionalParquetSink
# collects the whole output batch to the driver as one Arrow table
# (about 90 B per output row). Drops are 19-27 B per event as parquet,
# so 64 MiB is 2.5M-3.5M events a trigger, 150k-220k rows per bucket
# call at BUCKETS=16, and a 230-320 MB Arrow table on the driver (under
# Spark's 1 GiB spark.driver.maxResultSize). Measured on a 4-vCPU VM,
# one 64 MiB trigger of 3.5M events at local[4]: the driver's Python
# process peaked at 457 MiB, the whole process tree at 4.8-5.1 GiB.
# Not uncapped (Spark's default): that would admit a whole outage's
# backlog as one batch. The first pending file is always admitted, even
# when it alone is larger.
ADMIT_BYTES_PER_TRIGGER = 64 * 1024 * 1024


def _ts_is_parquet_timestamp(path: str) -> bool:
    """Probe one parquet footer under ``path`` for the physical type of
    ``ts``. Driver testdata re-staged as drops carries a parquet
    timestamp (TIMESTAMP(MICROS); surfaces as timestamp_ntz on Spark
    4); the paced generator writes int64 nanos. A streaming source
    must declare ONE schema, so the dispatch happens here, driver-side,
    at stream-definition time — a single footer read, no data scan.

    An empty directory means the producer's shape (int64 nanos): a
    stream started before ``produce`` has written anything must read
    the engine's own drops. Re-staged driver testdata must therefore
    have a drop in place before the stream starts."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return False
    return pa.types.is_timestamp(pq.read_schema(files[0]).field("ts").type)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_bytes_per_trigger: int = ADMIT_BYTES_PER_TRIGGER,
) -> DataFrame:
    """File-drop event stream with the declared schema (streaming
    sources cannot infer — the reference pre-computed its schema from
    a sample batch read, StructuredStreaming.scala:70-76; we declare).

    Admission: each trigger takes pending files, oldest first, until
    their sizes reach ``max_bytes_per_trigger`` bytes (always at least
    one file), so a trigger's input, and so its memory, is bounded.

    ``ts_sec`` (integer epoch seconds) matches the batch loader
    ``sources.tables.events_with_time`` bit-for-bit for either physical
    ``ts`` encoding (timestamp under UTC session tz, or int64 nanos)."""
    apply_runtime_confs(spark)
    if _ts_is_parquet_timestamp(path):
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
                for f in EVENTS_SCHEMA.fields
            ]
        )
        ts_sec = "unix_timestamp(ts)"
    else:
        schema = EVENTS_SCHEMA
        ts_sec = f"CAST(ts / {NANOS_PER_SEC} AS BIGINT)"
    return (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", max_bytes_per_trigger)
        .parquet(path)
        .selectExpr("*", f"{ts_sec} AS ts_sec")
    )


def kafka_reader(spark: SparkSession, bootstrap: str, topic: str,
                 starting_offsets: str = "latest"):
    """S1 source half: the configured Kafka DataStreamReader —
    format/options mirror StructuredStreaming.scala:79-84 exactly
    (kafka.bootstrap.servers + subscribe). Split from the decode so
    the option surface is unit-testable without a broker or the
    kafka connector jar (neither exists in this sandbox); the decode
    half runs against the wire schema on a batch frame."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """S1 decode half: Kafka wire rows (binary ``value``) → typed
    clickstream columns via CAST(value AS STRING) + from_json with the
    DECLARED schema (the reference inferred its schema from a sample
    file, StructuredStreaming.scala:70-76,87-89; a declared schema is
    the only streaming-safe equivalent). Works identically on the
    streaming source and on a batch frame with the same wire schema —
    which is how it is verified broker-free."""
    from msstreamingstack_spark.schemas import CLICKSTREAM_SCHEMA

    return raw.select(
        F.from_json(F.col("value").cast("string"), CLICKSTREAM_SCHEMA).alias("data")
    ).select("data.*")


def read_kafka_stream(
    spark: SparkSession, bootstrap: str, topic: str
) -> DataFrame:  # pragma: no cover — no broker/connector jar here
    """S1: Kafka source (value JSON → declared schema), kept
    interface-identical to the file source."""
    return decode_kafka_events(kafka_reader(spark, bootstrap, topic).load())


def run_pipeline(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    sinks: list[SinkFn],
    gap_sec: int = 1800,
    available_now: bool = True,
):
    """Launch the single-query pipeline; returns the StreamingQuery.

    ``available_now=True`` drains all pending input then stops —
    deterministic for tests and backfills; pass False for continuous
    processing.

    Each trigger admits every pending drop up to
    ``ADMIT_BYTES_PER_TRIGGER`` bytes of input (at least one drop), so a
    backlog drains in as few micro-batches as that memory bound allows
    and a live stream that keeps up takes each drop as it lands. Drops
    are sessionized in (ts_sec, event_id) order within a trigger, so
    events out of order ACROSS drops can give different sessions
    depending on which drops shared a trigger."""
    # The plan up to the state operator is written as SQL strings (here,
    # in read_event_stream, with_quality_metrics and sessionize_stream):
    # each PySpark Column call costs py4j round trips on every query start.

    # the module constant read at call time, not the default bound at
    # definition time, so lowering it takes effect on the next query
    events = read_event_stream(
        spark, source_path, max_bytes_per_trigger=ADMIT_BYTES_PER_TRIGGER
    ).selectExpr(
        "event_id", "user_id", "ts_sec", "event_type", "value"
    )
    events = with_quality_metrics(events)
    sessioned = sessionize_stream(events, gap_sec=gap_sec)

    def fan_out(df: DataFrame, batch_id: int) -> None:
        df.persist()
        try:
            for sink in sinks:
                sink(df, batch_id)
        finally:
            df.unpersist()

    writer = (
        sessioned.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "cp"))
        .foreachBatch(fan_out)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- state store backend -------------------------------------------------
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession) -> None:
    """Back all stateful streaming operators with RocksDB.

    The default HDFS-backed state store keeps every key in executor
    heap — fine for the reference's toy state, fatal at 100 TB where
    per-user session state can reach hundreds of GB per executor.
    RocksDB spills state to local SSD with bounded block-cache memory,
    and changelog checkpointing ships only per-batch deltas to the
    checkpoint location instead of full SST snapshots.

    Runtime-settable: affects queries started AFTER this call on this
    session. (The reference externalized state to Redis for the same
    reason — bounded executor memory — at the cost of a per-row
    network round-trip and a read-snapshot race; RocksDB keeps state
    embedded, transactional with the checkpoint, and scan-free.)
    """
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


# --- in-flight data-quality metrics --------------------------------------
def with_quality_metrics(df: DataFrame, name: str = "quality") -> DataFrame:
    """Attach ``observe()`` data-quality metrics to a (streaming or
    batch) events DataFrame: row count, null/blank user ids, null event
    times, and the event-time high-water mark. The stateful sessionizer
    leaves the bad-user and bad-time rows out; these counts are where
    they show.

    ``observe`` computes the aggregates inside the existing plan — at
    100 TB a monitoring pass that re-scans the input is its own
    full-size job, so piggybacking on the stage that's already
    running is the only affordable shape. Metrics surface per
    micro-batch in ``StreamingQueryProgress.observedMetrics[name]``
    (hook a listener / the CLI) and on ``df.collect()``'s query
    execution in batch mode.

    The reference has no monitoring at all — its null/empty user_id
    handling is a silent per-row skip inside the Redis sink
    (RedisForeachWriter.scala:26-34); here the same condition is a
    counted, alertable metric instead of a silent drop.
    """
    return df.observe(
        name,
        F.expr("count(1) AS n_rows"),
        F.expr(
            "sum(CASE WHEN user_id IS NULL OR trim(CAST(user_id AS STRING)) = ''"
            " THEN 1 ELSE 0 END) AS n_bad_user"
        ),
        F.expr("sum(CASE WHEN ts_sec IS NULL THEN 1 ELSE 0 END) AS n_bad_ts"),
        F.expr("max(ts_sec) AS max_ts_sec"),
    )
