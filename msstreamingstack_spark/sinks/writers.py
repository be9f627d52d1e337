"""Sink adapters (SURVEY.md §2.2 K1-K4) for the single-query
``foreachBatch`` fan-out.

The reference runs FIVE concurrent streaming queries, each re-reading
Kafka and each writing row-at-a-time through ``ForeachWriter``
(StructuredStreaming.scala:228-279; RedisForeachWriter.scala:35-38
does one HSET per field per row). Here one query's ``foreachBatch``
fans out to all sinks per micro-batch with *bulk* writes — source
read once, sinks written as whole partitions (the history sink as one
Arrow-collected file per batch), idempotence via the (batchId) key.

External sinks (Redis K2, Cassandra K3/K4) are interface-compatible
adapters gated behind import-try — the connectors aren't in this
environment; the parquet/console/collecting sinks are the live paths.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame


def console_sink(df: DataFrame, batch_id: int) -> None:
    """K1: console debug sink (update-mode analogue)."""
    print(f"=== batch {batch_id} ===")
    df.show(20, truncate=False)


class CollectingSink:
    """Test sink: captures each micro-batch's rows driver-side.
    (Test-only — a production sink never collects.)"""

    def __init__(self) -> None:
        self.batches: list[tuple[int, list]] = []

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        self.batches.append((batch_id, df.collect()))

    @property
    def rows(self) -> list:
        return [r for _, rows in self.batches for r in rows]


def redis_hset_commands(rows, key_prefix: str):
    """Reference-exact Redis upsert plan for one partition of rows:
    yields ``(key, field, value)`` HSET triples.

    Contract (RedisForeachWriter.scala:25-40): key is
    ``{prefix}:{user_id}``; rows with null/empty user_id are skipped
    entirely; null/empty FIELD VALUES are skipped too (the reference
    never writes an empty hash field); everything is stringified.
    Pure generator → unit-testable without a server."""
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        uid = d.get("user_id")
        if uid in (None, ""):
            continue
        for k, v in d.items():
            if v in (None, ""):
                continue
            yield f"{key_prefix}:{uid}", k, str(v)


def _redis_write_partition(rows, key_prefix: str, client_factory) -> int:
    """Executor-side partition write: ONE pipelined connection per
    partition (vs the reference's one synchronous HSET round-trip per
    field per row — the pipeline is the scale fix, the command stream
    is identical). Returns the number of commands queued."""
    client = client_factory()
    pipe = client.pipeline(transaction=False)
    n = 0
    for key, field, value in redis_hset_commands(rows, key_prefix):
        pipe.hset(key, field, value)
        n += 1
    pipe.execute()
    return n


def redis_writer(
    host: str = "localhost",
    port: int = 6379,
    key_prefix: str = "MS",
    client_factory=None,
):
    """K2: per-user state upsert into Redis hashes — pipelined per
    partition (vs the reference's one HSET per field per row,
    RedisForeachWriter.scala:35-38).

    ``client_factory`` (picklable zero-arg callable returning a client
    with ``pipeline(transaction=...)`` → ``hset/execute``) makes the
    adapter contract-testable with a fake; by default it builds a real
    ``redis.Redis`` and raises if the client library is absent."""
    if client_factory is None:
        try:
            import redis  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "redis client not available in this environment; "
                "pass client_factory= or use CollectingSink/"
                "TransactionalParquetSink as the live sinks"
            ) from e

        def client_factory():  # pragma: no cover - needs a server
            import redis as _redis

            return _redis.Redis(host=host, port=port)

    def write(df: DataFrame, batch_id: int) -> None:
        df.foreachPartition(
            lambda rows: _redis_write_partition(rows, key_prefix, client_factory)
        )

    return write


# Canonical enriched-clickstream column list of the reference's
# processed-table insert (CassandraSinkForeachProcessed.scala:17-37):
# one INSERT per row, fixed column order.
CASSANDRA_PROCESSED_COLS = (
    "ts", "user_id", "message_date", "user_agent", "partner_id",
    "partner_name", "init_session", "session_id", "page_type",
    "category", "cart_amount", "platform", "user_device",
)


def cassandra_insert_statements(
    rows, keyspace: str, table: str, columns: tuple[str, ...] | None = None
):
    """Reference-exact CQL insert plan: yields ``(cql, params)`` per
    row — ``INSERT INTO ks.tbl (c1, ..., cn) VALUES (?, ..., ?)`` with
    the row's values in declared column order (missing → None). Pure
    generator → unit-testable without a cluster."""
    cols = columns or CASSANDRA_PROCESSED_COLS
    cql = (
        f"INSERT INTO {keyspace}.{table} ({', '.join(cols)}) "
        f"VALUES ({', '.join('?' * len(cols))})"
    )
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        yield cql, tuple(d.get(c) for c in cols)


def _cassandra_write_partition(
    rows, keyspace: str, table: str, columns, session_factory
) -> int:
    """Executor-side partition write: one session per partition, one
    prepared-style execute per row (the reference's shape). Returns
    rows written."""
    session = session_factory()
    n = 0
    for cql, params in cassandra_insert_statements(rows, keyspace, table, columns):
        session.execute(cql, params)
        n += 1
    return n


def cassandra_row_writer(
    keyspace: str,
    table: str,
    columns: tuple[str, ...] | None = None,
    session_factory=None,
):
    """K3/K4 row-level adapter mirroring the reference's ForeachWriter
    (CassandraSinkForeachProcessed.scala:17-37) with an injectable
    ``session_factory`` (picklable zero-arg callable → object with
    ``execute(cql, params)``) so the contract is testable without a
    cluster. Prefer :func:`cassandra_writer` (bulk connector) at
    scale; this exists for client-driver deployments and parity."""
    if session_factory is None:
        raise NotImplementedError(
            "no cassandra client session available in this environment; "
            "pass session_factory= (e.g. cassandra-driver Cluster().connect) "
            "or use cassandra_writer with the connector jar"
        )

    def write(df: DataFrame, batch_id: int) -> None:
        df.foreachPartition(
            lambda rows: _cassandra_write_partition(
                rows, keyspace, table, columns, session_factory
            )
        )

    return write


def cassandra_writer(keyspace: str, table: str):
    """K3/K4: bulk write via the Spark-Cassandra connector (whole
    DataFrame per batch, not per-row CQL inserts). Connector jar not
    present here — adapter raises until provided."""

    def write(df: DataFrame, batch_id: int) -> None:
        try:
            (
                df.write.format("org.apache.spark.sql.cassandra")
                .options(keyspace=keyspace, table=table)
                .mode("append")
                .save()
            )
        except Exception as e:
            raise NotImplementedError(
                "spark-cassandra-connector jar not on the classpath in "
                "this environment"
            ) from e

    return write


def kafka_records(rows, key_col: str = "event_id"):
    """Reference-exact producer record plan (GetProducerAPI.scala:
    82-105): yields ``(key, value)`` with key = stringified id and
    value = compact JSON of the full row (sorted keys for a stable
    cross-engine byte layout). Pure generator → unit-testable."""
    import json

    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        key = d.get(key_col)
        yield (
            None if key is None else str(key),
            json.dumps(d, sort_keys=True, default=str),
        )


def _kafka_write_partition(
    rows, topic: str, key_col: str, producer_factory, sync: bool = False
) -> int:
    """Executor-side partition write: one producer per partition,
    send per record, flush+close at the end. ``sync=False`` is the
    async-producer discipline of the reference's GetProducerAPI;
    ``sync=True`` reproduces its synchronous third strategy
    (GetProducerAPI.scala:57-79, ``send().get()`` per record): each
    send's returned future/handle is awaited via ``.get()`` BEFORE the
    next record goes out — per-record delivery confirmation at the
    cost of pipelining (the reference keeps both for exactly this
    trade). Returns records sent."""
    producer = producer_factory()
    n = 0
    for key, value in kafka_records(rows, key_col):
        handle = producer.send(topic, key=key, value=value)
        if sync and handle is not None and hasattr(handle, "get"):
            handle.get()
        n += 1
    producer.flush()
    producer.close()
    return n


def kafka_writer(
    bootstrap: str,
    topic: str,
    key_col: str = "event_id",
    producer_factory=None,
    sync: bool = False,
):
    """K5: Kafka producer sink (GetProducerAPI.scala:82-105's async
    producer, as a foreachBatch writer).

    With ``producer_factory`` (picklable zero-arg callable → object
    with ``send(topic, key=, value=)/flush/close``) the adapter runs
    client-side per partition and is contract-testable with a fake;
    ``sync=True`` awaits each send's ``.get()`` before the next record
    (the reference's synchronous strategy, GetProducerAPI.scala:57-79).
    Without a factory, the bulk JVM kafka datasource path is used —
    config-gated, no broker in this environment; the delivery-semantics
    knobs (acks/max.in.flight) are Kafka client config, not engine
    code (``sync`` only governs the per-record await discipline)."""
    if producer_factory is not None:
        def write(df: DataFrame, batch_id: int) -> None:
            df.foreachPartition(
                lambda rows: _kafka_write_partition(
                    rows, topic, key_col, producer_factory, sync
                )
            )

        return write

    def write(df: DataFrame, batch_id: int) -> None:  # pragma: no cover
        (
            df.selectExpr("CAST(event_id AS STRING) AS key", "to_json(struct(*)) AS value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
            .save()
        )

    return write


class TransactionalParquetSink:
    """Exactly-once history sink with an explicit commit log — the
    Delta-transaction-lite pattern.

    Each micro-batch lands as ONE parquet file in its own batch-id
    directory, and an atomic *commit marker* makes the batch either
    fully visible or not at all:

    0. if ``_commits/<batchId>`` exists (foreachBatch redelivery after
       checkpoint recovery re-runs the last batch), run the batch's plan
       into Spark's ``noop`` sink and write nothing: the redelivered
       batch's state store commits happen only in its tasks, and Spark
       fails a batch that leaves them unrun
       (``STATE_STORE_COMMIT_VALIDATION_FAILED``);
    1. collect the micro-batch to the driver as Arrow (``toArrow``;
       ``run_pipeline``'s fan-out has already persisted it);
    2. remove ``data/batch_id=<batchId>/`` and create it again, so a
       torn earlier attempt is replaced wholesale;
    3. write the table with ``pyarrow.parquet`` to the dot-prefixed
       ``.part-0.parquet.tmp`` in that directory and rename it to
       ``part-0.parquet``;
    4. atomically create the commit marker (``O_CREAT|O_EXCL``; on
       object stores this step becomes a conditional PUT).

    The marker alone is the commit. Readers list ``_commits/`` and read
    only committed batch directories, so ``read_committed`` returns
    exactly the committed prefix even if a writer died mid-batch, and
    a batch id is written once however often it is delivered: the
    batch-id directory plus its marker is an epoch-idempotent sink,
    which with a replayable source is exactly-once output. Spark's
    write job would stack a second commit protocol (task and job
    renames through ``_temporary``, ``_SUCCESS``, ``.crc`` files) on
    top of it, for a fixed cost on every trigger. Spark's parquet
    reader skips files whose names start with ``.`` or ``_``, so the
    temp file is never read even in a directory listed directly; the
    rename only makes the visible file whole.
    """

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.commits_dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, str(batch_id))

    def committed_ids(self) -> list[int]:
        return sorted(
            int(f) for f in os.listdir(self.commits_dir) if f.isdigit()
        )

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._marker(batch_id)):
            # redelivered batch: already fully committed
            df.write.format("noop").mode("overwrite").save()
            return
        table = df.toArrow()
        batch_dir = os.path.join(self.data_dir, f"batch_id={batch_id}")
        shutil.rmtree(batch_dir, ignore_errors=True)
        os.makedirs(batch_dir)
        tmp = os.path.join(batch_dir, ".part-0.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(batch_dir, "part-0.parquet"))
        fd = os.open(self._marker(batch_id), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)

    def read_committed(self, spark) -> DataFrame:
        ids = self.committed_ids()
        if not ids:
            raise FileNotFoundError(f"no committed batches under {self.out_dir}")
        paths = [
            os.path.join(self.data_dir, f"batch_id={b}") for b in ids
        ]
        return spark.read.parquet(*paths)

