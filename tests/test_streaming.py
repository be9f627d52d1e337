"""Streaming-layer tests: micro-batch state evolution (the thing the
reference could never test — SURVEY.md §5.3).

Key property: feeding time-ordered micro-batches through the stateful
streaming sessionizer must reproduce EXACTLY the batch sessionizer's
(user, event → session_id) assignment on the same data.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from msstreamingstack_spark.operators.sessionize import sessionize
from msstreamingstack_spark.sinks.writers import CollectingSink, TransactionalParquetSink
from msstreamingstack_spark.sources.tables import events_with_time
from msstreamingstack_spark.streaming import pipeline
from msstreamingstack_spark.streaming.pipeline import run_pipeline
from msstreamingstack_spark.streaming.stateful import OUTPUT_SCHEMA

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged_stream_dir(tmp_path_factory):
    """Split sf0.001 events into 3 time-ordered parquet drops."""
    src = pq.read_table(os.path.join(SF, "events.parquet"))
    df = src.to_pandas().sort_values("ts").reset_index(drop=True)
    out = tmp_path_factory.mktemp("stream_in")
    n = len(df)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        chunk = df.iloc[lo : lo + (n + 2) // 3]
        path = out / f"part-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        # strictly increasing mtimes: the file source breaks same-mtime
        # ties nondeterministically and these drops must stream in order
        mt = 1_700_000_000 + i * 10
        os.utime(path, (mt, mt))
    return str(out)


def _batch_truth(spark):
    ev = events_with_time(spark, SF).select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    out = sessionize(ev, init_col=(F.col("event_type") == "signup"))
    return {r["event_id"]: r["session_id"] for r in out.collect()}


def _land_drops_one_by_one(spark, staged_dir, tmp_path, sinks, name):
    """Run a continuous ``run_pipeline`` query and land the staged drops
    one at a time, each drained before the next lands, so every drop is
    its own micro-batch (a staged backlog drains as one)."""
    src = tmp_path / f"{name}_in"
    src.mkdir()

    def land(fname):
        # the file source skips dot-files: copy hidden, then rename in
        shutil.copy(os.path.join(staged_dir, fname), src / f".{fname}")
        os.rename(src / f".{fname}", src / fname)

    drops = sorted(f for f in os.listdir(staged_dir) if f.endswith(".parquet"))
    land(drops[0])
    q = run_pipeline(
        spark,
        str(src),
        checkpoint_dir=str(tmp_path / name),
        sinks=sinks,
        available_now=False,
    )
    try:
        q.processAllAvailable()
        for fname in drops[1:]:
            land(fname)
            q.processAllAvailable()
    finally:
        q.stop()


def test_backlog_admitted_by_byte_budget(spark, staged_stream_dir, tmp_path, monkeypatch):
    """A staged backlog of 3 drops fits the byte budget, so
    ``available_now`` drains it in one data trigger; with a 1-byte
    budget each trigger still admits one drop, so it takes 3. Time-
    ordered input gives the batch sessions however it is batched."""
    want = _batch_truth(spark)
    for budget, triggers in ((pipeline.ADMIT_BYTES_PER_TRIGGER, 1), (1, 3)):
        monkeypatch.setattr(pipeline, "ADMIT_BYTES_PER_TRIGGER", budget)
        sink = CollectingSink()
        q = run_pipeline(
            spark,
            staged_stream_dir,
            checkpoint_dir=str(tmp_path / f"cp_admit_{budget}"),
            sinks=[sink],
            available_now=True,
        )
        q.awaitTermination(300)
        data_triggers = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(data_triggers) == triggers, (budget, q.recentProgress)
        got = {r["event_id"]: r["session_id"] for r in sink.rows}
        assert got == want, budget


def test_stream_matches_batch_sessionizer(spark, staged_stream_dir, tmp_path):
    sink = CollectingSink()
    q = run_pipeline(
        spark,
        staged_stream_dir,
        checkpoint_dir=str(tmp_path / "cp1"),
        sinks=[sink],
        available_now=True,
    )
    q.awaitTermination(300)
    got = {r["event_id"]: r["session_id"] for r in sink.rows}
    want = _batch_truth(spark)
    assert len(got) == len(want) == 1000
    diffs = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not diffs, f"{len(diffs)} session-id mismatches, e.g. {list(diffs.items())[:3]}"


def test_stream_processes_multiple_batches_with_state(spark, staged_stream_dir, tmp_path):
    sink = CollectingSink()
    _land_drops_one_by_one(spark, staged_stream_dir, tmp_path, [sink], "cp2")
    nonempty = [b for b, rows in sink.batches if rows]
    assert len(nonempty) >= 2, "drops landed one by one should yield multiple batches"
    # a session continuing across batch boundaries keeps its id: find a
    # user whose events span two batches with a small gap
    by_batch = {b: {r["user_id"] for r in rows} for b, rows in sink.batches}
    bs = sorted(by_batch)
    spanning = by_batch[bs[0]] & by_batch[bs[-1]]
    assert spanning, "test data should have users spanning batches"


def test_new_user_flag_once_per_user(spark, staged_stream_dir, tmp_path):
    sink = CollectingSink()
    q = run_pipeline(
        spark,
        staged_stream_dir,
        checkpoint_dir=str(tmp_path / "cp3"),
        sinks=[sink],
        available_now=True,
    )
    q.awaitTermination(300)
    new_flags = {}
    for r in sink.rows:
        new_flags.setdefault(r["user_id"], 0)
        new_flags[r["user_id"]] += int(r["is_new_user"])
    assert all(v == 1 for v in new_flags.values()), new_flags


def test_null_user_row_is_counted_not_fatal(spark, tmp_path):
    """A row without a user_id (or event time) cannot be keyed: it is
    left out of the stateful input and counted in the quality metrics,
    and the query keeps going — the next drop is processed too."""
    src = tmp_path / "in"
    src.mkdir()
    ids = [list(range(1, 11)), list(range(11, 21))]
    for i, eids in enumerate(ids):
        n = len(eids)
        tbl = pa.table(
            {
                "event_id": pa.array(eids, pa.int64()),
                "ts": pa.array(
                    [None if e == 5 else (1000 + 60 * e) * 10**9 for e in eids], pa.int64()
                ),
                "user_id": pa.array([None if e == 3 else e % 4 for e in eids], pa.int64()),
                "event_type": ["view"] * n,
                "value": [0.0] * n,
                "props": ["{}"] * n,
            }
        )
        path = src / f"part-{i:03d}.parquet"
        pq.write_table(tbl, path)
        mt = 1_700_000_000 + i * 10
        os.utime(path, (mt, mt))

    sink = CollectingSink()
    q = run_pipeline(
        spark, str(src), checkpoint_dir=str(tmp_path / "cp_null"), sinks=[sink]
    )
    q.awaitTermination(300)
    assert q.exception() is None
    assert sorted(r["event_id"] for r in sink.rows) == [
        e for e in range(1, 21) if e not in (3, 5)
    ]
    observed = [
        p["observedMetrics"]["quality"]
        for p in q.recentProgress
        if "quality" in p.get("observedMetrics", {})
    ]
    assert sum(m["n_rows"] for m in observed) == 20
    assert sum(m["n_bad_user"] for m in observed) == 1
    assert sum(m["n_bad_ts"] for m in observed) == 1
    assert max(m["max_ts_sec"] for m in observed) == 1000 + 60 * 20  # event 20


def test_stream_static_dim_join(spark, staged_stream_dir, tmp_path):
    """Reference J1 parity (StructuredStreaming.scala:151-155): the
    streaming side LEFT-joins a static dimension; Spark re-evaluates
    the static side each micro-batch — the managed-state analogue of
    the reference's Redis-snapshot round-trip. Result must equal the
    batch join over the same data."""
    from msstreamingstack_spark.sources.tables import load_table
    from msstreamingstack_spark.streaming.pipeline import read_event_stream

    dim = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = read_event_stream(
        spark, staged_stream_dir, max_bytes_per_trigger=1
    ).select("event_id", "user_id")
    joined = stream.join(dim, "user_id", "left")

    sink = CollectingSink()
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_dim"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r.event_id: r.c_mktsegment for r in sink.rows}
    want = {
        r.event_id: r.c_mktsegment
        for r in events_with_time(spark, SF)
        .select("event_id", "user_id")
        .join(dim, "user_id", "left")
        .collect()
    }
    assert got == want
    assert len(sink.batches) >= 2  # genuinely micro-batched


@pytest.mark.slow
def test_generator_feeds_pipeline(spark, tmp_path):
    """Producer parity (S4/K5): generator drops → file stream →
    sessionized output; every generated event comes through once."""
    from msstreamingstack_spark.sources.generator import drop_batches

    src = str(tmp_path / "gen")
    drop_batches(src, n_batches=4, batch_size=3, gap_sec=120)
    sink = CollectingSink()
    q = run_pipeline(
        spark, src, checkpoint_dir=str(tmp_path / "cp_gen"), sinks=[sink]
    )
    q.awaitTermination(300)
    assert sorted(r.event_id for r in sink.rows) == list(range(12))
    assert all(r.session_id for r in sink.rows)


def test_parquet_sink_idempotent_on_redelivery(spark, tmp_path):
    """K3 exactly-once: a redelivered batch id is written once, and a
    batch directory without a commit marker (a torn write) stays
    invisible to readers."""
    sink = TransactionalParquetSink(str(tmp_path / "hist"))
    df = spark.range(5).withColumnRenamed("id", "event_id")
    sink(df, batch_id=7)
    sink(df, batch_id=7)  # redelivery of the same epoch
    df.write.parquet(os.path.join(sink.data_dir, "batch_id=8"))
    assert sink.committed_ids() == [7]
    assert sink.read_committed(spark).count() == 5


def _history_rows(spark, ids):
    """A sink-shaped (``OUTPUT_SCHEMA``) frame, one row per id, with
    every column type and some null ``ctgry`` values."""
    return spark.createDataFrame(
        [
            (i, i % 3, 1_700_000_000 + i, "view", i * 0.5, f"s{i % 3}",
             i == 0, i % 2 == 0, i * 1.25, None if i % 4 else "books")
            for i in ids
        ],
        OUTPUT_SCHEMA,
    )


def _types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_parquet_sink_replaces_torn_attempt(spark, tmp_path):
    """A batch directory left by a torn attempt (stale temp file, a
    stray part file and a ``_SUCCESS``, no marker) is invisible to
    readers, and the redelivered batch replaces it wholesale."""
    sink = TransactionalParquetSink(str(tmp_path / "hist"))
    sink(_history_rows(spark, range(3)), batch_id=2)
    torn = os.path.join(sink.data_dir, "batch_id=3")
    os.makedirs(torn)
    with open(os.path.join(torn, ".part-0.parquet.tmp"), "wb") as fh:
        fh.write(b"PAR1 torn")
    pq.write_table(
        _history_rows(spark, range(100, 107)).toArrow(),
        os.path.join(torn, "part-00000-stale.snappy.parquet"),
    )
    open(os.path.join(torn, "_SUCCESS"), "w").close()

    assert sink.committed_ids() == [2]
    assert sorted(r.event_id for r in sink.read_committed(spark).collect()) == [0, 1, 2]

    sink(_history_rows(spark, range(10, 14)), batch_id=3)
    assert sorted(os.listdir(torn)) == ["part-0.parquet"]
    assert sink.committed_ids() == [2, 3]
    got = sorted(r.event_id for r in sink.read_committed(spark).collect())
    assert got == [0, 1, 2, 10, 11, 12, 13]


def test_parquet_sink_commits_one_file_without_spark_job(spark, tmp_path):
    """A committed batch directory holds exactly one visible parquet
    file and none of the Hadoop committer's files (``_SUCCESS``,
    ``_temporary``, ``.crc``): no Spark write job ran."""
    sink = TransactionalParquetSink(str(tmp_path / "hist"))
    sink(_history_rows(spark, range(5)).repartition(3), batch_id=0)
    assert os.listdir(os.path.join(sink.data_dir, "batch_id=0")) == ["part-0.parquet"]
    found = [n for _, dirs, files in os.walk(sink.out_dir) for n in dirs + files]
    committer = [
        n for n in found
        if n.startswith(("_SUCCESS", "_temporary", ".")) or n.endswith(".crc")
    ]
    assert not committer, found


def test_parquet_sink_empty_batch(spark, tmp_path):
    """A 0-row micro-batch commits: its marker is written and its file
    carries the schema, so ``read_committed`` reads it alone and mixed
    with non-empty batches."""
    sink = TransactionalParquetSink(str(tmp_path / "hist"))
    sink(_history_rows(spark, []), batch_id=0)
    assert sink.committed_ids() == [0]
    part = os.path.join(sink.data_dir, "batch_id=0", "part-0.parquet")
    assert pq.read_schema(part).names == OUTPUT_SCHEMA.names
    alone = sink.read_committed(spark)
    assert _types(alone.schema) == _types(OUTPUT_SCHEMA)
    assert alone.count() == 0

    sink(_history_rows(spark, range(4)), batch_id=1)
    sink(_history_rows(spark, []), batch_id=2)
    mixed = sink.read_committed(spark)
    assert _types(mixed.schema) == _types(OUTPUT_SCHEMA)
    assert sorted(r.event_id for r in mixed.collect()) == [0, 1, 2, 3]


def test_parquet_sink_reads_batches_of_the_spark_writer(spark, tmp_path):
    """Upgrade: an output directory whose earlier batches were committed
    by the Spark-writer sink (``part-*.snappy.parquet``, ``_SUCCESS``,
    ``.crc``) keeps working. Its committed batches are still skipped on
    redelivery, later batches are added by the Arrow path, and
    ``read_committed`` reads both as one table with one schema."""
    out = str(tmp_path / "hist")
    old = TransactionalParquetSink(out)
    want = {}
    for b, ids in ((0, range(0, 5)), (1, range(5, 9))):
        df = _history_rows(spark, ids)
        want.update((r.event_id, tuple(r)) for r in df.collect())
        df.write.mode("overwrite").parquet(os.path.join(old.data_dir, f"batch_id={b}"))
        open(os.path.join(old.commits_dir, str(b)), "x").close()
    old_files = sorted(os.listdir(os.path.join(old.data_dir, "batch_id=1")))
    assert "_SUCCESS" in old_files and any(n.endswith(".crc") for n in old_files)

    sink = TransactionalParquetSink(out)
    sink(_history_rows(spark, range(100, 103)), batch_id=1)  # redelivered: skipped
    assert sorted(os.listdir(os.path.join(sink.data_dir, "batch_id=1"))) == old_files
    for b, ids in ((2, range(9, 12)), (3, range(12, 16))):
        df = _history_rows(spark, ids)
        want.update((r.event_id, tuple(r)) for r in df.collect())
        sink(df, b)

    got = sink.read_committed(spark)
    assert _types(got.schema) == _types(OUTPUT_SCHEMA)
    assert {r.event_id: tuple(r) for r in got.collect()} == want


def test_parquet_sink_keeps_every_output_column(spark, staged_stream_dir, tmp_path):
    """Every column the sessionizer emits survives the history sink with
    its Spark type: ``read_committed`` has ``OUTPUT_SCHEMA``'s names,
    order and types, and the same rows the micro-batch held (pyarrow's
    writer must not drift a type, e.g. to ``large_string``, a
    dictionary or another boolean or double encoding)."""
    seen = CollectingSink()
    sink = TransactionalParquetSink(str(tmp_path / "hist"))
    q = run_pipeline(
        spark,
        staged_stream_dir,
        checkpoint_dir=str(tmp_path / "cp_cols"),
        sinks=[seen, sink],
        available_now=True,
    )
    q.awaitTermination(300)
    got = sink.read_committed(spark)
    assert _types(got.schema) == _types(OUTPUT_SCHEMA)
    rows = {r.event_id: tuple(r) for r in got.collect()}
    assert len(rows) == 1000
    assert rows == {r.event_id: tuple(r) for r in seen.rows}


def test_stream_started_on_empty_dir_reads_producer_drops(spark, tmp_path):
    """``consume`` started before ``produce``: the stream's ``ts`` type
    is fixed when the query starts, so an empty source directory must
    declare the producer's int64-nanos shape, not the timestamp one."""
    from msstreamingstack_spark.sources.generator import drop_batches

    src = tmp_path / "drops"
    src.mkdir()
    sink = TransactionalParquetSink(str(tmp_path / "hist"))
    q = run_pipeline(
        spark,
        str(src),
        checkpoint_dir=str(tmp_path / "cp_empty"),
        sinks=[sink],
        available_now=False,
    )
    try:
        (drop,) = drop_batches(str(tmp_path / "staging"), 1, batch_size=10)
        os.rename(drop, src / os.path.basename(drop))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sink.read_committed(spark).collect()
    assert sorted(r.event_id for r in rows) == list(range(10))
    assert all(r.session_id for r in rows)


@pytest.mark.slow
def test_rocksdb_state_store_backend(spark, staged_stream_dir, tmp_path):
    """The full stateful pipeline (applyInPandasWithState
    sessionization) runs on the RocksDB state store and produces the
    identical output — the memory-bounded backend the engine defaults
    to at scale (streaming/pipeline.py::use_rocksdb_state)."""
    from msstreamingstack_spark.streaming.pipeline import use_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        sink = CollectingSink()
        q = run_pipeline(
            spark,
            staged_stream_dir,
            checkpoint_dir=str(tmp_path / "cp_rocks"),
            sinks=[sink],
            available_now=True,
        )
        q.awaitTermination(300)
        # RocksDB surfaces its own state-store metrics in progress
        ops = q.lastProgress["stateOperators"]
        assert any(
            k.startswith("rocksdb")
            for op in ops
            for k in op.get("customMetrics", {})
        ), ops
        got = {r["event_id"]: r["session_id"] for r in sink.rows}
        want = _batch_truth(spark)
        assert got == want
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


@pytest.mark.slow
def test_transactional_sink_exactly_once(spark, staged_stream_dir, tmp_path):
    """TransactionalParquetSink: redelivered batches are skipped via
    the commit log, a torn write is invisible to readers, and
    read_committed returns exactly the once-committed rows."""
    sink = TransactionalParquetSink(str(tmp_path / "txn"))
    _land_drops_one_by_one(spark, staged_stream_dir, tmp_path, [sink], "cp_txn")
    ids = sink.committed_ids()
    assert len(ids) >= 2

    committed = sink.read_committed(spark)
    n_before = committed.count()
    assert n_before == 1000  # sf0.001 events, exactly once

    # redelivery of an already-committed batch must be a no-op
    sink(committed.limit(5), ids[0])
    assert sink.read_committed(spark).count() == n_before

    # a torn (uncommitted) batch dir is invisible to readers
    torn = max(ids) + 1
    committed.limit(7).write.mode("overwrite").parquet(
        str(tmp_path / "txn" / "data" / f"batch_id={torn}")
    )
    assert sink.read_committed(spark).count() == n_before


@pytest.mark.slow
def test_observed_quality_metrics_in_progress(spark, staged_stream_dir, tmp_path):
    """observe() metrics ride the existing plan: every micro-batch's
    progress reports row count / bad-user count / event-time HWM
    without a second scan of the input."""
    sink = CollectingSink()
    q = run_pipeline(
        spark,
        staged_stream_dir,
        checkpoint_dir=str(tmp_path / "cp_obs"),
        sinks=[sink],
        available_now=True,
    )
    q.awaitTermination(300)
    observed = [
        p["observedMetrics"]["quality"]
        for p in q.recentProgress
        if "quality" in p.get("observedMetrics", {})
    ]
    assert observed, "no quality metrics in any progress event"
    assert sum(m["n_rows"] for m in observed) == 1000
    assert all(m["n_bad_user"] == 0 for m in observed)
    assert max(m["max_ts_sec"] for m in observed) > 0


@pytest.mark.slow
def test_checkpoint_restart_preserves_session_state(spark, tmp_path):
    """Stop-and-restart continuity: a second run against the SAME
    checkpoint must (a) not reprocess already-committed input and
    (b) resume each user's session state — an event landing within
    the gap of a pre-restart event keeps that session id. This is the
    recovery property the reference's external-Redis state gave up
    (its state survived, but offsets/state were not transactional)."""
    from msstreamingstack_spark.sources.generator import drop_batches

    src = str(tmp_path / "drops")
    cp = str(tmp_path / "cp_restart")

    # phase 1: five drops, events 0..24 = all 25 round-robin users once,
    # ts 1000..1260
    drop_batches(src, n_batches=5, batch_size=5, t0_sec=1000, gap_sec=60)
    sink1 = CollectingSink()
    q = run_pipeline(
        spark, src, checkpoint_dir=cp, sinks=[sink1], available_now=True
    )
    q.awaitTermination(300)
    assert len(sink1.rows) == 25
    pre = {r["user_id"]: r for r in sink1.rows}

    # phase 2: one more drop (events 25..30, so users 0..5 again) about
    # 20 min later, inside the 30-min gap, then RESTART from the checkpoint
    drop_batches(src, n_batches=1, batch_size=6, t0_sec=2200, gap_sec=600)
    sink2 = CollectingSink()
    q2 = run_pipeline(
        spark, src, checkpoint_dir=cp, sinks=[sink2], available_now=True
    )
    q2.awaitTermination(300)

    # (a) only the 6 new events processed — no re-delivery of phase 1
    assert len(sink2.rows) == 6
    # (b) same-user events within the gap continue the SAME session
    cont = [
        r
        for r in sink2.rows
        if r["user_id"] in pre and r["event_type"] != "signup"
    ]  # signup force-splits sessions by design (reference T2 init flag)
    assert cont, "expected overlapping non-init users across restart"
    for r in cont:
        prev = pre[r["user_id"]]
        if r["ts_sec"] - prev["ts_sec"] <= 1800:
            assert r["session_id"] == prev["session_id"], (
                r["user_id"], prev["session_id"], r["session_id"],
            )


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_checkpoint_of_file_context_manager_restarts(spark, tmp_path):
    """A checkpoint written through Spark's default FileContext manager
    (offsets, commits and RocksDB changelogs) restarts under the
    engine's FileSystem manager: no event is reprocessed, sessions within
    the gap keep their id and returning users are not new."""
    from msstreamingstack_spark.sources.generator import drop_batches
    from msstreamingstack_spark.streaming.pipeline import use_rocksdb_state
    from msstreamingstack_spark.streaming.stateful import sessionize_stream

    session = spark.newSession()  # the RocksDB and manager confs stay here
    use_rocksdb_state(session)
    src = str(tmp_path / "drops")
    cp = str(tmp_path / "cp_upgrade")

    # phase 1: run_pipeline's plan with the manager set back to Spark's
    # default after read_event_stream applies the engine's confs
    drop_batches(src, n_batches=5, batch_size=5, t0_sec=1000, gap_sec=60)
    events = pipeline.read_event_stream(
        session, src, max_bytes_per_trigger=pipeline.ADMIT_BYTES_PER_TRIGGER
    ).select("event_id", "user_id", "ts_sec", "event_type", "value")
    session.conf.set(CHECKPOINT_MANAGER_CONF, FILE_CONTEXT_MANAGER)
    sink1 = CollectingSink()
    q = (
        sessionize_stream(pipeline.with_quality_metrics(events))
        .writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(cp, "cp"))
        .foreachBatch(sink1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(sink1.rows) == 25
    pre = {r["user_id"]: r for r in sink1.rows}

    # phase 2: users 0..5 return 20 min later; run_pipeline restores the
    # engine's manager before the restart
    drop_batches(src, n_batches=1, batch_size=6, t0_sec=2200, gap_sec=600)
    sink2 = CollectingSink()
    run_pipeline(
        session, src, checkpoint_dir=cp, sinks=[sink2], available_now=True
    ).awaitTermination(300)
    assert session.conf.get(CHECKPOINT_MANAGER_CONF).endswith(
        "FileSystemBasedCheckpointFileManager"
    )

    assert len(sink2.rows) == 6
    assert all(r["user_id"] in pre for r in sink2.rows)
    assert not any(r["is_new_user"] for r in sink2.rows)
    cont = [r for r in sink2.rows if r["event_type"] != "signup"]
    assert cont, "expected returning non-signup events"
    for r in cont:
        prev = pre[r["user_id"]]
        assert r["ts_sec"] - prev["ts_sec"] <= 1800
        assert r["session_id"] == prev["session_id"], (
            r["user_id"], prev["session_id"], r["session_id"],
        )


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeTWSHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())


# --- S1 Kafka surface, broker-free ---------------------------------------
class _RecordingReader:
    """Stand-in for DataStreamReader that records the configured
    format/options — the kafka connector jar (and any broker) is
    absent here, so the reader's CONFIG is the testable surface."""

    def __init__(self):
        self.fmt = None
        self.opts = {}

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self


class _RecordingSession:
    def __init__(self):
        self.reader = _RecordingReader()

    @property
    def readStream(self):
        return self.reader


def test_kafka_reader_options_mirror_reference():
    """S1 source half: format/options must mirror the reference's
    Kafka read (StructuredStreaming.scala:79-84 — bootstrap servers +
    topic subscription)."""
    from msstreamingstack_spark.streaming.pipeline import kafka_reader

    sess = _RecordingSession()
    r = kafka_reader(sess, "broker1:9092,broker2:9092", "MS")
    assert r is sess.reader  # chained builder, ready for .load()
    assert r.fmt == "kafka"
    assert r.opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert r.opts["subscribe"] == "MS"
    assert r.opts["startingOffsets"] == "latest"


def test_kafka_decode_wire_schema_to_clickstream(spark):
    """S1 decode half, run for real on the exact Kafka wire schema
    (binary key/value + topic/partition/offset/timestamp): the value
    JSON must land in the declared CLICKSTREAM_SCHEMA columns, with
    corrupt payloads nulled (from_json), mirroring
    StructuredStreaming.scala:87-89's CAST + from_json + data.*."""
    import datetime

    from pyspark.sql import Row, types as T

    from msstreamingstack_spark.schemas import CLICKSTREAM_SCHEMA
    from msstreamingstack_spark.streaming.pipeline import decode_kafka_events

    wire_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("timestampType", T.IntegerType()),
        ]
    )
    good = (
        b'{"date": "1596039854", "user_id": "u1", "user_agent": "Mozilla", '
        b'"partner_id": "p1", "partner_name": "pn", "init_session": true, '
        b'"session_id": "s1", "page_type": "home", "category": "c", '
        b'"cart_amount": "12.5", "platform": "WEB"}'
    )
    ts = datetime.datetime(2020, 7, 29, 12, 0, 0)
    raw = spark.createDataFrame(
        [
            Row(key=None, value=good, topic="MS", partition=0, offset=0,
                timestamp=ts, timestampType=0),
            Row(key=None, value=b"not json {", topic="MS", partition=0,
                offset=1, timestamp=ts, timestampType=0),
        ],
        schema=wire_schema,
    )
    out = decode_kafka_events(raw)
    assert out.schema == CLICKSTREAM_SCHEMA
    rows = out.orderBy(F.desc("user_id")).collect()
    assert rows[0]["user_id"] == "u1"
    assert rows[0]["init_session"] is True
    assert rows[0]["date"] == "1596039854"
    # corrupt payload -> all-null struct expansion, not a crash
    assert all(rows[1][f] is None for f in out.columns)


def test_dynamic_gap_session_window_streams(spark, staged_stream_dir, tmp_path):
    """Native session_window with a DYNAMIC (per-event-type) gap under
    readStream + watermark: every session the drained stream emits
    must match the batch twin exactly, and the only sessions it may
    withhold are those not yet watermark-finalized (append mode emits
    a session only once the watermark passes its end)."""
    from msstreamingstack_spark.queries_analytics import (
        DYN_GAP_DEFAULT_SEC,
        DYN_GAP_PURCHASE_SEC,
    )
    from msstreamingstack_spark.streaming.pipeline import read_event_stream

    WM_SEC = 3600

    def rollup(ev):
        gap = F.when(
            F.col("event_type") == "purchase",
            F.lit(f"{DYN_GAP_PURCHASE_SEC} seconds"),
        ).otherwise(F.lit(f"{DYN_GAP_DEFAULT_SEC} seconds"))
        ts = F.timestamp_seconds(F.col("ts_sec"))
        out = ev.withColumn("ts", ts)
        if out.isStreaming:
            out = out.withWatermark("ts", f"{WM_SEC} seconds")
        win = F.session_window(F.col("ts"), gap)
        return (
            out.groupBy("user_id", win)
            .agg(F.count("*").alias("n"), F.min("ts_sec").alias("start_sec"))
            .select(
                "user_id",
                "start_sec",
                F.unix_timestamp(F.col("session_window.end")).alias(
                    "end_sec"
                ),
                "n",
            )
        )

    q = (
        rollup(
            read_event_stream(spark, staged_stream_dir, max_bytes_per_trigger=1)
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "dyn_out"))
        .option("checkpointLocation", str(tmp_path / "dyn_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["start_sec"]): (r["end_sec"], r["n"])
        for r in spark.read.parquet(str(tmp_path / "dyn_out")).collect()
    }
    batch = spark.read.parquet(staged_stream_dir).selectExpr(
        "user_id",
        "event_type",
        "CAST(unix_timestamp(ts) AS BIGINT) AS ts_sec",
    )
    want = {
        (r["user_id"], r["start_sec"]): (r["end_sec"], r["n"])
        for r in rollup(batch).collect()
    }
    max_ts = batch.agg(F.max("ts_sec")).first()[0]
    wm = max_ts - WM_SEC
    # every emitted session matches batch exactly
    assert got.items() <= want.items()
    # everything withheld is still open w.r.t. the final watermark
    withheld = {k for k in want if k not in got}
    assert all(want[k][0] > wm for k in withheld), withheld
    # and the stream DID finalize the overwhelming majority
    assert len(got) >= 0.9 * len(want)
