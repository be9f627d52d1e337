"""Streaming CUSUM drift monitor — the batch CUSUM scan
(queries_analytics.q_anomaly_cusum_events) as a stateful stream.

The batch form is RETROSPECTIVE: it derives each type's reference mean
from the full table and scans the whole history with two window folds.
A monitor cannot wait for the full history, so the streaming form is
the textbook deployment shape: a CALIBRATED reference per key
(mu, slack, alarm threshold — fitted offline on a training window, in
production refreshed by the batch query) and one bounded running
statistic per key folded forward as hours close:

    S_hour = max(0, S_prev + (hourly_micros - mu - slack))
    alarm  = S_hour > h

State per event_type is FOUR longs (open-hour bucket, its row count,
its accumulated micros, the running S) — constant regardless of
stream length, the property that makes this viable against an
unbounded event stream. Each micro-batch emits only the hours it
CLOSED (an hour closes when a later-hour row for that type arrives);
the currently-open hour stays in state, so late rows within the same
hour keep folding in until the hour advances.

Determinism mirrors the batch kernel exactly: per-row values are
quantized to DECIMAL(25,6) micros (integers from there on), rows fold
in (ts_sec, event_id) order per type, and the clamp recursion is the
sequential definition whose prefix-sum identity the batch query
computes — with the SAME mu/slack/h the closed-hour outputs are
bit-equal to the batch rows (pinned by tests/test_streaming_cusum.py).

Ordering contract: file drops arrive
in event-time order across batches; within a batch rows are sorted on
(ts_sec, event_id). A row for an already-closed hour would belong to
a watermark-late drop — counted into the OPEN hour is wrong, so it is
dropped and tallied in the emitted ``n_late`` column (observable
loss, never silent).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

HOUR_SEC = 3600
_MICRO = Decimal("0.000001")

_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("hour_bucket", LongType()),
        StructField("n_events", LongType()),
        StructField("hourly_sum", DoubleType()),
        StructField("cusum_stat", DoubleType()),
        StructField("alarm", BooleanType()),
        StructField("n_late", LongType()),
    ]
)
# (open hour bucket, rows in it, its micros, running S, late tally)
_STATE = StructType(
    [
        StructField("cur_hour", LongType()),
        StructField("cur_n", LongType()),
        StructField("cur_xi", LongType()),
        StructField("s_run", LongType()),
        StructField("n_late", LongType()),
    ]
)


def _make_cusum_fn(refs: dict[str, tuple[int, int, int]]):
    """``refs``: event_type -> (mu_micros, slack_micros, h_micros).
    Unknown types use (0, 0, 0) — every hour alarms, which is the
    fail-loud default for an uncalibrated key."""

    def _fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        et = str(key[0])
        mu, slack, h = refs.get(et, (0, 0, 0))
        rows = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_sec", "event_id"]
        )
        if state.exists:
            cur_hour, cur_n, cur_xi, s_run, n_late = (
                int(state.get[0]),
                int(state.get[1]),
                int(state.get[2]),
                int(state.get[3]),
                int(state.get[4]),
            )
        else:
            cur_hour, cur_n, cur_xi, s_run, n_late = -1, 0, 0, 0, 0
        closed: list[tuple[str, int, int, float, float, bool, int]] = []

        def close_hour() -> None:
            nonlocal s_run
            s_run = max(0, s_run + (cur_xi - mu - slack))
            closed.append(
                (
                    et,
                    cur_hour,
                    cur_n,
                    float(cur_xi) / 1e6,
                    float(s_run) / 1e6,
                    s_run > h,
                    0,
                )
            )

        for ts_sec, value in zip(rows["ts_sec"], rows["value"]):
            hb = int(ts_sec) // HOUR_SEC * HOUR_SEC
            if cur_hour == -1:
                cur_hour = hb
            elif hb > cur_hour:
                close_hour()
                cur_hour, cur_n, cur_xi = hb, 0, 0
            elif hb < cur_hour:
                n_late += 1  # watermark-late: observable, never folded
                continue
            cur_n += 1
            cur_xi += int(
                Decimal(repr(float(value))).quantize(_MICRO) * 1_000_000
            )
        state.update((cur_hour, cur_n, cur_xi, s_run, n_late))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=[
                    "event_type",
                    "hour_bucket",
                    "n_events",
                    "hourly_sum",
                    "cusum_stat",
                    "alarm",
                    "n_late",
                ],
            )
            out["n_late"] = n_late
            yield out

    return _fn


def cusum_monitor(
    events: DataFrame, refs: dict[str, tuple[int, int, int]]
) -> DataFrame:
    """(streaming or batch-test) events with (event_id, ts_sec,
    event_type, value) → closed-hour CUSUM rows per event_type."""
    keyed = events.select(
        "event_id", "ts_sec", F.col("event_type"), F.col("value")
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        _make_cusum_fn(refs),
        outputStructType=_OUT,
        stateStructType=_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_cusum_stream(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    checkpoint_dir: str,
    refs: dict[str, tuple[int, int, int]],
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Launch the monitor; each micro-batch appends its closed hours
    under ``batch_id=<n>`` (idempotent replay). Returns the StreamingQuery."""
    import os

    from msstreamingstack_spark.streaming.pipeline import read_event_stream

    events = read_event_stream(spark, source_path, max_files_per_trigger)
    monitored = cusum_monitor(events, refs)

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    writer = (
        monitored.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "cp"))
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
