"""Stateful streaming sessionization — the reference's T1-T4
(SURVEY.md §2.6) on Spark-managed state.

The reference externalizes per-user state to Redis and round-trips it
through a stream-static join every micro-batch
(RedisForeachWriter.scala:25-40, StructuredStreaming.scala:142-155).
That design has a read-snapshot race: a user's second event within one
micro-batch still sees pre-batch state. Here state lives in the Spark
state store via ``applyInPandasWithState`` — updates are visible
within the batch (events are processed in time order per user), the
race disappears, and checkpointing gives exactly-once state.

State is bucketed: the state key is ``pmod(hash(user_id), BUCKETS)``,
not the user, so a micro-batch costs at most ``BUCKETS`` Python calls
instead of one per user (Spark's fixed cost per group — Arrow/pandas
conversion plus a state get and put — dominated the per-user design).
A bucket's state value is one packed binary: the ``USER_STATE`` numpy
records of its users, sorted by ``user_id``. One call sessionizes the
whole bucket in a single vectorised pass (sort, shift, forward-fill)
and merges each touched user's last row back into the records.

Session rules (batch-identical to operators/sessionize.py):
  new session ⇔ user unseen ∨ gap > 30 min (strict) ∨ init event
  session_id = "<user>-<session_start_epoch_sec>" (deterministic, F5)
Cart carry: only purchase events move it (T3); new users seed cart to
0 (reference :175). ``ctgry`` is the constant "none": the stream
carries no category column.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from msstreamingstack_spark.operators.sessionize import DEFAULT_GAP_SEC

# State keys per query, so at most this many Python calls per trigger.
# Fewer keys starve the shuffle: 4 bucket keys hash onto only 2 of 4
# state partitions; more keys pay Spark's fixed cost per group again.
BUCKETS = 16

# One record per user of a bucket, kept sorted by user_id.
USER_STATE = np.dtype(
    [
        ("user_id", "<i8"),
        ("last_ts", "<i8"),
        ("session_start", "<i8"),
        ("n_events", "<i8"),
        ("cart_amt", "<f8"),
    ]
)

# The bucket's USER_STATE records as raw bytes.
STATE_SCHEMA = T.StructType([T.StructField("users", T.BinaryType())])

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_sec", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("session_id", T.StringType()),
        T.StructField("is_new_user", T.BooleanType()),
        T.StructField("is_new_session", T.BooleanType()),
        T.StructField("cart_amt", T.DoubleType()),
        T.StructField("ctgry", T.StringType()),
    ]
)


def _ffill(mark: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """``vals`` at the last marked row at or before each row; row 0
    must be marked."""
    idx = np.where(mark, np.arange(len(mark)), 0)
    np.maximum.accumulate(idx, out=idx)
    return vals[idx]


def make_bucket_fn(
    gap_sec: int = DEFAULT_GAP_SEC,
    init_event_type: str = "signup",
    purchase_event_type: str = "purchase",
):
    """Build the per-bucket state-transition function.

    All chunks of the bucket's micro-batch are concatenated and sorted
    by (user_id, ts_sec, event_id) before any row is sessionized, so
    the chunking Spark picks cannot change the result.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        uid = pdf["user_id"].to_numpy(np.int64)
        ts = pdf["ts_sec"].to_numpy(np.int64)
        eid = pdf["event_id"].to_numpy(np.int64)
        order = np.lexsort((eid, ts, uid))
        uid, ts, eid = uid[order], ts[order], eid[order]
        etype = pdf["event_type"].to_numpy()[order]
        value = pdf["value"].to_numpy(np.float64)[order]
        n = len(uid)

        # users of this batch: first row, row -> user index
        first = np.empty(n, dtype=bool)
        first[0] = True
        np.not_equal(uid[1:], uid[:-1], out=first[1:])
        starts = np.flatnonzero(first)
        users = uid[starts]
        row_user = np.cumsum(first) - 1

        # each user's prior record (zeros for a user never seen)
        old = (
            np.frombuffer(state.get[0], dtype=USER_STATE)
            if state.exists
            else np.empty(0, dtype=USER_STATE)
        )
        pos = np.searchsorted(old["user_id"], users)
        seen = pos < len(old)
        seen[seen] = old["user_id"][pos[seen]] == users[seen]
        prior = np.zeros(len(users), dtype=USER_STATE)
        prior[seen] = old[pos[seen]]
        is_new_user = first & ~seen[row_user]

        prev_ts = np.empty_like(ts)
        prev_ts[1:] = ts[:-1]
        prev_ts[starts] = prior["last_ts"]
        split = is_new_user | ((ts - prev_ts) > gap_sec) | (etype == init_event_type)
        session_start = _ffill(
            split | first, np.where(split, ts, prior["session_start"][row_user])
        )
        purchase = etype == purchase_event_type
        cart_amt = _ffill(
            purchase | first, np.where(purchase, value, prior["cart_amt"][row_user])
        )

        # merge each touched user's last row back into the sorted records
        ends = np.append(starts[1:], n) - 1
        touched = np.empty(len(users), dtype=USER_STATE)
        touched["user_id"] = users
        touched["last_ts"] = ts[ends]
        touched["session_start"] = session_start[ends]
        touched["n_events"] = prior["n_events"] + (ends - starts + 1)
        touched["cart_amt"] = cart_amt[ends]
        new_pos = pos[~seen]
        merged = np.insert(old, new_pos, touched[~seen])
        # a seen user's record moved right by the new users inserted before it
        merged[pos[seen] + np.searchsorted(new_pos, pos[seen], side="right")] = touched[seen]
        state.update((merged.tobytes(),))

        session_id = pc.binary_join_element_wise(
            pc.cast(pa.array(uid), pa.string()),
            pc.cast(pa.array(session_start), pa.string()),
            "-",
        ).to_numpy(zero_copy_only=False)
        yield pd.DataFrame(
            {
                "event_id": eid,
                "user_id": uid,
                "ts_sec": ts,
                "event_type": etype,
                "value": value,
                "session_id": session_id,
                "is_new_user": is_new_user,
                "is_new_session": split,
                "cart_amt": cart_amt,
                "ctgry": "none",
            }
        )

    return fn


def sessionize_stream(events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC) -> DataFrame:
    """Apply the stateful sessionizer to a (streaming or batch-test)
    events DataFrame with columns event_id,user_id,ts_sec,event_type,
    value. Rows without a user_id or ts_sec cannot be keyed or ordered
    and are left out (``pipeline.with_quality_metrics`` counts them).
    Shuffles once on the user's hash bucket into the state store
    partitioning."""
    keyed = events.where("user_id IS NOT NULL AND ts_sec IS NOT NULL").selectExpr(
        "*", f"pmod(hash(user_id), {BUCKETS}) AS bucket"
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        make_bucket_fn(gap_sec),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The native-Spark alternative path (T2 without the init
    force-split): gap-based ``session_window`` aggregation. Works in
    batch and streaming (with a watermark upstream in streaming).

    Output bounds are epoch seconds for oracle comparability.
    """
    ts = F.timestamp_seconds(F.col("ts_sec"))
    win = F.session_window(ts, gap)
    return (
        events.withColumn("ts", ts)
        .groupBy(F.col("user_id"), win)
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_sec").alias("start_sec"),
            F.max("ts_sec").alias("end_sec"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id", "n_events", "start_sec", "end_sec", "sum_value"
        )
    )
