"""Paced event generator — the producer side of the reference
(App.scala:29-50 + GetProducerAPI.scala: file → micro-batched Kafka
sends, 3 records per 5 s). Here: deterministic event batches dropped
as parquet files for the file-stream source; the pacing knobs
(batch_size, sleep_sec) mirror the reference's counter+sleep loop.
With a Kafka broker, swap the writer for ``df.write.format("kafka")``
— the batching logic is identical.
"""

from __future__ import annotations

import os
import re
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NS = 1_000_000_000

DROP_NAME = re.compile(r"drop-(\d+)\.parquet")

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def event_batch(start_id: int, n: int, t0_sec: int, step_sec: int = 5):
    """Deterministic batch of n events (round-robin users/types)."""
    rows = []
    for i in range(n):
        eid = start_id + i
        rows.append(
            {
                "event_id": eid,
                "ts": (t0_sec + i * step_sec) * NS,
                "user_id": eid % 25,
                "event_type": EVENT_TYPES[eid % len(EVENT_TYPES)],
                "value": float((eid * 7) % 100),
                "props": '{"k": %d}' % (eid % 10),
            }
        )
    return rows


def _continue_after(out_dir: str) -> tuple[int, int]:
    """(next drop index, next event id) for ``out_dir``: one past its
    highest ``drop-NNNNN.parquet`` and one past the highest ``event_id``
    in its visible parquet files (0, 0 for an empty directory)."""
    names = [
        n for n in os.listdir(out_dir)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]
    drops = [int(m[1]) for n in names if (m := DROP_NAME.fullmatch(n))]
    ids = [
        pc.max(pq.read_table(os.path.join(out_dir, n), columns=["event_id"])[0]).as_py()
        for n in names
    ]
    return (
        max(drops, default=-1) + 1,
        max((i for i in ids if i is not None), default=-1) + 1,
    )


def drop_batches(
    out_dir: str,
    n_batches: int = 3,
    batch_size: int = 3,
    t0_sec: int = 0,
    gap_sec: int = 300,
    sleep_sec: float = 0.0,
) -> list[str]:
    """Write n_batches parquet drops (the producer's '3 records then
    flush' loop, App.scala:40-44), sleeping ``sleep_sec`` between drops
    (its Thread.sleep, App.scala:45-48). Each drop is written to a
    hidden temp file and renamed into place, so a running stream never
    lists a half-written file. Drops already in ``out_dir`` are kept:
    file numbers and event ids continue after theirs, since the file
    source never re-reads a path it has seen. Returns the new file
    paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    first_drop, first_id = _continue_after(out_dir)
    paths = []
    for b in range(n_batches):
        if b and sleep_sec > 0:
            time.sleep(sleep_sec)
        rows = event_batch(
            start_id=first_id + b * batch_size,
            n=batch_size,
            t0_sec=t0_sec + b * gap_sec,
        )
        name = f"drop-{first_drop + b:05d}.parquet"
        path = os.path.join(out_dir, name)
        tmp = os.path.join(out_dir, f".{name}.tmp")
        pq.write_table(
            pa.table(
                {
                    k: pa.array([r[k] for r in rows],
                                pa.int64() if k in ("event_id", "ts", "user_id")
                                else pa.float64() if k == "value"
                                else pa.string())
                    for k in ("event_id", "ts", "user_id", "event_type", "value", "props")
                }
            ),
            tmp,
        )
        os.replace(tmp, path)
        paths.append(path)
    return paths
