"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, index, size)``, so the same
seed gives byte-identical parquet files. The program under test only
ever sees the files written here.

Run as a script, this module is the open-loop ``live`` generator: a
single-threaded process that lands one parquet drop per fixed interval
into a watched directory, on a schedule that never waits for the
consumer. Each drop is written as a hidden temp file first and renamed
into place, so the file source never sees a partial parquet. One JSON
line per drop goes to the drop log::

    {"drop": k, "first_id": .., "n": .., "rate": .., "start": ..,
     "due": .., "landed": ..}

``start``/``due``/``landed`` are ``time.monotonic()`` seconds (one
clock for every process on the host). Event ``i`` of a drop of ``n``
events was created at ``start + (i + 0.5) * interval / n``: creation
stamps are spread across the interval, and the drop is flushed at its
end (``due``), the batch-then-flush loop of the reference producer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
T0_SEC = 1_704_067_200  # 2024-01-01T00:00:00Z, event-time origin
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
TYPE_P = np.array([0.50, 0.28, 0.10, 0.02, 0.10])

LIVE_USERS = 1_000_000
LIVE_ZIPF_A = 1.2
LIVE_TS_STEP_SEC = 2  # event time advances 2 s per event: in order


def _columns(rng: np.random.Generator, ids: np.ndarray, users: np.ndarray,
             ts_sec: np.ndarray) -> dict:
    n = len(ids)
    types = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n, p=TYPE_P)]
    value = np.round(rng.gamma(2.0, 30.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return {
        "event_id": ids,
        "ts": ts_sec,
        "user_id": users,
        "event_type": types,
        "value": value,
        "props": np.array([f'{{"k": {x}}}' for x in k]),
    }


def _nanos_table(cols: dict) -> pa.Table:
    """Events with int64-nanosecond ``ts`` (the paced-generator shape
    ``streaming.pipeline.read_event_stream`` dispatches on)."""
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"].astype(np.int64) * NS, pa.int64()),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def live_drop(seed: int, k: int, first_id: int, n: int) -> pa.Table:
    """Drop ``k`` of the live stream: Zipf-skewed users over a large
    population, event time in order."""
    rng = np.random.default_rng([seed, 1, k])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    users = (rng.zipf(LIVE_ZIPF_A, size=n) - 1) % LIVE_USERS
    return _nanos_table(_columns(rng, ids, users, T0_SEC + ids * LIVE_TS_STEP_SEC))


def backfill_file(seed: int, f: int, per_file: int, n_files: int) -> pa.Table:
    """File ``f`` of the backfill backlog: users uniform over a
    population half the backlog size (nearly one state group per event
    in each trigger), one second of event time per event so that a
    returning user's gap is often above 30 minutes."""
    rng = np.random.default_rng([seed, 2, f])
    first = f * per_file
    ids = np.arange(first, first + per_file, dtype=np.int64)
    users = rng.integers(0, max(per_file * n_files // 2, 1), size=per_file)
    return _nanos_table(_columns(rng, ids, users, T0_SEC + ids))


def analytics_events(seed: int, n: int = 100_000, users: int = 1_500,
                     days: int = 30) -> pa.Table:
    """The ``events`` table of the analytics workload, in the shape of
    the sf0.1 test tables: ``n`` events of ``users`` users over ``days``
    days, ``ts`` as TIMESTAMP(MICROS), sorted by time."""
    rng = np.random.default_rng([seed, 3])
    ts_us = np.sort(rng.integers(0, days * 86_400 * 1_000_000, size=n))
    ids = np.arange(n, dtype=np.int64)
    cols = _columns(rng, ids, rng.integers(0, users, size=n), ts_us)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(T0_SEC * 1_000_000 + ts_us, pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` to a hidden temp file beside ``path`` and rename
    it into place (the file source skips names starting with ``.``)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def drop_name(k: int) -> str:
    return f"drop-{k:05d}.parquet"


def live_schedule(rungs: list[int], drops_per_rung: int,
                  interval: float) -> list[tuple[int, int, int]]:
    """``(rung, rate, n_events)`` per drop after the warm-up drop."""
    return [
        (r, rate, int(round(rate * interval)))
        for r, rate in enumerate(rungs)
        for _ in range(drops_per_rung)
    ]


def _sleep_until(t: float) -> None:
    while True:
        dt = t - time.monotonic()
        if dt <= 0:
            return
        time.sleep(min(dt, 0.05))


def run_live_generator(seed: int, out_dir: str, log_path: str,
                       rungs: list[int], drops_per_rung: int,
                       interval: float, first_id: int, first_drop: int,
                       t_start: float) -> None:
    """Land the scheduled drops; drop ``first_drop + j`` covers
    ``[t_start + j*interval, t_start + (j+1)*interval)`` and is due at
    the end of it."""
    next_id = first_id
    with open(log_path, "a", buffering=1) as log:
        for j, (rung, rate, n) in enumerate(
            live_schedule(rungs, drops_per_rung, interval)
        ):
            k = first_drop + j
            start = t_start + j * interval
            due = start + interval
            path = os.path.join(out_dir, drop_name(k))
            tmp = os.path.join(out_dir, f".{drop_name(k)}.tmp")
            pq.write_table(live_drop(seed, k, next_id, n), tmp)  # before due
            _sleep_until(due)
            os.replace(tmp, path)
            landed = time.monotonic()
            log.write(json.dumps({
                "drop": k, "rung": rung, "rate": rate, "first_id": next_id,
                "n": n, "start": start, "due": due, "landed": landed,
            }) + "\n")
            next_id += n


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="open-loop live drop generator")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--rungs", required=True, help="comma-separated events/s")
    ap.add_argument("--drops-per-rung", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--first-drop", type=int, required=True)
    ap.add_argument("--t-start", type=float, required=True)
    a = ap.parse_args(argv)
    run_live_generator(
        a.seed, a.out, a.log, [int(x) for x in a.rungs.split(",")],
        a.drops_per_rung, a.interval, a.first_id, a.first_drop, a.t_start,
    )


if __name__ == "__main__":
    sys.exit(main())
