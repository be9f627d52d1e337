"""Self-tests of the benchmark; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import time

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from msstreamingstack_spark.operators.sessionize import sessionize_oracle_sql
from perfbench import gate, gen, stats


def test_percentile_needs_ten_samples_beyond_it():
    assert not stats.supported(99, 999)
    assert stats.supported(99, 1000)
    with pytest.raises(ValueError):
        stats.percentile(range(999), 99)
    assert stats.percentile(range(1, 1001), 99) == 990
    assert stats.tail(list(range(1000))) == (99.0, 989)
    q, _ = stats.tail(list(range(100)))
    assert q == 90 and stats.supported(q, 100) and not stats.supported(q + 1, 100)


def _bytes(table: pa.Table, path) -> bytes:
    gen.write_atomic(table, str(path))
    return path.read_bytes()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for make in (
        lambda s: gen.live_drop(s, 3, 1000, 500),
        lambda s: gen.backfill_file(s, 1, 800, 3),
        lambda s: gen.analytics_events(s, 5000),
    ):
        a = _bytes(make(7), tmp_path / "a.parquet")
        b = _bytes(make(7), tmp_path / "b.parquet")
        c = _bytes(make(8), tmp_path / "c.parquet")
        assert a == b and a != c
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".")]


def _events() -> pa.Table:
    return pa.concat_tables(
        [gen.live_drop(5, k, k * 400, 400) for k in range(3)]
        + [gen.backfill_file(5, 0, 600, 1).set_column(
            0, "event_id", pa.array(range(1200, 1800), pa.int64()))]
    )


def _oracle_output(events: pa.Table) -> pa.Table:
    """What a correct sink holds: the oracle's own session ids."""
    con = duckdb.connect()
    con.register("events", events)
    sql = sessionize_oracle_sql(gate.EVENTS_NANOS_CTE, init_pred="event_type = 'signup'",
                                select_cols="event_id, is_new")
    return con.execute(
        f"SELECT event_id, session_id, is_new = 1 AS is_new_session FROM ({sql})"
    ).arrow()


def test_session_gate_passes_oracle_output_and_counts_every_fault():
    events = _events()
    good = _oracle_output(events)
    res = gate.check_sessions(events, good)
    assert res["failed"] == 0 and res["attempted"] == events.num_rows
    assert 0 < pc.sum(good.column("is_new_session")).as_py() < good.num_rows

    sid = good.column("session_id").to_pylist()
    sid[17] = sid[17] + "x"  # planted session_id corruption
    bad = good.set_column(1, "session_id", pa.array(sid))
    assert gate.check_sessions(events, bad) == {**res, "failed": 1, "wrong": 1}

    new = good.column("is_new_session").to_pylist()
    new[3] = not new[3]
    flipped = good.set_column(2, "is_new_session", pa.array(new))
    assert gate.check_sessions(events, flipped)["wrong"] == 1

    lost = gate.check_sessions(events, good.slice(1))
    assert (lost["lost"], lost["failed"]) == (1, 1)
    dup = gate.check_sessions(events, pa.concat_tables([good, good.slice(5, 2)]))
    assert (dup["duplicated"], dup["failed"]) == (2, 2)

    no_flag = good.drop_columns(["is_new_session"])
    assert gate.check_sessions(events, flipped.drop_columns(["is_new_session"]))["failed"] == 0
    assert gate.check_sessions(events, no_flag)["failed"] == 0


def test_query_gate_matches_bags_and_catches_a_changed_value():
    events = gen.analytics_events(3, 2000)
    sql = "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id"
    con = duckdb.connect()
    con.register("events", events)
    want = con.execute(sql + " ORDER BY n DESC").arrow()
    con.close()
    ok = gate.check_queries(events, {"q": want, "approx": pa.table({"x": range(5)})},
                            {"q": sql, "approx": None})
    assert ok == {"attempted": 2, "failed": 0, "mismatched": []}
    n = want.column("n").to_pylist()
    n[0] += 1
    changed = want.set_column(1, "n", pa.array(n, pa.int64()))
    bad = gate.check_queries(events, {"q": changed, "approx": pa.table({"x": range(4)})},
                             {"q": sql, "approx": None})
    assert bad["failed"] == 2


def test_live_generator_lands_whole_drops_on_schedule(tmp_path):
    out, log = tmp_path / "src", tmp_path / "drops.jsonl"
    out.mkdir()
    gen.run_live_generator(9, str(out), str(log), [100, 200], 2, 0.05, 50, 1,
                           time.monotonic())
    drops = [json.loads(l) for l in log.read_text().splitlines()]
    assert [d["drop"] for d in drops] == [1, 2, 3, 4]
    assert [d["n"] for d in drops] == [5, 5, 10, 10]
    assert [d["first_id"] for d in drops] == [50, 55, 60, 70]
    assert all(d["landed"] >= d["due"] for d in drops)
    assert sorted(os.listdir(out)) == [gen.drop_name(k) for k in (1, 2, 3, 4)]
    got = pq.read_table(out / gen.drop_name(3))
    assert got.equals(gen.live_drop(9, 3, 60, 10))
