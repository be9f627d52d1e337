"""The bucketed sessionizer kernel, called directly with a stand-in
``GroupState`` — no streaming query, so these stay in the fast tier.

The kernel's output must not depend on how Spark chunks a bucket's
micro-batch, and over several micro-batches it must reproduce the
DuckDB oracle (``sessionize_oracle_sql``) on every output column.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from msstreamingstack_spark.operators.sessionize import (
    DEFAULT_GAP_SEC,
    sessionize_oracle_sql,
)
from msstreamingstack_spark.streaming.stateful import (
    OUTPUT_SCHEMA,
    USER_STATE,
    make_bucket_fn,
)

COLS = ["event_id", "user_id", "ts_sec", "event_type", "value"]


class FakeGroupState:
    """The part of ``GroupState`` the kernel uses."""

    def __init__(self):
        self._value = None

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self) -> tuple:
        return self._value

    def update(self, value: tuple) -> None:
        self._value = tuple(value)


def _run(chunks: list[pd.DataFrame], state: FakeGroupState) -> pd.DataFrame:
    """One kernel call for one bucket; output sorted by event_id."""
    (out,) = make_bucket_fn()((0,), iter(chunks), state)
    assert list(out.columns) == [f.name for f in OUTPUT_SCHEMA.fields]
    return out.sort_values("event_id").reset_index(drop=True)


def _events() -> pd.DataFrame:
    """Hand-made edge cases plus random users.

    * user 1: gaps of exactly DEFAULT_GAP_SEC (no split), then +1 s more
      (split);
    * user 2: three events at the same second whose event ids run
      against file order (ties broken by event_id), a signup force-split
      inside a session, and purchases carried forward;
    * users 100..139: random gaps (0, the exact gap, gap + 1, short),
      random types, event ids a random permutation.
    """
    g = DEFAULT_GAP_SEC
    rows = [
        (10, 1, 1000, "view", 0.0),
        (11, 1, 1000 + g, "view", 0.0),
        (12, 1, 1000 + 2 * g, "purchase", 5.0),
        (13, 1, 1000 + 3 * g + 1, "view", 0.0),
        (22, 2, 5000, "purchase", 3.0),
        (21, 2, 5000, "view", 0.0),
        (20, 2, 5000, "signup", 0.0),
        (23, 2, 5100, "signup", 0.0),
        (24, 2, 5200, "purchase", 7.5),
        (25, 2, 5300, "view", 0.0),
    ]
    rng = np.random.default_rng(7)
    steps = np.array([0, g, g + 1, 1, 60, 900])
    types = np.array(["view", "click", "purchase", "signup"])
    for u in range(100, 140):
        t = int(rng.integers(0, 20_000))
        for _ in range(int(rng.integers(1, 12))):
            t += int(rng.choice(steps))
            et = str(rng.choice(types, p=[0.5, 0.2, 0.2, 0.1]))
            rows.append((0, u, t, et, round(float(rng.uniform(1, 100)), 2) if et == "purchase" else 0.0))
    df = pd.DataFrame(rows, columns=COLS)
    rand = df["event_id"] == 0
    df.loc[rand, "event_id"] = 1000 + rng.permutation(int(rand.sum()))
    return df


def _micro_batches(df: pd.DataFrame, n: int = 3) -> list[pd.DataFrame]:
    """Split by event time into ``n`` micro-batches; a batch edge never
    splits a timestamp, so arrival order never has to break a tie."""
    seconds = np.sort(df["ts_sec"].unique())
    edges = [seconds[len(seconds) * i // n] for i in range(1, n)]
    bins = np.searchsorted(edges, df["ts_sec"].to_numpy(), side="right")
    return [df[bins == i] for i in range(n)]


def _oracle(df: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("ev", df)
    sql = sessionize_oracle_sql(
        "SELECT * FROM ev",
        init_pred="event_type = 'signup'",
        select_cols="event_id, is_new",
    )
    got = con.execute(sql).df()
    extra = con.execute(
        """
        SELECT event_id,
               row_number() OVER w = 1 AS is_new_user,
               coalesce(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                        OVER (w ROWS UNBOUNDED PRECEDING), 0.0) AS cart_amt
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        """
    ).df()
    return got.merge(extra, on="event_id").sort_values("event_id").reset_index(drop=True)


def test_kernel_matches_oracle_over_micro_batches():
    ev = _events()
    batches = _micro_batches(ev)
    per_user = pd.concat([b["user_id"].drop_duplicates() for b in batches]).value_counts()
    assert (per_user > 1).sum() >= 5, "the data should carry users across micro-batches"
    state = FakeGroupState()
    outs = []
    for batch in batches:
        half = len(batch) // 2  # two chunks, the later rows first
        outs.append(_run([batch.iloc[half:], batch.iloc[:half]], state))
    got = pd.concat(outs, ignore_index=True).sort_values("event_id").reset_index(drop=True)
    want = _oracle(ev)

    assert len(got) == len(ev) and got["event_id"].tolist() == want["event_id"].tolist()
    assert got["session_id"].tolist() == want["session_id"].tolist()
    assert got["is_new_session"].tolist() == (want["is_new"] == 1).tolist()
    assert got["is_new_user"].tolist() == want["is_new_user"].tolist()
    assert got["cart_amt"].tolist() == want["cart_amt"].tolist()
    assert set(got["ctgry"]) == {"none"}
    # every row's passthrough columns survive the reorder
    back = got.merge(ev, on="event_id", suffixes=("", "_in"))
    for c in ("user_id", "ts_sec", "event_type", "value"):
        assert back[c].tolist() == back[f"{c}_in"].tolist(), c

    # the named edge cases, spelled out
    by_id = got.set_index("event_id")
    assert by_id.loc[[10, 11, 12], "session_id"].tolist() == ["1-1000"] * 3  # gap == 1800
    assert by_id.loc[13, "is_new_session"]  # gap == 1801
    assert by_id.loc[20, "is_new_user"] and not by_id.loc[[21, 22], "is_new_user"].any()
    assert by_id.loc[22, "cart_amt"] == 3.0 and by_id.loc[23, "cart_amt"] == 3.0
    assert by_id.loc[23, "session_id"] == "2-5100"  # signup force-split

    # final state: one record per user, sorted, with the user's totals
    users = np.frombuffer(state.get[0], dtype=USER_STATE)
    assert users["user_id"].tolist() == sorted(ev["user_id"].unique().tolist())
    assert users["n_events"].tolist() == ev.groupby("user_id").size().sort_index().tolist()
    last = got.sort_values(["user_id", "ts_sec", "event_id"]).groupby("user_id").last()
    assert users["last_ts"].tolist() == last["ts_sec"].tolist()
    assert users["cart_amt"].tolist() == last["cart_amt"].tolist()


def test_chunk_order_does_not_change_output():
    """A bucket delivered as several Arrow chunks in adverse order (the
    latest events first, each user split across chunks) gives the same
    rows and the same state as one time-ordered chunk."""
    ev = _events().sort_values(["ts_sec", "event_id"]).reset_index(drop=True)
    ordered_state = FakeGroupState()
    ordered = _run([ev], ordered_state)

    rev = ev.iloc[::-1]
    chunks = [rev.iloc[i : i + 7] for i in range(0, len(rev), 7)]
    chunked_state = FakeGroupState()
    chunked = _run(chunks, chunked_state)

    pd.testing.assert_frame_equal(chunked, ordered)
    assert chunked_state.get == ordered_state.get


def test_kernel_yields_non_empty_frames_of_the_output_dtypes():
    """PySpark's ``ApplyInPandasWithStateSerializer`` appends a zero-row,
    all-None pad frame to the kernel's frames before ``pd.concat``, and
    that pad alone makes pandas warn that concatenation with empty or
    all-NA entries is deprecated. The kernel's own frames are never
    empty and already carry ``OUTPUT_SCHEMA``'s numpy dtypes, so a dtype
    change a later pandas brings can only come from that pad."""
    import pyspark.sql.types as T

    numpy_dtype = {
        T.LongType: np.int64, T.DoubleType: np.float64, T.BooleanType: np.bool_,
        T.StringType: np.object_,
    }
    fn = make_bucket_fn()
    state = FakeGroupState()
    assert list(fn((0,), iter([_events().iloc[:0]]), state)) == []
    assert not state.exists
    for batch in [*_micro_batches(_events()), _events().iloc[:1]]:
        (out,) = fn((0,), iter([batch]), state)
        assert len(out) == len(batch) > 0
        assert {f.name: out[f.name].dtype for f in OUTPUT_SCHEMA.fields} == {
            f.name: np.dtype(numpy_dtype[type(f.dataType)]) for f in OUTPUT_SCHEMA.fields
        }

