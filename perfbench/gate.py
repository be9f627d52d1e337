"""Correctness gate: every workload's outputs against a reference.

* Streaming: the events committed by ``TransactionalParquetSink`` must
  hold each generated event exactly once, with the ``session_id`` and
  ``is_new_session`` the DuckDB twin of the batch sessionizer
  (``operators.sessionize.sessionize_oracle_sql``) gives over the same
  generated events.
* Analytics: each query's result must equal its registry ``oracle`` run
  in DuckDB, value for value; a query without one is checked by row
  count.

An operation (an event, or a query run) that fails any check counts in
``failed``.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from msstreamingstack_spark.operators.sessionize import sessionize_oracle_sql

EVENTS_NANOS_CTE = (
    "SELECT event_id, user_id, event_type, ts // 1000000000 AS ts_sec FROM events"
)


def check_sessions(events: pa.Table, committed: pa.Table) -> dict:
    """Compare committed output (``event_id``, ``session_id`` and, when
    present, ``is_new_session``) with the oracle over ``events``
    (int64-nanos ``ts``). Returns counts of lost, duplicated, phantom
    and wrong events; ``failed`` is the number of events failing any
    check."""
    has_new = "is_new_session" in committed.column_names
    if not has_new:
        committed = committed.append_column(
            "is_new_session", pa.nulls(committed.num_rows, pa.bool_()))
    con = duckdb.connect()
    try:
        con.register("events", events)
        # take() copies into fresh buffers: DuckDB misreads the bit offset
        # of a sliced Arrow boolean column
        committed = committed.select(["event_id", "session_id", "is_new_session"])
        con.register("committed", committed.take(pa.array(range(committed.num_rows))))
        oracle = sessionize_oracle_sql(
            EVENTS_NANOS_CTE, init_pred="event_type = 'signup'",
            select_cols="event_id, is_new",
        )
        lost, dup, wrong, failed, phantom = con.execute(f"""
WITH o AS ({oracle}),
c AS (SELECT event_id, COUNT(*) AS copies,
             MIN(session_id) AS sid_lo, MAX(session_id) AS sid_hi,
             BOOL_AND(is_new_session) AS new_lo, BOOL_OR(is_new_session) AS new_hi
      FROM committed GROUP BY event_id),
j AS (SELECT c.copies IS NULL AS lost, COALESCE(c.copies > 1, FALSE) AS dup,
             c.copies IS NOT NULL AND (
               c.sid_lo IS DISTINCT FROM o.session_id
               OR c.sid_hi IS DISTINCT FROM o.session_id
               OR ({has_new} AND (c.new_lo IS DISTINCT FROM (o.is_new = 1)
                                  OR c.new_hi IS DISTINCT FROM (o.is_new = 1)))) AS wrong
      FROM o LEFT JOIN c USING (event_id))
SELECT COUNT(*) FILTER (WHERE lost), COUNT(*) FILTER (WHERE dup),
       COUNT(*) FILTER (WHERE wrong), COUNT(*) FILTER (WHERE lost OR dup OR wrong),
       (SELECT COUNT(*) FROM c ANTI JOIN o USING (event_id))
FROM j
""").fetchone()
    finally:
        con.close()
    return {"attempted": events.num_rows, "failed": failed + phantom,
            "lost": lost, "duplicated": dup, "wrong": wrong, "phantom": phantom}


def same_result(got: pa.Table, con: duckdb.DuckDBPyConnection, sql: str) -> bool:
    """Spark result ``got`` equals DuckDB's ``sql`` result as a bag of
    rows (``EXCEPT ALL`` both ways), columns matched by name."""
    con.register("got", got)
    try:
        want_cols = [c[0] for c in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
        if sorted(want_cols) != sorted(got.column_names):
            return False
        cols = ", ".join(f'"{c}"' for c in sorted(want_cols))
        n_got = got.num_rows
        n_want, extra, missing = con.execute(f"""
WITH want AS ({sql})
SELECT (SELECT COUNT(*) FROM want),
       (SELECT COUNT(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)),
       (SELECT COUNT(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got))
""").fetchone()
        return n_got == n_want and extra == 0 and missing == 0
    finally:
        con.unregister("got")


def check_queries(events: pa.Table, results: dict[str, pa.Table],
                  oracles: dict[str, str | None]) -> dict:
    """Each query result against its oracle over ``events``; a query
    without one (engine-specific sketch values) must return one row per
    event type."""
    con = duckdb.connect()
    try:
        con.register("events", events)
        n_types = con.execute("SELECT COUNT(DISTINCT event_type) FROM events").fetchone()[0]
        bad = [name for name, got in results.items()
               if not (same_result(got, con, oracles[name]) if oracles[name] is not None
                       else got.num_rows == n_types)]
    finally:
        con.close()
    return {"attempted": len(results), "failed": len(bad), "mismatched": bad}
