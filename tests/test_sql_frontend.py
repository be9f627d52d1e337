"""Ad-hoc SQL front-end: view-backed SQL must agree with the DataFrame
registry (same Catalyst plans underneath) and expose the canonical
ts_sec through events_ts."""

from __future__ import annotations

from msstreamingstack_spark.sql_frontend import register_tables, run_sql


def test_register_tables_exposes_all_views(spark, sf_smoke):
    names = register_tables(spark, sf_smoke)
    assert "events_ts" in names and len(names) == 10
    for n in names:
        assert spark.sql(f"SELECT * FROM {n} LIMIT 1").count() == 1


def test_sql_agrees_with_registry_query(spark, sf_correctness):
    from msstreamingstack_spark.queries import REGISTRY

    got = run_sql(
        spark,
        sf_correctness,
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
    ).collect()
    want = {
        (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
        for r in REGISTRY["tpch_q1"].builder(spark, sf_correctness).collect()
    }
    assert {(r[0], r[1]): r[2] for r in got} == want


def test_events_ts_view_carries_canonical_ts_sec(spark, sf_correctness):
    from msstreamingstack_spark.sources.tables import events_with_time

    got = run_sql(
        spark, sf_correctness,
        "SELECT MIN(ts_sec) AS mn, MAX(ts_sec) AS mx, COUNT(*) AS n FROM events_ts",
    ).head()
    ev = events_with_time(spark, sf_correctness)
    from pyspark.sql import functions as F

    want = ev.agg(
        F.min("ts_sec").alias("mn"), F.max("ts_sec").alias("mx"),
        F.count("*").alias("n"),
    ).head()
    assert tuple(got) == tuple(want)


def test_cli_sql(capsys):
    from msstreamingstack_spark.__main__ import main

    rc = main(["sql", "SELECT COUNT(*) AS n FROM region",
               "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    assert "5" in capsys.readouterr().out
