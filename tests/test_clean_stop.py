"""Stopping a running pipeline query is a clean stop, and the query
restarts from its checkpoint with exactly-once output.

``StreamingQuery.stop()`` interrupts the stream execution thread while
a ``foreachBatch`` call may be in flight. On the JVM's default thread
stack, Spark's interruption check overflowed and the thread died with
``java.lang.StackOverflowError`` (``session.DRIVER_THREAD_STACK``). The
driver runs in a subprocess: the option only takes effect when
``get_spark`` starts the JVM, and its stderr is where the error shows.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from msstreamingstack_spark.operators.sessionize import sessionize_oracle_sql
from msstreamingstack_spark.session import DRIVER_THREAD_STACK

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_JAVA_OPT = "-Dmsstreamingstack.clean_stop=1"

# argv: mode ("sleep" or "job"), work dir, the caller's Java option
DRIVER = r"""
import json, os, sys, threading, time

from msstreamingstack_spark.session import get_spark
from msstreamingstack_spark.sinks.writers import TransactionalParquetSink
from msstreamingstack_spark.sources.generator import drop_batches
from msstreamingstack_spark.streaming.pipeline import run_pipeline, use_rocksdb_state

mode, work, caller_opt = sys.argv[1:4]
spark = get_spark(app_name="clean-stop", cpus=4,
                  extra_conf={"spark.driver.extraJavaOptions": caller_opt})
use_rocksdb_state(spark)
src, cp = os.path.join(work, "drops"), os.path.join(work, "cp")
drop_batches(src, n_batches=3, batch_size=40)
sink = TransactionalParquetSink(os.path.join(work, "out"))
entered = threading.Event()

def stalling(df, batch_id):
    entered.set()
    if mode == "sleep":
        time.sleep(3)
    sink(df, batch_id)  # "job": straight into the sink's toArrow job

q = run_pipeline(spark, src, cp, [stalling], available_now=False)
assert entered.wait(300), "the first micro-batch never reached the sink"
q.stop()
run_pipeline(spark, src, cp, [sink], available_now=True).awaitTermination(300)
rows = sink.read_committed(spark).select("event_id", "session_id", "is_new_session").collect()
jvm = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "conf": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"),
    "jvm_args": list(jvm.getInputArguments()),
    "rows": [list(r) for r in rows],
}))
"""


def _oracle(drops: str) -> dict[int, tuple[str, bool]]:
    sql = sessionize_oracle_sql(
        f"SELECT event_id, user_id, event_type, ts // 1000000000 AS ts_sec"
        f" FROM read_parquet('{drops}/*.parquet')",
        init_pred="event_type = 'signup'",
        select_cols="event_id, is_new",
    )
    return {e: (s, n == 1) for e, n, s in duckdb.connect().execute(sql).fetchall()}


@pytest.mark.slow
@pytest.mark.parametrize("mode", ["sleep", "job"])
def test_stop_during_sink_is_clean_and_restarts_exactly_once(tmp_path, mode):
    """``q.stop()`` while the sink sleeps in Python (``sleep``) or runs
    its ``toArrow`` job (``job``): no ``StackOverflowError``, the
    thread-stack option and the caller's own Java option both reach the
    driver JVM, and a restart from the checkpoint drains to the oracle's
    sessions, each event committed once."""
    proc = subprocess.run(
        [sys.executable, "-W", "ignore", "-c", DRIVER, mode, str(tmp_path), CALLER_JAVA_OPT],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert "StackOverflowError" not in proc.stderr
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    for opt in (DRIVER_THREAD_STACK, CALLER_JAVA_OPT):
        assert opt in got["conf"].split(), got["conf"]
        assert opt in got["jvm_args"], got["jvm_args"]
    committed = {e: (s, n) for e, s, n in got["rows"]}
    assert len(committed) == len(got["rows"]) == 120
    assert committed == _oracle(str(tmp_path / "drops"))
