"""End-to-end CLI test: produce drops → consume (availableNow) →
history sink has every event, sessionized — the reference's
producer+consumer run loop (README.md run commands) as one in-process
round trip."""

from __future__ import annotations

import pytest

import os

from msstreamingstack_spark.__main__ import main


@pytest.mark.slow
def test_produce_consume_roundtrip(spark, tmp_path):
    drops = str(tmp_path / "drops")
    hist = str(tmp_path / "hist")
    cp = str(tmp_path / "cp")

    rc = main(
        [
            "produce", "--out", drops,
            "--batches", "4", "--batch-size", "5", "--gap-sec", "2400",
        ]
    )
    assert rc == 0
    assert len(os.listdir(drops)) == 4

    rc = main(
        [
            "consume", "--source", drops, "--checkpoint", cp,
            "--parquet-out", hist, "--once",
        ]
    )
    assert rc == 0

    from msstreamingstack_spark.sinks.writers import TransactionalParquetSink

    out = TransactionalParquetSink(hist).read_committed(spark)
    assert out.count() == 20  # every produced event reached the sink
    assert "session_id" in out.columns
    # consume always runs on RocksDB; the offset log records the provider
    with open(os.path.join(cp, "cp", "offsets", "0")) as fh:
        assert "RocksDBStateStoreProvider" in fh.read()


def test_paced_produce_writes_the_same_drops(tmp_path):
    """``produce --sleep`` writes the drops unpaced ``produce`` writes:
    the same file names, the same rows, and no temp file left over."""
    import pyarrow.parquet as pq

    args = ["--batches", "3", "--batch-size", "4"]
    assert main(["produce", "--out", str(tmp_path / "fast"), *args]) == 0
    paced = ["--sleep", "0.01"]
    assert main(["produce", "--out", str(tmp_path / "paced"), *args, *paced]) == 0
    names = sorted(os.listdir(tmp_path / "fast"))
    assert names == [f"drop-{b:05d}.parquet" for b in range(3)]
    assert sorted(os.listdir(tmp_path / "paced")) == names
    for name in names:
        fast = pq.read_table(tmp_path / "fast" / name)
        assert pq.read_table(tmp_path / "paced" / name).equals(fast), name


def test_second_produce_adds_drops_after_the_first(tmp_path):
    """A second ``produce`` into the same directory keeps every drop of
    the first and numbers its files and event ids after them."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "drops")
    args = ["--batches", "2", "--batch-size", "3"]
    assert main(["produce", "--out", out, *args]) == 0
    first = {n: pq.read_table(os.path.join(out, n)) for n in os.listdir(out)}
    assert main(["produce", "--out", out, *args, "--gap-sec", "9000"]) == 0
    names = sorted(os.listdir(out))
    assert names == [f"drop-{b:05d}.parquet" for b in range(4)]
    for name, table in first.items():
        assert pq.read_table(os.path.join(out, name)).equals(table), name
    ids = [i for n in names for i in pq.read_table(os.path.join(out, n))["event_id"].to_pylist()]
    assert sorted(ids) == list(range(12))


def test_query_subcommand_runs_and_unknown_rejected(spark, capsys):
    rc = main(["query", "tpch_q1", "--sf-dir", "/root/testdata/sf0.001", "--rows", "3"])
    assert rc == 0
    rc = main(["query", "no_such_query_xyz"])
    assert rc == 2


def test_cli_mv_and_compact(tmp_path, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from msstreamingstack_spark.__main__ import main

    # small event drop (generator-encoded int64-nanos ts)
    from msstreamingstack_spark.sources.generator import drop_batches

    drops = str(tmp_path / "drops")
    drop_batches(drops, n_batches=2, batch_size=6, t0_sec=1_700_000_000)

    mv = str(tmp_path / "mv")
    rc = main(["mv", "--source", drops, "--mv", mv,
               "--checkpoint", str(tmp_path / "cp")])
    assert rc == 0
    assert pq.read_table(mv).num_rows > 0

    dst = str(tmp_path / "mv_compact")
    rc = main(["compact", "--src", mv, "--dst", dst, "--target-mb", "64"])
    assert rc == 0
    assert "compacted" in capsys.readouterr().out
    assert pq.read_table(dst).num_rows == pq.read_table(mv).num_rows


@pytest.mark.slow
def test_cli_verify_subset(tmp_path):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "msstreamingstack_spark", "verify",
         "--names", "tpch_q1,heavy_hitters_exact",
         "--sf-dir", "/root/testdata/sf0.01"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "2/2 queries match" in r.stdout


def test_cli_verify_unknown_name():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "msstreamingstack_spark", "verify",
         "--names", "no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2


def test_plan_cli(capsys):
    rc = main(["plan", "tpch_q6_forecast_revenue",
               "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    out = capsys.readouterr().out
    import json

    payload = json.loads(out)
    assert payload["query"] == "tpch_q6_forecast_revenue"
    assert payload["pushed_filters"], "q6's scan filters must be pushed"
    assert payload["python_evals"] == 0
    assert main(["plan", "no_such_query"]) == 2
