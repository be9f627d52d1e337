"""Streaming heavy hitters: the bucketed space-saving state must be
bit-equal to an independent sequential model over the same
batch-then-event_id order, and honor the classic frequent-items
guarantees (overestimate bounded by err; any key above n/capacity
tracked)."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from msstreamingstack_spark.streaming.heavy_hitters import (
    bucket_hash,
    bucket_hash_sql,
    run_heavy_hitters_stream,
    top_k,
)

SF = "/root/testdata/sf0.001"
N_BUCKETS, CAPACITY = 8, 4


def _bucket(k: str, n_buckets: int = N_BUCKETS) -> int:
    return int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % n_buckets


def test_bucket_hash_matches_duckdb(spark):
    """Spark's bucket hash, its DuckDB twin and the Python model
    ``_bucket`` agree bit-exactly."""
    import duckdb
    from pyspark.sql import functions as F

    words = ["the", "stream fast", "row", "", "query group", "små"]
    sdf = spark.createDataFrame([(w,) for w in words], "g string").select(
        "g", bucket_hash(F.col("g"), 1024).alias("b")
    )
    got = {r["g"]: r["b"] for r in sdf.collect()}
    con = duckdb.connect()
    for w in words:
        exp = con.execute(f"SELECT {bucket_hash_sql('?', 1024)}", [w]).fetchone()[0]
        assert got[w] == exp == _bucket(w, 1024), w
    con.close()


def model_spacesaving(stream, capacity):
    """Independent sequential space-saving: stream of string keys →
    {key: (est, err)}; eviction ties on (count, key) ascending."""
    keys, counts, errs = [], [], []
    for v in stream:
        if v in keys:
            counts[keys.index(v)] += 1
        elif len(keys) < capacity:
            keys.append(v)
            counts.append(1)
            errs.append(0)
        else:
            j = min(range(len(keys)), key=lambda i: (counts[i], keys[i]))
            errs[j] = counts[j]
            keys[j] = v
            counts[j] += 1
    return {k: (c, e) for k, c, e in zip(keys, counts, errs)}


@pytest.fixture(scope="module")
def hh_run(spark, tmp_path_factory):
    """sf0.001 events split into two time-ordered drops (strictly
    increasing mtimes — the file-source ordering contract), streamed
    once through the sketch; yields (final snapshot rows, the two
    event_id-ordered chunks)."""
    src = pq.read_table(os.path.join(SF, "events.parquet")).to_pandas()
    src = src.sort_values("ts").reset_index(drop=True)
    drops = tmp_path_factory.mktemp("hh_drops")
    half = (len(src) + 1) // 2
    chunks = [src.iloc[:half], src.iloc[half:]]
    for i, chunk in enumerate(chunks):
        p = drops / f"drop-{i}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        mt = 1_700_000_000 + i * 10
        os.utime(p, (mt, mt))
    out = tmp_path_factory.mktemp("hh_out")
    cp = tmp_path_factory.mktemp("hh_cp")
    q = run_heavy_hitters_stream(
        spark,
        str(drops),
        str(out),
        str(cp),
        k=10_000,  # sink keeps everything — tests slice as needed
        n_buckets=N_BUCKETS,
        capacity=CAPACITY,
    )
    q.awaitTermination(120)
    batches = sorted(os.listdir(str(out)))
    rows = spark.read.parquet(os.path.join(str(out), batches[-1])).collect()
    return rows, [c.sort_values("event_id") for c in chunks]


def test_stream_state_equals_sequential_model(hh_run):
    rows, chunks = hh_run
    got = {r["key"]: (r["est"], r["err"]) for r in rows}
    per_bucket = {b: [] for b in range(N_BUCKETS)}
    for chunk in chunks:
        for uid in chunk["user_id"]:
            k = str(int(uid))
            per_bucket[_bucket(k)].append(k)
    want = {}
    for b, stream in per_bucket.items():
        want.update(model_spacesaving(stream, CAPACITY))
    assert got == want


def test_sketch_guarantees_hold(hh_run):
    rows, chunks = hh_run
    truth = Counter(
        str(int(uid)) for chunk in chunks for uid in chunk["user_id"]
    )
    tracked = {r["key"] for r in rows}
    for r in rows:
        t = truth[r["key"]]
        assert t <= r["est"] <= t + r["err"], r
    # every key above its bucket's n/capacity must be tracked
    bucket_n = Counter()
    for k, c in truth.items():
        bucket_n[_bucket(k)] += c
    for k, c in truth.items():
        if c > bucket_n[_bucket(k)] / CAPACITY:
            assert k in tracked, (k, c)


def test_top_k_rollup_orders_and_bounds(spark, hh_run):
    rows, _ = hh_run
    snap = spark.createDataFrame(rows)
    out = top_k(snap, 5).collect()
    assert len(out) == 5
    ests = [r["est"] for r in out]
    assert ests == sorted(ests, reverse=True)
    # deterministic tiebreak: equal estimates ordered by key asc
    for a, b in zip(out, out[1:]):
        if a["est"] == b["est"]:
            assert a["key"] < b["key"]
