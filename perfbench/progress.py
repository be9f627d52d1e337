"""Per-trigger ``StreamingQueryProgress`` → ``pipeline.*``/``stateful.*``.

Reads only what Spark itself reports for each micro-batch:
``durationMs`` (trigger phases), ``numInputRows`` and
``stateOperators[0]`` with its RocksDB ``customMetrics``.
"""

from __future__ import annotations

from perfbench.stats import median, tail

PHASES = {
    "trigger": "triggerExecution",
    "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
    "add_batch": "addBatch",
}
ROCKSDB_SYNC = "rocksdbCommitFileSyncLatencyMs"


def data_triggers(progress: list) -> list[dict]:
    """Triggers that processed input, in batch order, one per batch id
    (the last report wins)."""
    by_batch = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            by_batch[p["batchId"]] = p
    return [by_batch[b] for b in sorted(by_batch)]


def _stats(name: str, xs: list[float], out: dict) -> None:
    """p50, tail (p99 when 20+ samples support a tail, else the max) and
    sum; Spark reports whole milliseconds, so sums keep more digits."""
    if xs:
        out[f"{name}_p50"] = median(xs)
        out[f"{name}_tail"] = tail(xs)[1] if len(xs) >= 20 else max(xs)
        out[f"{name}_sum"] = sum(xs)


def layer_metrics(progress: list) -> dict:
    """``pipeline.*`` and ``stateful.*`` numbers over the data triggers."""
    trig = data_triggers(progress)
    out: dict = {"pipeline.triggers": len(trig)}
    dur = [t["durationMs"] for t in trig]
    for short, key in PHASES.items():
        _stats(f"pipeline.{short}_ms", [float(d.get(key, 0)) for d in dur], out)
    # trigger time outside addBatch: offsets, planning, WAL and commits
    _stats("pipeline.overhead_ms",
           [float(d.get("triggerExecution", 0) - d.get("addBatch", 0)) for d in dur], out)
    ops = [t["stateOperators"][0] for t in trig if t.get("stateOperators")]
    if ops:
        update_ms = sum(float(o.get("allUpdatesTimeMs", 0)) for o in ops)
        updated = sum(int(o.get("numRowsUpdated", 0)) for o in ops)
        out["stateful.update_ms_sum"] = update_ms
        out["stateful.rows_updated"] = updated
        out["stateful.us_per_group"] = 1000.0 * update_ms / max(updated, 1)
        _stats("stateful.commit_ms", [float(o.get("commitTimeMs", 0)) for o in ops], out)
        _stats("stateful.rocksdb_sync_ms",
                 [float(o.get("customMetrics", {}).get(ROCKSDB_SYNC, 0)) for o in ops], out)
        out["stateful.rows_updated_per_trigger_p50"] = median(
            [int(o.get("numRowsUpdated", 0)) for o in ops])
        out["stateful.state_rows"] = int(ops[-1].get("numRowsTotal", 0))
        out["stateful.state_memory_bytes"] = int(ops[-1].get("memoryUsedBytes", 0))
        # update time is summed over the state partitions, which run in
        # parallel: compare it with trigger time times partitions
        parts = int(ops[-1].get("numShufflePartitions", 1)) or 1
        trigger_ms = sum(float(t["durationMs"].get("triggerExecution", 0)) for t in trig)
        out["stateful.update_share_of_trigger"] = update_ms / max(trigger_ms * parts, 1.0)
    rows = [int(t["numInputRows"]) for t in trig]
    if rows:
        out["sources.rows_per_trigger_p50"] = median(rows)
    return out
