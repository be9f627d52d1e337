"""Benchmark entry point: one workload, one run, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload live --seed 1 --seconds 18 --trace 0

It sets the engine's host settings, builds the workload's inputs from
``--seed``, measures, checks the outputs, prints every metric by name
with its unit, and ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics and writes spans, per-trigger
progress and every per-layer number under ``.perfbench/trace/``.
Scratch data lives in ``.perfbench/`` and is removed after the run.
The exit code is 0 only if the run completed and every output was
correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.getcwd()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _pick(spec_metrics: list[dict], got: dict) -> dict:
    missing = [m["name"] for m in spec_metrics
               if not math.isfinite(got.get(m["name"], math.nan))]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]}
            for m in spec_metrics}


def _jsonable(x):
    if isinstance(x, dict):
        return {k: _jsonable(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_jsonable(v) for v in x]
    if hasattr(x, "item"):
        return x.item()
    return x


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it; its Python workers
    exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _trace_overhead(results_path: str, workload: str, seconds: int, e2e: dict) -> dict:
    """Traced e2e numbers against the median of this checkout's earlier
    untraced runs of the same workload and length, as a share."""
    from perfbench.stats import median

    past = []
    if os.path.exists(results_path):
        with open(results_path) as f:
            past = [r for r in map(json.loads, f) if r["workload"] == workload
                    and r["seconds"] == seconds and not r["trace"]]
    return {k: v / median([r["e2e"][k] for r in past]) - 1.0
            for k, v in e2e.items() if past and all(k in r["e2e"] for r in past)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "msstreamingstack_spark", "__init__.py")):
        _fail(f"no msstreamingstack_spark package under {ROOT}; run from a checkout root")
    sys.path.insert(0, ROOT)
    from perfbench import host

    t_wall0 = host.process_start_wall()
    t_mono0 = time.monotonic() - (time.time() - t_wall0)
    spec = _spec()
    base = os.path.join(ROOT, ".perfbench")
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(base, "work", run_id)
    pinned = host.pin(work)

    from perfbench.stats import median
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if a.workload not in WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    run = Run(a.workload, a.seed, a.seconds, work, Tracer(bool(a.trace), run_id), t_mono0)
    load_before, ticks_before = host.loadavg(), host.cpu_ticks()
    run.rss.start()
    try:
        with run.tracer.span("workload", workload=a.workload, seed=a.seed):
            WORKLOADS[a.workload](run)
        run.layers["host.calib_cpu_ms"] = host.calibrate_cpu_ms(run.spark)
    finally:
        run.rss.stop()
        if run.spark is not None:
            run.spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    load_after = host.loadavg()
    ticks = {k: v - ticks_before[k] for k, v in host.cpu_ticks().items()}
    run.e2e["setup_s"] = median(run.setups)
    run.layers["host.peak_rss_mb"] = run.rss.peak / 2**20
    run.layers["session.restart_s"] = median(run.setups[1:])

    correct = run.failed == 0 and run.attempted > 0
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "e2e": run.e2e, "correct": correct,
        "attempted": run.attempted, "failed": run.failed,
        "failed_frac": run.failed / max(run.attempted, 1),
        "setups_s": run.setups,
        "host": {**pinned, "load_before": load_before, "load_after": load_after,
                 "steal_share": ticks["steal"] / max(sum(ticks.values()), 1),
                 "calib_cpu_ms": run.layers["host.calib_cpu_ms"]},
        "details": run.details,
    }
    os.makedirs(base, exist_ok=True)
    results_path = os.path.join(base, "results.jsonl")
    if a.trace:
        record["trace_overhead"] = _trace_overhead(results_path, a.workload, a.seconds, run.e2e)
        record["layers"] = run.layers
        tdir = os.path.join(base, "trace")
        os.makedirs(tdir, exist_ok=True)
        run.tracer.dump(os.path.join(tdir, f"{run_id}.spans.jsonl"))
        with open(os.path.join(tdir, f"{run_id}.progress.json"), "w") as f:
            json.dump(run.progress, f, default=str)
        with open(os.path.join(tdir, f"{run_id}.layers.json"), "w") as f:
            json.dump(_jsonable(record), f, indent=1, default=str)
    with open(results_path, "a") as f:
        f.write(json.dumps(_jsonable(record), default=str) + "\n")

    metrics = _pick(spec["per_layer"] if a.trace else spec["end_to_end"],
                    {**run.e2e, **run.layers})
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} failed_frac = {record['failed_frac']:.6g} "
          f"({run.failed}/{run.attempted})")
    print(f"{a.workload} details = {json.dumps(_jsonable(run.details), default=str)}")
    print(f"{a.workload} host = {json.dumps(record['host'])}")
    if a.trace:
        print(f"{a.workload} layers = {json.dumps(_jsonable(run.layers), default=str)}")
        print(f"{a.workload} trace_overhead = {json.dumps(record['trace_overhead'])}")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
