"""The workloads: ``live`` and ``backfill`` (streaming), ``analytics``
(batch queries).

Each one sets the engine up, measures, checks its outputs, and fills a
:class:`Run` with end-to-end results, per-layer numbers and details.
Calls into the program go only through its public functions:
``session.get_spark``, ``streaming.pipeline.run_pipeline`` (with
``use_rocksdb_state``), ``sinks.writers.TransactionalParquetSink`` and
``queries.REGISTRY[name].builder``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gate, gen, host
from perfbench.progress import data_triggers, layer_metrics
from perfbench.stats import median, tail
from perfbench.trace import Tracer

from msstreamingstack_spark.queries import REGISTRY
from msstreamingstack_spark.session import get_spark
from msstreamingstack_spark.sinks.writers import TransactionalParquetSink
from msstreamingstack_spark.streaming.pipeline import run_pipeline, use_rocksdb_state

# live: open loop, one drop per interval, a doubling ladder of rates
LIVE_INTERVAL_S = 3.0
LIVE_DROPS_PER_RUNG = 2
LIVE_BASE_RATE = 100  # events/s on the lowest rung
LIVE_P99_LIMIT_MS = 5000.0
# backfill: equal files over a near-distinct user population, drained on
# one core: on a 4-vCPU VM the drain with a worker per core spread 0.26 of
# its median across runs, more than any allowed bound; one core, 0.22
BACKFILL_CPUS = 1
BACKFILL_PER_FILE = 1200
BACKFILL_WARMUP_EVENTS = 300
# analytics: clickstream registry queries over an sf0.1-sized events table
ANALYTICS_QUERIES = (
    "sessionize_events", "session_summary", "funnel_conversion",
    "cohort_retention", "heavy_hitters_exact", "approx_distinct_users",
)
ANALYTICS_EVENTS = 100_000
WARMUP_EVENTS = 200
SETUPS = 3  # one cold set-up from process start, then warm restarts
DRAIN_TIMEOUT_S = 60.0


@dataclass
class Run:
    """Everything one benchmark run measures."""

    workload: str
    seed: int
    seconds: int
    work: str
    tracer: Tracer
    t_proc_start: float  # monotonic clock
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)
    setups: list = field(default_factory=list)
    progress: list = field(default_factory=list)  # StreamingQueryProgress dicts
    rss: host.RssSampler = field(default_factory=host.RssSampler)
    attempted: int = 0
    failed: int = 0
    spark: object = None

    def path(self, *parts: str) -> str:
        """A file path under the run's work dir, parent created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def gate(self, res: dict, what: str) -> None:
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        self.details[f"gate.{what}"] = res


# --- session ---------------------------------------------------------------
def start_engine(run: Run, cpus: int | None = None):
    """(Re)create the session; the first call's time is the cold one."""
    if run.spark is not None:
        run.spark.stop()
    t0 = time.monotonic()
    with run.tracer.span("session.get_spark", cpus=cpus):
        run.spark = get_spark(
            app_name="perfbench", cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                **host.java_tmp_conf(),
            },
        )
    run.spark.sparkContext.setLogLevel("ERROR")
    use_rocksdb_state(run.spark)
    run.layers.setdefault("session.get_spark_s", time.monotonic() - t0)
    return run.spark


def _resetups(run: Run, ready) -> None:
    """Repeat the set-up in-process (warm JVM) until SETUPS samples.
    Peak memory is taken up to here: while serving, not while two
    sessions' workers overlap during a restart."""
    run.rss.stop()
    while len(run.setups) < SETUPS:
        with run.tracer.span("session.restart"):
            run.setups.append(ready(f"setup{len(run.setups)}"))


# --- streaming -------------------------------------------------------------
class Stream:
    """One ``run_pipeline`` query with the benchmark's two sinks: a
    probe that collects ``event_id`` from the micro-batch ``fan_out``
    has persisted (this materializes source scan, shuffle and state
    function), then the program's ``TransactionalParquetSink``, timed
    by a wrapper. Batch records are keyed by batch id."""

    def __init__(self, run: Run, name: str, src: str) -> None:
        self.run = run
        self.src = src
        self.cp = run.dir(name, "cp")
        self.sink = TransactionalParquetSink(run.dir(name, "out"))
        self.batches: dict[int, dict] = {}
        self.done = threading.Condition()
        self.query = None

    def _probe(self, df, batch_id: int) -> None:
        t0 = time.monotonic()
        with self.run.tracer.span("stateful.compute", batch=batch_id):
            ids = df.select("event_id").toArrow().column(0).to_numpy()
        self.batches[batch_id] = {"ids": ids, "compute_ms": (time.monotonic() - t0) * 1e3}

    def _write(self, df, batch_id: int) -> None:
        redelivered = batch_id in self.sink.committed_ids()
        t0 = time.monotonic()
        with self.run.tracer.span("sinks.write", batch=batch_id):
            self.sink(df, batch_id)
        t1 = time.monotonic()
        with self.done:
            self.batches[batch_id].update(
                write_ms=(t1 - t0) * 1e3, done=t1, redelivered=redelivered)
            self.done.notify_all()

    def start(self, available_now: bool):
        t0 = time.monotonic()
        with self.run.tracer.span("session.stream_start"):
            self.query = run_pipeline(
                self.run.spark, self.src, self.cp, [self._probe, self._write],
                available_now=available_now,
            )
        self.run.layers.setdefault("session.stream_start_s", time.monotonic() - t0)
        return self.query

    def wait_committed(self, ids: np.ndarray, timeout: float) -> bool:
        """Block until every id in ``ids`` is in a committed batch."""
        want = set(ids.tolist())
        deadline = time.monotonic() + timeout
        with self.done:
            while True:
                for b in self.batches.values():
                    if "done" in b:
                        want.difference_update(b["ids"].tolist())
                if not want:
                    return True
                left = deadline - time.monotonic()
                if left <= 0 or self.query.exception() is not None:
                    return False
                self.done.wait(min(left, 0.2))

    def committed(self) -> pa.Table:
        return (self.sink.read_committed(self.run.spark)
                .select("event_id", "session_id", "is_new_session").toArrow())

    def consumer(self, first_id: int) -> int:
        """Id of the committed batch holding event ``first_id``."""
        for k, b in self.batches.items():
            if "done" in b and first_id in b["ids"]:
                return k
        raise KeyError(f"event {first_id} was never committed")

    def layer_metrics(self, files: list[dict]) -> dict:
        """Sink, probe and progress numbers; ``files`` are the input
        files with ``first_id`` and ``landed`` (monotonic) times."""
        done = [b for b in self.batches.values() if "done" in b]
        write = [b["write_ms"] for b in done]
        out = {
            "stateful.compute_ms_p50": median([b["compute_ms"] for b in done]),
            "sinks.write_ms_p50": median(write),
            "sinks.write_ms_tail": tail(write)[1] if len(write) >= 20 else max(write),
            "sinks.batches": len(done),
            "sinks.rows": int(sum(len(b["ids"]) for b in done)),
            "sinks.redelivered": sum(b["redelivered"] for b in done),
        }
        progress = list(self.query.recentProgress)
        self.run.progress.extend(progress)
        out.update(layer_metrics(progress))
        out.update(_pickup(files, [self.consumer(f["first_id"]) for f in files], progress))
        return out


def _pickup(files: list[dict], batch_of: list[int], progress: list) -> dict:
    """File landed -> consuming trigger started, and the most files
    ever waiting (landed, not yet picked up) when one lands."""
    wall_to_mono = time.monotonic() - time.time()
    start_of = {t["batchId"]: datetime.fromisoformat(t["timestamp"]).timestamp() + wall_to_mono
                for t in data_triggers(progress)}
    picked = [start_of.get(b) for b in batch_of]
    lag = [p - f["landed"] for p, f in zip(picked, files) if p is not None]
    pending = [sum(1 for e, p in zip(files, picked)
                   if e["landed"] <= f["landed"] and (p is None or p > f["landed"]))
               for f in files]
    return {"sources.pickup_lag_ms_p50": median(lag) * 1e3 if lag else float("nan"),
            "sources.files_pending_max": max(pending, default=0)}


def _ready_stream(run: Run, name: str, warm: pa.Table, cpus: int | None = None) -> float:
    """Set-up: get_spark, start a query on the warm-up drop ``warm``,
    wait for its batch to commit."""
    t0 = time.monotonic()
    start_engine(run, cpus)
    src = run.dir(name, "src")
    gen.write_atomic(warm, os.path.join(src, gen.drop_name(0)))
    s = Stream(run, name, src)
    s.start(available_now=True)
    ok = s.wait_committed(warm.column("event_id").to_numpy(), DRAIN_TIMEOUT_S)
    s.query.awaitTermination(DRAIN_TIMEOUT_S)
    if not ok:
        raise RuntimeError(f"warm-up batch of {name} never committed")
    return time.monotonic() - t0


def _registry_crosscheck(run: Run, events: pa.Table) -> None:
    """The batch sessionizer behind ``queries.REGISTRY`` over the same
    events must agree with the oracle too (batch/stream parity)."""
    sf = run.dir("sf")
    pq.write_table(events, os.path.join(sf, "events.parquet"))
    q = REGISTRY["sessionize_events"]
    t0 = time.monotonic()
    with run.tracer.span("queries.build", query=q.name):
        df = q.builder(run.spark, sf)
    t1 = time.monotonic()
    with run.tracer.span("queries.exec", query=q.name):
        got = df.select("event_id", "session_id").toArrow()
    t2 = time.monotonic()
    run.layers["queries.build_ms_sum"] = (t1 - t0) * 1e3
    run.layers["queries.exec_ms_sum"] = (t2 - t1) * 1e3
    run.layers["queries.sessionize_events_ms"] = (t2 - t0) * 1e3
    run.gate(gate.check_sessions(events, got), "registry_sessionize_events")


def _event_latency_ms(batches: dict, created: dict[int, float]) -> np.ndarray:
    """Latency of every event with a creation stamp: sink return of its
    batch minus its creation stamp."""
    out = []
    for b in batches.values():
        if "done" in b:
            c = np.array([created.get(i, np.nan) for i in b["ids"].tolist()])
            out.append((b["done"] - c[~np.isnan(c)]) * 1e3)
    return np.concatenate(out) if out else np.array([])


# --- live ------------------------------------------------------------------
def _rung_rates(seconds: int) -> list[int]:
    n = max(2, round(seconds / (LIVE_DROPS_PER_RUNG * LIVE_INTERVAL_S)))
    return [LIVE_BASE_RATE * 2 ** i for i in range(n)]


def _read_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.endswith("\n")]


def _created(drops: list[dict]) -> dict[int, float]:
    """Creation stamp of every event: spread evenly over its drop's
    interval, as the generator's batch-then-flush loop made them."""
    created = {}
    for d in drops:
        step = LIVE_INTERVAL_S / d["n"]
        for j in range(d["n"]):
            created[d["first_id"] + j] = d["start"] + (j + 0.5) * step
    return created


def _rung_report(drops: list[dict], batches: dict, rate: int) -> dict:
    """Latency and sustain verdict of one rung. Sustained: p99 (or the
    highest supported tail) within the limit and no growing backlog
    (the rung's last drop waits no longer than its first plus half an
    interval)."""
    lat = _event_latency_ms(batches, _created(drops))
    done = [batches[d["batch"]]["done"] for d in drops]
    wait = [t - d["due"] for t, d in zip(done, drops)]
    q, t = tail(lat)
    n = sum(d["n"] for d in drops)
    return {
        "rate": rate, "events": n, "samples": int(len(lat)),
        "p50_ms": float(np.median(lat)), "tail_q": q, "tail_ms": float(t),
        "delivered_eps": n / (max(done) - drops[0]["start"]),
        "drop_wait_s": wait,
        "sustained": bool(t <= LIVE_P99_LIMIT_MS
                          and wait[-1] <= wait[0] + LIVE_INTERVAL_S / 2),
    }


def live(run: Run) -> None:
    start_engine(run)
    src = run.dir("live", "src")
    warm = gen.live_drop(run.seed, 0, 0, WARMUP_EVENTS)
    gen.write_atomic(warm, os.path.join(src, gen.drop_name(0)))
    s = Stream(run, "live", src)
    s.start(available_now=False)
    if not s.wait_committed(warm.column("event_id").to_numpy(), DRAIN_TIMEOUT_S):
        raise RuntimeError("live warm-up batch never committed")
    run.setups.append(time.monotonic() - run.t_proc_start)

    # every rung runs, so every run measures the same ladder
    rates = _rung_rates(run.seconds)
    log_path = run.path("live", "drops.jsonl")
    t_start = time.monotonic() + 1.0
    ladder_s = len(rates) * LIVE_DROPS_PER_RUNG * LIVE_INTERVAL_S
    with run.tracer.span("sources.ladder"):
        gen_proc = subprocess.Popen([
            sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
            "--seed", str(run.seed), "--out", src, "--log", log_path,
            "--rungs", ",".join(map(str, rates)),
            "--drops-per-rung", str(LIVE_DROPS_PER_RUNG),
            "--interval", str(LIVE_INTERVAL_S), "--first-id", str(WARMUP_EVENTS),
            "--first-drop", "1", "--t-start", repr(t_start),
        ])
        try:
            rc = gen_proc.wait(timeout=ladder_s + 30)
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
                gen_proc.wait()
    if rc != 0:
        raise RuntimeError(f"live generator exited with {rc}")
    drops = _read_log(log_path)
    events = pa.concat_tables(
        [warm] + [gen.live_drop(run.seed, d["drop"], d["first_id"], d["n"]) for d in drops])
    with run.tracer.span("pipeline.drain", query="live"):
        drained = s.wait_committed(events.column("event_id").to_numpy(), DRAIN_TIMEOUT_S)
    s.query.stop()
    if not drained:
        raise RuntimeError("live: landed drops were not all committed in time")

    for d in drops:
        d["batch"] = s.consumer(d["first_id"])
    rungs = [_rung_report([d for d in drops if d["rung"] == r], s.batches, rate)
             for r, rate in enumerate(rates)]
    run.layers.update(s.layer_metrics(drops))
    run.layers["sources.gen_late_ms_max"] = max(d["landed"] - d["due"] for d in drops) * 1e3
    run.layers["sources.rows"] = events.num_rows
    ok = [g for g in rungs if g["sustained"]]
    lat = _event_latency_ms(s.batches, _created(drops))
    q, t = tail(lat)
    run.e2e.update(p50_ms=float(np.median(lat)), tail_ms=t,
                   throughput_eps=rungs[-1]["delivered_eps"])
    run.details.update({
        "live.tail_q": q, "live.rungs": rungs,
        "live.sustained_eps": ok[-1]["delivered_eps"] if ok else None,
        "live_p50_ms.low": rungs[0]["p50_ms"], "live_p99_ms.low": rungs[0]["tail_ms"],
        "live_p50_ms.high": rungs[-1]["p50_ms"], "live_p99_ms.high": rungs[-1]["tail_ms"],
    })

    with run.tracer.span("gate"):
        run.gate(gate.check_sessions(events, s.committed()), "stream")
        _registry_crosscheck(run, events)
    _resetups(run, lambda name: _ready_stream(run, name, warm))


# --- backfill --------------------------------------------------------------
def _backfill_files(seconds: int) -> int:
    """An odd file count, so the median event sits inside a batch."""
    return max(3, seconds // 6) | 1


def _stage_backlog(run: Run, n_files: int) -> tuple[str, pa.Table]:
    src = run.dir("backlog")
    tables = []
    for f in range(n_files):
        t = gen.backfill_file(run.seed, f, BACKFILL_PER_FILE, n_files)
        path = os.path.join(src, gen.drop_name(f))
        gen.write_atomic(t, path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))  # drain order
        tables.append(t)
    return src, pa.concat_tables(tables)


def _drain(run: Run, src: str, name: str) -> tuple[float, float, Stream]:
    s = Stream(run, name, src)
    t0 = time.monotonic()
    with run.tracer.span("pipeline.drain", query=name):
        s.start(available_now=True)
        s.query.awaitTermination()
    if s.query.exception() is not None:
        raise RuntimeError(f"{name} query failed: {s.query.exception()}")
    return t0, time.monotonic() - t0, s


def backfill(run: Run) -> None:
    n_files = _backfill_files(run.seconds)
    src, events = _stage_backlog(run, n_files)
    # a warm-up file of the same shape (own stream, own users) brings the
    # Python worker and the state store up to speed before the timed drain
    warm = gen.backfill_file(run.seed + 1, 0, BACKFILL_WARMUP_EVENTS, n_files)
    _ready_stream(run, "warmup", warm, BACKFILL_CPUS)
    run.setups.append(time.monotonic() - run.t_proc_start)

    t0, wall, s = _drain(run, src, "drain")
    n = events.num_rows
    lat = _event_latency_ms(s.batches, dict.fromkeys(events.column("event_id").to_pylist(), t0))
    q, t = tail(lat)
    run.e2e.update(p50_ms=float(np.median(lat)), tail_ms=t, throughput_eps=n / wall)
    run.details.update({"backfill.tail_q": q, "backfill_eps": n / wall, "backfill.cpus": BACKFILL_CPUS})
    files = [{"first_id": f * BACKFILL_PER_FILE, "landed": t0} for f in range(n_files)]
    run.layers.update(s.layer_metrics(files))
    run.layers["sources.rows"] = n

    with run.tracer.span("gate"):
        run.gate(gate.check_sessions(events, s.committed()), "stream")
        _registry_crosscheck(run, events)
    _resetups(run, lambda name: _ready_stream(run, name, warm, BACKFILL_CPUS))

    if run.tracer.enabled:  # the same drain with a worker per core
        _ready_stream(run, "warmup_all", warm)
        _, wall_all, s_all = _drain(run, src, "drain_all_cores")
        run.layers["backfill.eps_all_cores"] = n / wall_all
        run.gate(gate.check_sessions(events, s_all.committed()), "stream_all_cores")


# --- analytics -------------------------------------------------------------
def _one_pass(run: Run, sf: str, results: dict | None) -> dict[str, float]:
    """Build and run every listed query once; forced with a ``noop``
    write, or collected into ``results`` for the gate."""
    times = {}
    for name in ANALYTICS_QUERIES:
        t0 = time.monotonic()
        with run.tracer.span("queries.build", query=name):
            df = REGISTRY[name].builder(run.spark, sf)
        t1 = time.monotonic()
        with run.tracer.span("queries.exec", query=name):
            if results is None:
                df.write.format("noop").mode("overwrite").save()
            else:
                results[name] = df.toArrow()
        t2 = time.monotonic()
        run.layers["queries.build_ms_sum"] += (t1 - t0) * 1e3
        run.layers["queries.exec_ms_sum"] += (t2 - t1) * 1e3
        times[name] = (t2 - t0) * 1e3
    return times


def analytics(run: Run) -> None:
    sf = run.dir("sf")
    events = gen.analytics_events(run.seed, ANALYTICS_EVENTS)
    pq.write_table(events, os.path.join(sf, "events.parquet"))
    start_engine(run)
    run.setups.append(time.monotonic() - run.t_proc_start)
    run.layers.update({"sources.rows": events.num_rows,
                       "queries.build_ms_sum": 0.0, "queries.exec_ms_sum": 0.0})

    results: dict = {}  # the cold pass collects every result for the gate
    t0 = time.monotonic()
    with run.tracer.span("analytics.pass", kind="cold"):
        _one_pass(run, sf, results)
    first_s = time.monotonic() - t0

    per_query: dict[str, list[float]] = {n: [] for n in ANALYTICS_QUERIES}
    pass_s = []
    for i in range(max(3, run.seconds // 4)):
        t0 = time.monotonic()
        with run.tracer.span("analytics.pass", kind="warm", i=i):
            for name, ms in _one_pass(run, sf, None).items():
                per_query[name].append(ms)
        pass_s.append(time.monotonic() - t0)
    # one operation is a pass over the list: typical = warm, worst = cold
    run.e2e.update(p50_ms=median(pass_s) * 1e3, tail_ms=first_s * 1e3,
                   throughput_eps=events.num_rows * len(ANALYTICS_QUERIES) / median(pass_s))
    run.details.update({"analytics_pass_s": median(pass_s), "analytics_first_pass_s": first_s,
                        "analytics.passes_s": pass_s})
    for name, xs in per_query.items():
        run.layers[f"queries.{name}_ms"] = median(xs)

    with run.tracer.span("gate"):
        run.gate(gate.check_queries(
            events, results, {n: REGISTRY[n].oracle for n in results}), "analytics")

    def ready(name: str) -> float:
        t0 = time.monotonic()
        start_engine(run)
        return time.monotonic() - t0

    _resetups(run, ready)


WORKLOADS = {"live": live, "backfill": backfill, "analytics": analytics}
