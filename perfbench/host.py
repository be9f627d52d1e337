"""Host pinning, host-speed probe and process-tree memory sampling.

Everything here is recorded with each result so runs on different
hosts, or on one host under different load, can be told apart.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin(work_dir: str) -> dict:
    """Fix the engine's host-dependent settings before the JVM starts.

    ``SPARK_GRAFT_CPUS`` is the CPUs this process may run on;
    ``SPARK_DRIVER_MEM`` stays well below physical RAM (the engine's
    default heap is sized for a large box); local and temp dirs live in
    the benchmark's work dir, so a run writes nowhere else."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(3, _mem_total_bytes() // (4 << 30)))
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return env


def java_tmp_conf() -> dict[str, str]:
    """Point the JVM's temp dir at the benchmark's own."""
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time so far (``/proc/stat``), in clock ticks; the
    ``steal`` share of a run's delta is time the hypervisor gave to
    other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def calibrate_cpu_ms(spark) -> float:
    """Fixed, data-independent JVM fold, best of three (the host-speed
    probe pattern of the repo's batch benchmark, at a quarter of its
    size)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1 << 25).selectExpr("sum(id * 3 + 1)").write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def process_start_wall() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS on a daemon thread between
    ``start`` and ``stop``; ``peak`` is the largest sample seen."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling (idempotent); returns the peak in bytes."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
