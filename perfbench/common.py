"""Shared plumbing for the benchmark workloads: run context, host
fingerprint, process-tree CPU/RSS accounting from ``/proc``, percentile
helpers and the Spark session lifecycle.

Nothing here imports the engine at module load, so ``run.py`` can report
a missing engine as an error instead of crashing on import.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class RunContext:
    """Everything a workload needs from the command line and the host."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    cores: int
    scale: str = "full"  # "full" (benchmark) or "tiny" (smoke test)
    details: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


@dataclass
class Outcome:
    """What a workload returns: check results plus both metric sets."""

    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float]
    errors: list[str] = field(default_factory=list)


# -- statistics ---------------------------------------------------------------


def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100]; 0.0 for no samples."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, int(-(-q * len(vals) // 100)) - 1))
    return float(vals[k])


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


# -- host ---------------------------------------------------------------------


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg_1m() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def first_touch_gbps(seconds: float = 0.5, chunk_mb: int = 64) -> float:
    """Rate at which fresh pages can be faulted in and written: each
    chunk is a new mapping (large numpy buffers are mmap-backed and
    returned on free), so every byte written is a first touch."""
    import numpy as np

    n = chunk_mb << 20
    done = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        buf = np.empty(n, dtype=np.uint8)
        buf.fill(1)
        done += n
        del buf
    return done / (time.perf_counter() - t0) / 1e9


# -- process tree accounting --------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is
    # space-separated starting with field 3 (state).
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree.  utime+stime of each
    live process plus cutime+cstime (its reaped children), so a worker
    that exited is still counted once, by its parent."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak_mb`` is the
    highest sum seen while running.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# -- Spark session lifecycle --------------------------------------------------


def start_spark(ctx: RunContext, app: str):
    """Engine session pinned to this host.  The traced run adds an
    uncompressed event log (the default zstd codec cannot be read
    without the ``zstandard`` module)."""
    from kafka_bigdata_jobs_spark.session import apply_runtime_conf, get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.local.dir": ctx.path("local"),
    }
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
        })
    spark = get_spark(app, shuffle_partitions=ctx.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_conf(spark)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: force it down
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap_children(timeout_s: float = 15.0) -> list[int]:
    """Wait for every descendant to exit; kill stragglers.  Returns the
    pids that had to be killed."""
    import signal

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left:
            return []
        time.sleep(0.2)
    killed = [p for p in tree_pids() if p != os.getpid()]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in killed:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass
    return killed
