"""Host side of a run: engine settings fitted to this machine, capacity
probes, and CPU and memory of the benchmark's process tree (the
Python driver, the JVM it launches and the JVM's Python workers), read
from ``/proc``."""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

# The inputs are small, and a capped heap keeps the JVM's share of
# peak_rss_mb from swinging with G1's heap growth (it spread by ~1 GB
# between runs of a 3g heap).
DRIVER_MEM = "1g"
# C1 only: a run is too short for C2 to reach steady state, and its
# compile threads took about half the JVM's CPU, at random moments,
# competing with the tasks for the host's few cores. No code cache
# flushing: about 50 s after start the sweeper flushed "cold" compiled
# methods, and recompiling them made the pass that followed ~10 s of CPU
# dearer and its estimate calls up to 1.8x slower.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing"


def engine_settings(root: str, work: str) -> dict:
    """Environment for the engine, fitted to this host; applied to
    ``os.environ`` and returned so the output records it.

    ``get_spark`` defaults to 32 cores and a 16g driver, more than this
    class of host has; Spark's Python workers import ``hdfe_spark``, so
    the checkout root goes on ``PYTHONPATH``; scratch space stays
    inside the checkout."""
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": root,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    os.environ.update(settings)
    return settings


# ------------------------------------------------------------------ probes

SINGLE_TASK_MAX_S = 0.3  # band on this 4-core host class: 0.13-0.2 s
MIN_PARALLEL_SHARE = 0.5  # of nproc cores granted


def _probe_task(seed: int) -> float:
    a = np.random.default_rng(seed).standard_normal(400_000)
    for _ in range(40):
        a = np.tanh(a) + 0.1 * a
    return float(a[0])


def capacity_probe() -> dict:
    """Single-task speed and granted parallelism: one elementwise numpy
    task (GIL released, single-threaded), then ``2 * nproc`` of them on
    ``nproc`` threads. In band when the single task is no slower than
    the band and at least half the cores are granted."""
    n = len(os.sched_getaffinity(0))
    single = []
    for seed in range(2):
        t0 = time.perf_counter()
        _probe_task(seed)
        single.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n) as ex:
        list(ex.map(_probe_task, range(2 * n)))
    par = time.perf_counter() - t0
    eff = 2 * n * min(single) / par
    return {
        "single_task_s": min(single),
        "parallel_s": par,
        "effective_parallelism": eff,
        "nproc": n,
        "in_band": min(single) <= SINGLE_TASK_MAX_S and eff >= MIN_PARALLEL_SHARE * n,
    }


def cpu_jiffies() -> tuple[int, int]:
    """``(busy, steal)`` clock ticks of all CPUs since boot, from
    ``/proc/stat``. Steal is time a virtual CPU wanted to run while the
    hypervisor ran another guest; it stretches wall time and is not
    counted in any process's CPU time."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the time our CPUs wanted to run that the host stole."""
    busy, steal = end[0] - start[0], end[1] - start[1]
    return steal / (busy + steal) if busy + steal else 0.0


# ------------------------------------------------------------ process tree

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped
    children, so exited workers keep counting through their parent."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 1e6


RSS_EVERY_S = 0.1
RSS_RESCAN_S = 2.0


class RssPeak:
    """Samples the tree's summed RSS every ``RSS_EVERY_S`` on a thread
    until stopped. The tree is re-listed every ``RSS_RESCAN_S`` (a full
    /proc scan), so sampling stays cheap for the interpreter it shares."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, listed = [], float("-inf")
        while not self._stop.is_set():
            if time.monotonic() - listed >= RSS_RESCAN_S:
                pids, listed = tree_pids(self.root), time.monotonic()
            self.peak = max(self.peak, rss_mb(pids))
            self._stop.wait(RSS_EVERY_S)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mb(tree_pids(self.root)))
