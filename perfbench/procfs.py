"""Process-tree readings from /proc: CPU of the Python UDF workers, RSS of
the whole tree, and the host-noise markers (clock anchors, ext_cores)."""

from __future__ import annotations

import os
import threading
import time

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _all_procs() -> dict[int, tuple]:
    """pid -> (ppid, comm, utime+stime, cutime+cstime, rss_pages)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # raced a process exit
        head, rest = raw.rsplit(")", 1)
        comm = head.split("(", 1)[1]
        v = rest.split()
        # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21
        procs[int(d)] = (int(v[1]), comm, int(v[11]) + int(v[12]),
                         int(v[13]) + int(v[14]), int(v[21]))
    return procs


def _tree(procs: dict[int, tuple], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in procs.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
            stack.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant: the live ones'
    own time plus the time of those their parents reaped."""
    procs = _all_procs()
    return sum(procs[p][2] + procs[p][3] for p in _tree(procs, os.getpid())) / CLK


def pyworker_cpu_s() -> float:
    """CPU seconds of the Python worker processes below the JVM. A worker
    that exited was reaped by the pyspark daemon, so its time sits in the
    daemon's cutime: live time plus reaped-children time counts each
    second once."""
    procs = _all_procs()
    me = os.getpid()
    total = 0
    for p in _tree(procs, me):
        ppid, comm, own, reaped, _ = procs[p]
        if p != me and comm.startswith("python"):
            total += own + reaped
    return total / CLK


def tree_rss_bytes() -> int:
    procs = _all_procs()
    return sum(procs[p][4] for p in _tree(procs, os.getpid())) * PAGE


class RssSampler:
    """Peak RSS of the whole process tree, sampled on a daemon thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


# ------------------------------------------------------- host-noise markers
# The same probes as the repo's bench.py: a GIL-bound pure-python loop and
# a 512x512 GEMM (one BLAS thread here, as the run pins BLAS threads).
# A host slowed by co-tenants reads slower on both; ext_cores is the busy
# CPU of the host that is not this process tree.

def pyloop_s() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def gemm_s() -> float:
    import numpy as np

    a = np.random.default_rng(0).standard_normal((512, 512))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ a).sum()
        best = min(best, time.perf_counter() - t0)
    return best


def _host_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs; busy excludes idle, iowait and
    steal, the time a hypervisor ran someone else on our CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - vals[3] - vals[4] - steal, steal


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot."""
    return _host_ticks()[1] / CLK


def anchors() -> dict:
    return {"pyloop_s": pyloop_s(), "gemm_s": gemm_s()}


class LoadWindow:
    """Host load over a window. ``ext_cores``: busy cores that are not
    this process tree; children that exit inside the window drop out of
    the tree sum, so the figure errs high, the safe side for a 'was the
    host loaded' flag. ``steal_cores``: cores taken by the hypervisor."""

    def __init__(self):
        self.t = time.monotonic()
        self.host = _host_ticks()
        self.tree = tree_cpu_s()

    def close(self) -> dict:
        wall = max(time.monotonic() - self.t, 1e-9)
        busy, steal = _host_ticks()
        ours = max(0.0, tree_cpu_s() - self.tree)
        return {"ext_cores": max(0.0, ((busy - self.host[0]) / CLK - ours) / wall),
                "steal_cores": (steal - self.host[1]) / CLK / wall}
