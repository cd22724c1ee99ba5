"""Process-tree CPU and memory from ``/proc`` (no psutil).

CPU of a tree is the sum, over every live process in it, of its own
user+system time plus ``cutime``/``cstime``: the time of children it has
already reaped. Adding the reaped-children time keeps the CPU of Python
workers that exited between two snapshots; without it a delta can go
negative. A child that has exited but is not yet reaped is a zombie and
still shows its own times, so nothing is counted twice.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # utime + stime
    child_cpu_s: float  # cutime + cstime (reaped children)
    rss_bytes: int


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None  # exited between listing and reading
    # comm may hold spaces and parentheses: split at the last ')'
    lpar, rpar = stat.index("("), stat.rindex(")")
    fields = stat[rpar + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        comm=stat[lpar + 1 : rpar],
        cpu_s=(utime + stime) / _TICK,
        child_cpu_s=(cutime + cstime) / _TICK,
        rss_bytes=int(fields[21]) * _PAGE,
    )


def tree(root: int) -> dict[int, Proc]:
    """Every live process descending from ``root``, ``root`` included."""
    procs: dict[int, Proc] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (p := _read(int(name))) is not None:
            procs[p.pid] = p
            children.setdefault(p.ppid, []).append(p.pid)
    out: dict[int, Proc] = {}
    frontier = [root] if root in procs else []
    while frontier:
        pid = frontier.pop()
        out[pid] = procs[pid]
        frontier.extend(children.get(pid, []))
    return out


@dataclass(frozen=True)
class CpuSnapshot:
    """CPU-seconds so far of the benchmark's process tree, split into the
    driver (this Python process), the JVM with any helper processes it
    forks, and the JVM's Python descendants (daemon and workers)."""

    driver_s: float
    jvm_s: float
    python_s: float

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.python_s

    def __sub__(self, other: CpuSnapshot) -> CpuSnapshot:
        return CpuSnapshot(
            self.driver_s - other.driver_s,
            self.jvm_s - other.jvm_s,
            self.python_s - other.python_s,
        )


def cpu_snapshot(root: int, jvm_pid: int | None) -> CpuSnapshot:
    procs = tree(root)
    drv = procs[root]
    if jvm_pid is None or jvm_pid not in procs:
        return CpuSnapshot(drv.cpu_s + drv.child_cpu_s, 0.0, 0.0)
    jvm_s = python_s = 0.0
    for p in tree(jvm_pid).values():
        # exited Python workers land in the Python daemon's cutime; other
        # helpers the JVM forks (e.g. Hadoop's shell commands) in the JVM's
        if p.comm.startswith("python"):
            python_s += p.cpu_s + p.child_cpu_s
        else:
            jvm_s += p.cpu_s + p.child_cpu_s
    return CpuSnapshot(drv.cpu_s + drv.child_cpu_s, jvm_s, python_s)


class RssSampler:
    """Background sampler of the tree's total resident memory; keeps the
    peak. Started and stopped by its owner (use as a context manager)."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        rss = sum(p.rss_bytes for p in tree(self.root).values())
        self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
