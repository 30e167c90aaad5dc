"""Process-tree CPU and memory from ``/proc`` (Linux only).

The tree is this process plus every descendant: the Spark JVM and the
Python workers it forks.  A background thread samples resident memory;
CPU is read at the two ends of the measured interval, counting the CPU
of children already reaped inside the tree through ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

__all__ = ["TreeSampler", "HostStamp", "descendants"]

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages, vsize) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    f = raw[raw.rindex(b")") + 2:].split()
    # fields after the comm: state ppid ... utime(11) stime(12) cutime(13)
    # cstime(14) ... vsize(20) rss(21), 0-based from the state field
    return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]), int(f[20])


def _tree(root: int) -> dict[int, tuple[int, int]]:
    """pid -> (cpu ticks, rss pages) for ``root`` and all descendants.

    A child whose address space reads as its parent's (the JVM
    starts helper processes with ``vfork``, and until the ``exec`` the
    child runs in the parent's memory: same size, and rss within 1% as
    the two are read at different instants) is given 0 rss pages, so
    memory is not counted twice."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ppid, cpu, rss, vsize = stats[pid]
            parent = stats.get(ppid)
            shared = (pid != root and parent is not None and parent[3] == vsize
                      and abs(parent[2] - rss) <= parent[2] // 100)
            out[pid] = (cpu, 0 if shared else rss)
            todo.extend(kids.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    return [p for p in _tree(root) if p != root]


class TreeSampler:
    """Measure CPU seconds and peak RSS of the process tree between
    ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.root = os.getpid()
        self.cpu_s = 0.0
        self.rss_peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0: dict[int, int] = {}

    def _cpu_ticks(self) -> dict[int, int]:
        return {pid: cpu for pid, (cpu, _) in _tree(self.root).items()}

    def _sample(self) -> None:
        rss = sum(r for _, r in _tree(self.root).values()) * _PAGE / 1e6
        self.rss_peak_mb = max(self.rss_peak_mb, rss)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "TreeSampler":
        self._cpu0 = self._cpu_ticks()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> "TreeSampler":
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        cpu1 = self._cpu_ticks()
        # a process alive at both ends contributes its difference, a new
        # one all of its ticks; one that exited was reaped by its parent in
        # the tree, whose cutime now holds its whole life, so take back
        # what it had used before the start
        ticks = (sum(c - self._cpu0.get(pid, 0) for pid, c in cpu1.items())
                 - sum(c for pid, c in self._cpu0.items() if pid not in cpu1))
        self.cpu_s = max(ticks, 0) / _TICK
        return self


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostStamp:
    """Load average and steal share over an interval: the host-epoch
    context printed beside every run's numbers."""

    def __init__(self) -> None:
        self._cpu0 = _cpu_line()

    def read(self) -> dict:
        cpu1 = _cpu_line()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
        return {"loadavg_1m": load[0], "loadavg_5m": load[1],
                "steal_share": round(delta[7] / total, 5) if len(delta) > 7 else 0.0,
                "nproc": len(os.sched_getaffinity(0))}
