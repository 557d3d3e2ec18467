"""Process-tree CPU and RSS from ``/proc``.

Spark's executor CPU counter does not see Python worker processes, so
CPU seconds here come from the kernel: ``utime + stime`` of every live
process in the tree rooted at this process (the benchmark, the JVM that
PySpark launched, its Python daemon and workers), plus ``cutime +
cstime`` — the CPU of children each of them has already reaped. A worker
that exits is reaped by the daemon, so its CPU moves into the daemon's
``cutime`` and stays counted.

``TreeSampler`` polls the tree's summed RSS on a background thread and
keeps the peak.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of ``pid``, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _statm(pid: int) -> tuple[int, int] | None:
    """(virtual size, resident) pages of ``pid``, or None."""
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            size, resident = f.read().split()[:2]
    except OSError:
        return None
    return int(size), int(resident)


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the tree, reaped children included."""
    total = 0.0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total


def tree_rss_bytes() -> int:
    """Summed RSS of the tree. A child the JVM spawns shares the JVM's
    address space until it execs and reports the same (size, resident)
    pair; counting such an entry once keeps the heap from doubling."""
    seen = {st for st in map(_statm, tree_pids()) if st is not None}
    return sum(resident for _size, resident in seen) * _PAGE


class TreeSampler:
    """Background poller of the tree's summed RSS; ``peak_bytes`` is the max."""

    def __init__(self, interval_s: float):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
