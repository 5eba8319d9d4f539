"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this process and every descendant: the driver JVM that PySpark
launches and the Python workers that the JVM forks. A process that has
exited and been reaped by its parent is still counted, through the
parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats():
    """``pid -> (ppid, cpu ticks incl. reaped children, rss pages)``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # Field 2 (comm) may hold spaces; everything after its ')' is split.
        rest = raw[raw.rindex(")") + 2:].split()
        ppid = int(rest[1])
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(entry)] = (ppid, ticks, int(rest[21]))
    return out


def _tree(stats, root):
    kids = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
    return seen


def tree_cpu_s():
    """User plus system CPU seconds used so far by this process's tree."""
    stats = _stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid())) / _TICK


def tree_rss_mb():
    """Resident memory of this process's tree now, in MB."""
    stats = _stats()
    pages = sum(stats[p][2] for p in _tree(stats, os.getpid()))
    return pages * _PAGE / 2**20


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds while
    running, and keeps the peak."""

    def __init__(self, interval=0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return False
