"""Resident memory and CPU time of a process tree, read from /proc.

The engine's work happens in the driver JVM and the Python workers it
forks; both are measured as the tree rooted at the JVM.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid) -> list[bytes]:
    """/proc/<pid>/stat fields from the state on (field 3); the command
    name before them may hold spaces."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        stat = f.read()
    return stat[stat.rindex(b")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(d)[1])
        except OSError:  # the process ended while we listed /proc
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its descendants,
    including children they have reaped. Time the host steals from
    this machine is not in it, which is what makes it steadier than
    wall time on a shared host."""
    ticks = 0
    for pid in _tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def engine_cpu_seconds(spark) -> float:
    """CPU seconds so far of the session's JVM and its Python workers."""
    return tree_cpu_seconds(spark.sparkContext._gateway.proc.pid)


class PeakRss:
    """Background sampler: ``with PeakRss(pid) as p: ...; p.peak``
    is the largest tree RSS seen (bytes) while the block ran."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
