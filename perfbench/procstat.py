"""CPU and resident memory of a process tree, read from /proc.

A local Spark run is one tree: this Python driver, the JVM it launches
(tasks run as JVM threads, JIT and GC threads included) and the Python
worker daemon with its forked workers. CPU is utime+stime of every live
member plus cutime+cstime, which holds the CPU of children that already
exited and were reaped, so a worker that ends inside a pass is still
counted once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int, proc: str) -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces or parentheses: split after its ")"
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name), proc)
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by the tree rooted at `root`."""
    ticks = 0
    for pid in tree_pids(root, proc):
        f = _stat_fields(pid, proc)
        if f is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    """Summed resident set of the tree (pages shared by forked workers
    are counted in each, as `ps` does)."""
    pages = 0
    for pid in tree_pids(root, proc):
        f = _stat_fields(pid, proc)
        if f is not None:
            pages += int(f[21])  # field 24 of stat: rss in pages
    return pages * _PAGE


class PeakRss:
    """Samples tree RSS on a background thread while open; `.peak` is
    the largest sample in bytes."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
