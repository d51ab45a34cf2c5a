"""CPU seconds and resident memory of a process tree, read from /proc.

The Spark JVM is a child of the benchmark process and the PySpark Python
workers are children of the JVM, so "the JVM plus its Python workers" is
every descendant of the benchmark process (the benchmark process itself is
excluded). psutil is not available, so this reads /proc/<pid>/stat directly.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces or parentheses: split after the
        # last ')' (fields then start at field 3, "state")
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _TICK, int(fields[21]) * _PAGE)
    return out


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over every descendant of `root`.

    CPU includes the time of children each process has reaped, so a Python
    worker that exits between two readings is still counted once."""
    root = os.getpid() if root is None else root
    stats = _read_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    cpu, rss = 0.0, 0
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        _, c, r = stats[pid]
        cpu += c
        rss += r
        todo.extend(children.get(pid, []))
    return cpu, rss


class PeakRssSampler:
    """Background thread recording the peak summed RSS of the process tree."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_usage()[1])
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_usage()[1])
