"""CPU seconds and resident memory of this process's descendants, read
from /proc.

The Spark JVM is a child of the Python process that launched it, and
the PySpark worker daemon and its workers are children of the JVM, so
the descendants of ``os.getpid()`` are exactly "the JVM plus its Python
workers".  Workers that exit are reaped by the daemon, whose ``cutime``
and ``cstime`` then carry their CPU time, so summing all four fields
over the live tree loses nothing between two readings.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[str]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = str(root or os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields is not None:
            children.setdefault(fields[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_seconds() -> float:
    """user + system CPU seconds of the descendant tree, reaped children
    included."""
    ticks = 0
    for pid in descendants():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_rss_bytes() -> int:
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def steal_and_total_ticks() -> tuple[int, int]:
    """Machine-wide steal ticks (time the hypervisor ran something else
    while a CPU of this machine wanted to run) and all ticks, from the
    first line of /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class TreeMonitor:
    """Context manager: CPU seconds used by the descendant tree inside
    the block, the peak of its summed RSS, sampled every ``interval``
    seconds from a background thread, and the machine's steal share."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_bytes = max(self.peak_rss_bytes, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeMonitor":
        self._steal0 = steal_and_total_ticks()
        self._cpu0 = tree_cpu_seconds()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_bytes = max(self.peak_rss_bytes, tree_rss_bytes())
        self.cpu_s = tree_cpu_seconds() - self._cpu0
        steal, total = (b - a for a, b in zip(self._steal0, steal_and_total_ticks()))
        self.steal_share = steal / max(1, total)
