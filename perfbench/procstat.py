"""CPU time and resident memory of this process and all its descendants.

The tree is the benchmark's Python driver, the Spark JVM it launches and the
Python workers the JVM forks, found by walking ``/proc`` parent links.
"""
from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we walked the table
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[tuple[str, list[str]]]:
    """(pid, stat fields) for ``root`` and its live descendants."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                stats[pid] = fields
                children.setdefault(fields[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for _, f in _tree(root or os.getpid()):
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def rss_bytes(root: int | None = None) -> int:
    """Summed resident set size of the tree."""
    return sum(int(f[21]) for _, f in _tree(root or os.getpid())) * _PAGE


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` is the maximum
    seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes())
        return self.peak


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot: the part of a slowdown that comes from outside this machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
