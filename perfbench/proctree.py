"""CPU time and peak RSS of a process tree, read from /proc.

The tree is the benchmark process plus every descendant: the Spark JVM,
the pyspark daemon and its Python workers. CPU is the change in
utime+stime+cutime+cstime summed over the tree between start and stop, so
a worker that exits during the window is counted through its parent's
cutime once reaped. RSS is sampled on a background thread at a fixed
interval and summed over the tree; the peak sum is reported.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# The sampler shares the GIL with the driver thread that calls the CLI, so
# it reads little: the tree's RSS five times a second, its pids once a
# second.
INTERVAL_S = 0.2  # RSS sampling period
REFRESH_EVERY = 5  # re-list the tree's pids every this many samples


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; the rest starts after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """root and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class TreeMeter:
    """Measure CPU seconds and peak summed RSS of this process's tree
    over a window: ``start()`` ... ``stop()`` -> (cpu_s, peak_rss_mb)."""

    def __init__(self):
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak = 0
        self._cpu0 = 0.0
        self._pids0: list[int] = []

    def start(self) -> None:
        self._pids0 = descendants(os.getpid())
        self._cpu0 = tree_cpu_s(self._pids0)
        self._peak = tree_rss_bytes(self._pids0)
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        pids = self._pids0
        n = 0
        while not self._stop.wait(INTERVAL_S):
            n += 1
            if n % REFRESH_EVERY == 0:
                pids = descendants(os.getpid())
            self._peak = max(self._peak, tree_rss_bytes(pids))

    def stop(self) -> tuple[float, float]:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        pids = descendants(os.getpid())
        self._peak = max(self._peak, tree_rss_bytes(pids))
        # processes alive at start but gone now are counted through their
        # reaping parent's cutime; ones still alive are read directly
        cpu1 = tree_cpu_s(sorted(set(pids) | set(self._pids0)))
        return cpu1 - self._cpu0, self._peak / 1e6


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs were ready to run, summed over CPUs, since boot (the eighth
    figure of the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICKS
