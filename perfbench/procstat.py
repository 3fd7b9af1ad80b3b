"""Process-tree and host counters read from ``/proc`` (Linux only).

The measured process, its JVM and the JVM's Python workers form one
tree. CPU time includes reaped children (``cutime``/``cstime``), so a
worker that exits and is waited for by its parent still counts. Host
steal is read from ``/proc/stat``: time the hypervisor gave to someone
else while this guest wanted to run. It moves wall clocks and nothing
else, so it is printed as a diagnostic beside the metrics.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    end = raw.rindex(")")
    return raw[raw.index("(") + 1:end], raw[end + 2:].split()


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """``{pid: (command name, stat fields after the name)}`` for
    ``root`` and every descendant alive now. Field 0 of the stat fields
    is the state, 1 the parent pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep, frontier = {}, [root]
    children: dict[int, list[int]] = {}
    for pid, (_, st) in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in keep:
            keep[pid] = stats[pid]
            frontier.extend(children.get(pid, ()))
    return keep


def _cpu_s(st: list[str]) -> float:
    # utime, stime, cutime, cstime are fields 14-17 of the full line
    return sum(int(x) for x in st[11:15]) / _TICK


class Tree:
    """CPU and memory of the process tree under ``root``."""

    def __init__(self, root: int):
        self.root = root

    def cpu(self) -> tuple[float, float]:
        """(CPU-seconds of the whole tree, of its Python workers: the
        pyspark daemon and the workers it forks, i.e. every Python
        process below the root)."""
        total = workers = 0.0
        for pid, (name, st) in tree(self.root).items():
            c = _cpu_s(st)
            total += c
            if pid != self.root and name.startswith("python"):
                workers += c
        return total, workers

    def rss_mb(self) -> float:
        return sum(int(st[21]) for _, st in tree(self.root).values()) \
            * _PAGE / (1 << 20)


class PeakRss:
    """Samples the tree's resident memory on a background thread
    between ``start()`` and ``stop()``; ``peak_mb`` is the largest sum
    seen."""

    def __init__(self, proc: Tree, interval_s: float = 0.2):
        self._proc, self._interval = proc, interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self._proc.rss_mb())
            if self._done.wait(self._interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self._proc.rss_mb())
        return self.peak_mb


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies summed over CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0
