"""CPU and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and all its descendants (the Spark JVM
and its Python workers), minus excluded subtrees (the stub server).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime ticks, rss pages) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    fields = data[data.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]), int(fields[21])


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    over all CPUs (the steal column of /proc/stat): host contention that
    inflates wall times without any change in the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class ProcTree:
    def __init__(self, root: int, exclude: tuple[int, ...] = ()):
        self.root = root
        self.exclude = set(exclude)

    def members(self) -> dict[int, tuple]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        children: dict[int, list[int]] = {}
        for pid, s in stats.items():
            children.setdefault(s[0], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in stats:
                continue
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """CPU seconds used so far by the live tree, including children it
        has reaped."""
        return sum(s[1] for s in self.members().values()) / _TICK

    def rss_mb(self) -> float:
        return sum(s[2] for s in self.members().values()) * _PAGE / 2**20


class PeakSampler:
    """Samples the tree's RSS on a thread; ``take()`` returns the peak
    since the previous call."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.1):
        self.tree = tree
        self.interval_s = interval_s
        self.peak = 0.0
        self.lock = threading.Lock()
        self.stop_event = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self.stop_event.is_set():
            rss = self.tree.rss_mb()
            with self.lock:
                self.peak = max(self.peak, rss)
            self.stop_event.wait(self.interval_s)

    def __enter__(self) -> "PeakSampler":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop_event.set()
        self.thread.join()

    def take(self) -> float:
        rss = self.tree.rss_mb()
        with self.lock:
            peak, self.peak = max(self.peak, rss), rss
        return peak
