"""CPU time and resident memory of this process and all its
descendants (the JVM, the PySpark daemon and its Python workers), read
from /proc. CPU counts the live processes plus the children they have
already reaped, so a Python worker that exits mid-run still counts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name, starting at state
        out[int(name)] = raw[raw.rfind(")") + 2:].split()
    return out


def _tree(root: int) -> list[list[str]]:
    stats = _stats()
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(stats[pid])
            todo.extend(kids.get(pid, []))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """user+system seconds of the tree, reaped children included."""
    ticks = sum(
        int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        for f in _tree(root or os.getpid())
    )
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    return sum(int(f[21]) for f in _tree(root or os.getpid())) * _PAGE / 1e6


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak_mb``
    is the largest sum seen since ``start()`` or the last ``lap()``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._done.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def lap(self) -> float:
        """The peak since the previous lap; starts the next one."""
        peak = max(self.peak_mb, tree_rss_mb())
        self.peak_mb = 0.0
        return peak

    def stop(self) -> None:
        self._done.set()
        self._thread.join()
