"""A process tree read from ``/proc``: its pids and their resident memory.

The standard library has no process-tree API and psutil is not a
dependency, so the tree is rebuilt from each process's parent pid.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path


def children_map() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            total += int(Path(f"/proc/{p}/statm").read_text().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * page / (1024.0 * 1024.0)


class Sampler(threading.Thread):
    """Samples the tree under ``pid`` every ``interval`` seconds until
    stopped: the peak RSS of the tree, and every pid seen in it."""

    def __init__(self, pid: int, interval: float) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.interval = interval
        self.peak = 0.0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            pids = tree(self.pid)
            self.seen.update(pids)
            self.peak = max(self.peak, rss_mb(pids))

    def stop(self) -> None:
        self._halt.set()
        self.join()
