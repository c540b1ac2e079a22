"""Resident memory of this process tree, read from /proc.

The tree is the benchmark's own Python driver (where the union-find
fast path of connected components runs), the Spark driver JVM it
launched and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    parents = _parents()
    kids: dict[int, list[int]] = {}
    for child, parent in parents.items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``stop``
    returns the high-water mark in MB.

    A process counts only once it has been seen in two samples in a row.
    The JVM starts short-lived helpers for file-system calls, and until
    they exec they report the JVM's whole resident set, which would
    double it for one sample."""

    def __init__(self, interval: float = 0.1) -> None:
        self.pid = os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        seen: set[int] = set()
        while True:
            tree = {self.pid, *descendants(self.pid)}
            self.peak = max(self.peak, sum(rss_bytes(p) for p in tree & seen))
            seen = tree
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20
