"""CPU time and resident memory of this process's tree, from /proc.

The tree is the benchmark process, the Spark JVM it launches and the
Python workers the JVM forks. CPU counts user + system time of every
live process in the tree plus the time of children they reaped, so
short-lived Python workers are not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return text[text.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids or tree_pids():
        f = _stat_fields(pid)
        if f is not None:  # utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every *interval* seconds while
    armed; ``peak`` is the largest sum seen since the last ``arm``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if not self._armed.wait(0.2):
                continue
            if n % 10 == 0:  # the tree changes slowly; rescan once a second
                pids = tree_pids()
            n += 1
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self._stop.wait(self.interval)

    def arm(self):
        self.peak = tree_rss_bytes(tree_pids())
        self._armed.set()

    def disarm(self) -> int:
        self._armed.clear()
        return self.peak

    def close(self):
        self._stop.set()
        self._armed.set()
        self._thread.join(timeout=5)


def descendants() -> list[int]:
    return [p for p in tree_pids() if p != os.getpid()]
