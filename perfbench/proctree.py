"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (the JVM, the PySpark daemon and its Python workers
are all children of the benchmark process in local mode).

CPU: the sum over live processes of utime+stime+cutime+cstime.  A child
that exits is reaped by a live ancestor, whose cutime/cstime then carry
its time, so work of short-lived workers is not lost between samples.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and every descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def snapshot(pids: list[int]) -> tuple[float, int]:
    """(CPU seconds, resident bytes) summed over ``pids``."""
    cpu = 0.0
    rss = 0
    for pid in pids:
        st = _stat(pid)
        if st is None:
            continue
        # fields 14-17 (utime stime cutime cstime) and 24 (rss), 1-based,
        # shifted by the two leading fields cut above
        cpu += sum(int(v) for v in st[11:15]) / _TICK
        rss += int(st[21]) * _PAGE
    return cpu, rss


class TreeSampler:
    """Samples the process tree's CPU and RSS on a background thread.

    ``with TreeSampler() as s: work()`` then ``s.cpu_s`` and
    ``s.peak_rss_mb`` hold the CPU seconds used across the block and the
    highest resident-memory total seen (sampled every ``interval_s``,
    plus once at each end).
    """

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0

    def _sample(self) -> float:
        cpu, rss = snapshot(tree_pids())
        self.peak_rss_mb = max(self.peak_rss_mb, rss / 2**20)
        return cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu_s = self._sample() - self._cpu0
