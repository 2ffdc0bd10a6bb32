"""CPU time and resident memory of this process and all its descendants.

The Spark driver JVM is a child of the Python process, and the Python
workers are children of the JVM, so stage-level ``executorCpuTime``
misses both the Python workers and the driver. Reading ``/proc`` for
the whole tree counts all three.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including descendants that
    already ended and were waited for (their time sits in the parent's
    ``cutime``/``cstime``)."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def descendants_alive() -> list[int]:
    return [p for p in tree_pids() if p != os.getpid()]


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat; steal is time
    the hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Samples the tree's resident memory every 0.25 s on a background
    thread and keeps the peak. Use as a context manager."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())


class CpuClock:
    """Wall and process-tree CPU seconds between ``start`` and ``stop``."""

    def __init__(self):
        self.wall_s = self.cpu_s = 0.0
        self._w = self._c = 0.0

    def __enter__(self) -> "CpuClock":
        self._c = tree_cpu_s()
        self._w = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._w
        self.cpu_s = tree_cpu_s() - self._c
