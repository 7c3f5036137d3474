"""Peak RSS of the driver JVM and of its Python worker processes, sampled
from ``/proc`` by a background thread.

The Python workers are the JVM's descendants whose command is a Python
interpreter (the worker daemon and the workers it forks); their RSS is
summed, so pages a forked worker shares with the daemon count once per
process, as a per-process view of memory shows them.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: str) -> tuple[int, str] | None:
    """(ppid, comm) of a live process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return int(raw[raw.rindex(")") + 2 :].split()[1]), comm


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


def sample(jvm_pid: int) -> tuple[float, float]:
    """(summed Python-worker RSS, JVM RSS) in MB, right now."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in procs.items():
        children.setdefault(ppid, []).append(pid)
    workers = 0.0
    todo = list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        if procs[pid][1].startswith("python"):
            workers += _rss_mb(pid)
        todo.extend(children.get(pid, []))
    return workers, _rss_mb(jvm_pid)


class RssSampler:
    """Samples every ``interval`` seconds between ``start`` and ``stop``;
    ``peaks(t0, t1)`` gives the peaks inside one timed pass."""

    def __init__(self, jvm_pid: int, interval: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.samples: list[tuple[float, float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            w, j = sample(self.jvm_pid)
            self.samples.append((time.perf_counter(), w, j))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peaks(self, t0: float, t1: float) -> tuple[float, float]:
        inside = [(w, j) for t, w, j in self.samples if t0 <= t <= t1]
        if not inside:
            return 0.0, 0.0
        return max(w for w, _j in inside), max(j for _w, j in inside)
