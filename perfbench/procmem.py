"""Peak resident memory of a process tree, sampled from ``/proc``, and
the wait for a set of processes to end.

Spark's JVM is a child of the benchmark process and the Spark Python
workers are children of the JVM, so the sum over the benchmark's
descendants is the JVM plus its Python workers.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between samples
INTERVAL = 0.05


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in ``/proc``."""
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name is parenthesised and may hold spaces
        fields = stat[stat.rindex(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    found, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        found.append(p)
        todo.extend(children.get(p, []))
    return found


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :].split()[0] != b"Z"


def end_all(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended, also one that has
    been re-parented away from this process; kill any still running
    after ``timeout`` seconds and wait for it too."""
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(INTERVAL)
    for p in pids:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_running(p) for p in pids):
        time.sleep(INTERVAL)


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Context manager: samples the summed RSS of this process's
    descendants every ``INTERVAL`` seconds and keeps the peak."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = sum(rss_bytes(p) for p in descendants(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(INTERVAL)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
