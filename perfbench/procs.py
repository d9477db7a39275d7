"""Resident memory of this process's descendants, sampled from /proc."""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list:
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def reap(pids, timeout: float) -> None:
    """Wait until every process in ``pids`` and every descendant of this
    process has exited (orphans re-parented away included); after
    ``timeout`` seconds kill what is left."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        for pid in descendants():
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)   # reap our exited children
        left = [p for p in set(pids) | set(descendants()) if not _zombie(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"


class PeakRss:
    """Background sampler of the summed RSS of every descendant process
    (the Spark driver JVM and its Python workers).  Use as a context
    manager around the window to sample; ``take`` returns the peak since
    the previous ``take`` and starts a new window."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            v = rss_bytes(descendants())
            with self._lock:
                self._peak = max(self._peak, v)
            if self._stop.wait(self.interval):
                return

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
