"""This process's descendants (the Spark JVM and its Python workers), read
from /proc: their peak resident memory, and the list to wait for at exit."""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def running(pid: int) -> bool:
    """False once `pid` has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_exit(pids: list[int], timeout_s: float) -> list[int]:
    """Wait up to `timeout_s` for `pids` to exit.  → those still running."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if running(p)]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def descendants(root: int) -> list[int]:
    """Every process under `root`, children first."""
    kids = _children_map()
    out: list[int] = []
    todo = list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    return sum(_rss_kb(p) for p in (root, *descendants(root))) / 1024.0


class PeakRss:
    """Background sampler; use as a context manager, read `.peak_mb`."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
