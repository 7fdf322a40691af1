"""CPU time and resident memory of this process and its descendants, read
from /proc.

The tree is the Python driver, the JVM it launches and the Python workers the
JVM forks. Workers exit mid-pass, so each process contributes its own CPU
time plus that of its reaped children (``cutime``/``cstime``): a worker's
time moves to its parent when it is reaped instead of vanishing from the sum.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, int, int, int, bool] | None:
    """(ppid, own ticks, reaped-children ticks, rss pages, start time,
    zombie)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # fields after "(comm)": state ppid ... utime(14) stime cutime cstime
    # ... starttime(22) vsize rss(24); index = field number - 3
    f = data[data.rindex(b")") + 2 :].split()
    return (
        int(f[1]),
        int(f[11]) + int(f[12]),
        int(f[13]) + int(f[14]),
        int(f[21]),
        int(f[19]),
        f[0] == b"Z",
    )


def tree(root: int) -> dict[int, tuple]:
    """Stat of ``root`` and every live descendant, keyed by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    out, todo = {}, [root]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


class CpuSnapshot:
    """CPU seconds per class (driver, jvm, pyworkers) at one instant."""

    def __init__(self, root: int, jvm: int | None):
        self.by_class = {"driver_py": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        for pid, (_, own, reaped, *_) in tree(root).items():
            cls = "driver_py" if pid == root else "jvm" if pid == jvm else "pyworkers"
            self.by_class[cls] += (own + reaped) / _TICK

    def __sub__(self, other: CpuSnapshot) -> dict[str, float]:
        return {k: v - other.by_class[k] for k, v in self.by_class.items()}


class RssSampler:
    """Background thread tracking the peak summed RSS of the tree. It reads
    the known pids every ``interval`` and rescans /proc for new ones every
    ``rescan`` samples, which keeps its own CPU cost small."""

    def __init__(self, root: int, interval: float = 0.1, rescan: int = 10):
        self.root = root
        self.interval = interval
        self.rescan = rescan
        self._pids = [root]
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _rss(self, full: bool = True) -> int:
        if full:
            stats = tree(self.root)
            self._pids = list(stats)
        else:
            stats = {p: st for p in self._pids if (st := _stat(p)) is not None}
        return sum(st[3] for st in stats.values()) * _PAGE

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self.interval):
            n += 1
            rss = self._rss(full=n % self.rescan == 0)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        rss = self._rss()
        with self._lock:
            self._peak = rss

    def peak_mb(self) -> float:
        rss = self._rss()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(procs: dict[int, int], timeout: float) -> None:
    """Wait until each process (pid -> start time) has ended; SIGKILL the
    ones still running after ``timeout`` and wait a little longer."""

    def alive() -> list[int]:
        out = []
        for pid, start in procs.items():
            st = _stat(pid)
            if st is not None and st[4] == start and not st[5]:
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout
    killed = False
    while left := alive():
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)
