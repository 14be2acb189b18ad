"""Host facts, process-tree memory sampling and process cleanup.

Everything here reads ``/proc``: the benchmark runs the engine in local
mode, so the driver Python process, the JVM it launches and the JVM's
Python workers form one process tree rooted at this process.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_facts() -> dict:
    return {"nproc": nproc(), "mem_total_kb": mem_total_kb(), "loadavg": loadavg()}


def _parent_map() -> dict[int, int]:
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rfind(")") + 2:].split()
        parents[int(name)] = int(fields[1])
    return parents


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(p) for p in [root, *descendants(root)])


class RssSampler:
    """Background sampler of the summed RSS of this process tree; ``peak``
    is the highest sum seen (driver + JVM + Python workers at one instant)."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for every process in ``pids`` to end (a Python worker whose JVM
    parent exited is re-parented, so the list is taken before shutdown);
    terminate, then kill, whatever is still running at the timeout."""
    for sig in (None, 15, 9):
        deadline = time.monotonic() + (timeout_s if sig is None else 5.0)
        if sig is not None:
            for pid in pids:
                if _running(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        while any(_running(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not any(_running(p) for p in pids):
            return
    raise RuntimeError(f"processes still running after cleanup: {[p for p in pids if _running(p)]}")
