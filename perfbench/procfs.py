"""Host facts read from /proc: CPU count, CPU steal, process-tree RSS.

The Spark driver JVM is a child of this Python process and the Python
workers are children of the JVM, so the process tree rooted at this
process holds every byte the engine uses.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies from the aggregate cpu line of
    /proc/stat; busy is user, nice, system, irq and softirq time."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    busy = user + nice + system + irq + softirq
    return busy + idle + iowait + steal, busy, steal


def steal_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of all CPU time that the hypervisor gave to other guests."""
    total = after[0] - before[0]
    return (after[2] - before[2]) / total if total > 0 else 0.0


def runnable_steal_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of the CPU time this guest had work for that the hypervisor
    gave to other guests.  An idle CPU accrues no steal, so this is the
    share by which steal stretched the busy time: ``wall * (1 - share)``
    is about the wall time of the same work on CPUs of its own."""
    busy = after[1] - before[1]
    steal = after[2] - before[2]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    parents = _parents()
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process tree every ``period_s`` on a
    daemon thread and keeps the peak."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _running(pid: int) -> bool:
    """True until the process has exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives the timeout
    and wait for that too."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _running(p)]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)
