"""Process-tree CPU, resident memory and host load, read from ``/proc``.

A Spark job is three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM forks. ``executorCpuTime``
misses the workers, so CPU and memory are summed over the whole tree
below a root pid instead.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    # the command name may hold spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of every live process in the tree, plus
    what each has collected from children it already reaped."""
    ticks = 0
    for pid in tree_pids(root):
        fields = stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        fields = stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * PAGE_SIZE  # rss in pages (field 24)
    return total


def host_busy_s() -> float:
    """CPU seconds all cores of this host spent busy since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return (sum(vals[:8]) - idle) / CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this host's vCPUs since boot
    (the ``steal`` column of ``/proc/stat``). It only grows while a vCPU
    wants to run, so it is read around a job to see how much of the
    job's CPU demand other tenants of the machine took."""
    with open("/proc/stat") as f:
        vals = f.readline().split()[1:]
    return int(vals[7]) / CLK_TCK if len(vals) > 7 else 0.0


# best time of probe_ms() on this 4-core host when nothing else runs
PROBE_IDLE_MS = 60.0


def probe_ms() -> float:
    """Best of three runs of a fixed single-thread loop, in ms. Other
    tenants of the machine slow it without showing in this host's
    ``/proc``: it read 1.6x the idle time in busy periods."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000


class RssSampler:
    """Samples the tree's summed RSS on a background thread; ``peak`` is
    the largest sample. Forked workers share pages, so the sum
    over-counts shared memory: it is what the host has to hold at worst."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
