"""CPU seconds of a command's process tree, per process kind and per JVM
thread group, sampled from ``/proc``.

    python3 tools/thread_cpu.py -- CMD ...

Runs CMD, and every 0.2 s reads ``/proc/<pid>/stat`` of every process
below it and ``/proc/<pid>/task/*/stat`` of every JVM in it. It only
reads ``/proc``. When CMD exits it prints, to stderr:

- CPU per process kind: the JVM (``java``), the Python workers
  (``pyspark.daemon`` and the workers it forks) and the driver with
  everything else (the Python driver, launcher scripts, a harness);
- CPU per JVM thread group: the C2 and C1 JIT compiler threads, the
  executor task threads (``Executor task launch worker``, the data work
  in local mode), py4j's ``Thread-N`` (the driver-side calls Python
  makes: plan analysis and optimization for each DataFrame call), GC
  worker threads, and the other JVM threads by name.

A process or thread that ends between two samples loses at most 0.2 s
of CPU; for the JVMs that share is printed as ``exited threads``
(process CPU minus the sum of its live threads' CPU). The exit code is
CMD's.
"""

from __future__ import annotations

import argparse
import os
import re
import resource
import subprocess
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.2

# thread names as /proc shows them (truncated to 15 characters)
THREAD_GROUPS = [
    ("C2 compiler", re.compile(r"C2 CompilerThre")),
    ("C1 compiler", re.compile(r"C1 CompilerThre")),
    ("executor task", re.compile(r"Executor task l")),
    ("py4j Thread-N", re.compile(r"Thread-\d+$")),
    ("GC", re.compile(r"GC Thread#|G1 ")),
]


def read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:  # the process or thread ended while it was read
        return None


def stat_of(path: str) -> tuple[str, int, int] | None:
    """(name, ppid, utime + stime ticks) from a ``stat`` file."""
    raw = read(path)
    if raw is None:
        return None
    # the name may hold spaces and parentheses: split after the last ")"
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    return name, int(fields[1]), int(fields[11]) + int(fields[12])


def tree(root: int) -> dict[int, tuple[str, int]]:
    """pid → (name, cpu ticks) for the root and every descendant."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = stat_of(f"/proc/{entry}/stat")
            if st is not None:
                procs[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = (procs[pid][0], procs[pid][2])
        todo.extend(children.get(pid, ()))
    return out


def process_kind(pid: int, name: str) -> str:
    if name == "java":
        return "JVM"
    cmdline = read(f"/proc/{pid}/cmdline") or ""
    if "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline:
        return "Python workers"
    return "driver and other"


def thread_group(name: str) -> str:
    for group, pattern in THREAD_GROUPS:
        if pattern.match(name):
            return group
    return "other: " + re.sub(r"\d+", "N", name)


class Sampler:
    def __init__(self, root: int):
        self.root = root
        self.procs: dict[int, tuple[str, str, int]] = {}  # pid → (name, kind, ticks)
        self.threads: dict[tuple[int, int], int] = {}  # (pid, tid) → ticks
        self.groups: dict[str, int] = {}  # thread group → ticks

    def sample(self) -> None:
        for pid, (name, ticks) in tree(self.root).items():
            # a launcher script (spark-submit) execs into the JVM: same
            # pid, new name
            seen = self.procs.get(pid)
            kind = seen[1] if seen and seen[0] == name else process_kind(pid, name)
            self.procs[pid] = (name, kind, ticks)
            if kind != "JVM":
                continue
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                st = stat_of(f"/proc/{pid}/task/{tid}/stat")
                if st is None:
                    continue
                key = (pid, int(tid))
                # a thread's ticks go to the group of its current name
                delta = st[2] - self.threads.get(key, 0)
                self.threads[key] = st[2]
                group = thread_group(st[0])
                self.groups[group] = self.groups.get(group, 0) + delta

    def report(self, wall_s: float, out=sys.stderr) -> None:
        kinds: dict[str, float] = {}
        for _, kind, ticks in self.procs.values():
            kinds[kind] = kinds.get(kind, 0.0) + ticks / CLK_TCK
        groups = {g: t / CLK_TCK for g, t in self.groups.items()}
        groups["exited threads"] = kinds.get("JVM", 0.0) - sum(groups.values())
        print("== CPU s per process kind", file=out)
        for kind, s in sorted(kinds.items(), key=lambda kv: -kv[1]):
            print(f"{s:9.2f}  {kind}", file=out)
        print(f"{sum(kinds.values()):9.2f}  sampled total", file=out)
        print("== CPU s per JVM thread group", file=out)
        named = [g for g, _ in THREAD_GROUPS] + ["exited threads"]
        for g in named:
            print(f"{groups.get(g, 0.0):9.2f}  {g}", file=out)
        other = sorted(((s, g) for g, s in groups.items() if g not in named), reverse=True)
        print(f"{sum(s for s, _ in other):9.2f}  other JVM threads, largest:", file=out)
        for s, g in other[:8]:
            print(f"{s:9.2f}    {g[len('other: '):]}", file=out)
        own = resource.getrusage(resource.RUSAGE_SELF)
        print(f"{wall_s:9.2f}  wall s; sampler's own CPU "
              f"{own.ru_utime + own.ru_stime:.2f} s", file=out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("cmd", nargs=argparse.REMAINDER, help="-- CMD ...")
    args = ap.parse_args()
    cmd = args.cmd[1:] if args.cmd[:1] == ["--"] else args.cmd
    if not cmd:
        ap.error("no command given")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd)
    sampler = Sampler(proc.pid)
    while proc.poll() is None:
        sampler.sample()
        time.sleep(INTERVAL_S)
    sampler.report(time.monotonic() - t0)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
