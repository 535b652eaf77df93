"""A process tree as /proc shows it: resident memory, CPU time, stopping it."""

from __future__ import annotations

import glob
import os
import signal
import time
from typing import NamedTuple

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, as /proc truncates their names; their CPU
# is reported apart, under JIT.  They must not exit while measured (run the
# JVM with -XX:-UseDynamicNumberOfCompilerThreads), or their time would
# stay in the JVM's total.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
JIT = "java-jit"


class Proc(NamedTuple):
    ppid: int
    name: str
    rss: int  # resident bytes
    start: int  # start time in ticks after boot; with the pid it names one process
    user_ticks: int  # its own user time and that of its reaped children
    sys_ticks: int  # the same for system time


def processes() -> dict[int, Proc]:
    """Every process visible in /proc, by pid."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue  # the process exited while being read
        f = rest.split()
        # after the name: [1] parent pid, [11:15] utime stime cutime cstime,
        # [19] start time, [21] RSS in pages
        out[int(stat.split("/")[2])] = Proc(int(f[1]), head.split("(", 1)[1], int(f[21]) * PAGE,
                                            int(f[19]), int(f[11]) + int(f[13]),
                                            int(f[12]) + int(f[14]))
    return out


def tree(root: int, procs: dict[int, Proc]) -> list[int]:
    """``root`` and all its descendants.  The PySpark worker daemon starts
    its own process group, so a process group would miss the workers."""
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p.ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(kids.get(pid, []))
    return out


def _jit_ticks(pid: int) -> tuple[int, int]:
    """(user, system) ticks of the JIT compiler threads of JVM ``pid``."""
    user = system = 0
    for stat in glob.glob(f"/proc/{pid}/task/[0-9]*/stat"):
        try:
            with open(stat) as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if head.split("(", 1)[1].startswith(JIT_THREADS):
            f = rest.split()
            user, system = user + int(f[11]), system + int(f[12])
    return user, system


def tree_cpu_s(root: int) -> dict[str, tuple[float, float]]:
    """(user, system) CPU seconds used so far by ``root`` and its
    descendants, those that exited and were reaped inside the tree
    included, summed by command name (python3, java, ...).  The JVM's JIT
    compiler threads count under JIT, not under java."""
    procs = processes()
    ticks: dict[str, tuple[int, int]] = {}

    def add(name, user, system):
        u, s = ticks.get(name, (0, 0))
        ticks[name] = (u + user, s + system)

    for pid in tree(root, procs):
        p = procs[pid]
        jit = _jit_ticks(pid) if p.name == "java" else (0, 0)
        add(p.name, p.user_ticks - jit[0], p.sys_ticks - jit[1])
        if p.name == "java":
            add(JIT, *jit)
    return {name: (u / TICK, s / TICK) for name, (u, s) in ticks.items()}


def cpu_since(before: dict[str, tuple[float, float]],
              after: dict[str, tuple[float, float]]) -> dict[str, tuple[float, float]]:
    """Per-name (user, system) CPU seconds between two ``tree_cpu_s`` reads."""
    return {name: (u - before.get(name, (0.0, 0.0))[0], s - before.get(name, (0.0, 0.0))[1])
            for name, (u, s) in after.items()}


def stop(seen: dict[int, int]) -> None:
    """Terminate every process of ``seen`` (pid -> start time) still alive,
    matched on pid and start time so that a reused pid is left alone, and
    wait for each to end."""
    def alive(procs):
        return [pid for pid, start in seen.items() if pid in procs and procs[pid].start == start]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = alive(processes())
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not alive(processes()):
                return
            time.sleep(0.1)
