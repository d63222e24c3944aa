"""Resource accounting of the benchmark's process tree, from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
#: Thread names of HotSpot's JIT compilers.  Their CPU is the JVM warming
#: up, which goes on for minutes and at its own pace, so it is left out.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> list[int]:
    with open(stat_path) as f:
        stat = f.read()
    return [int(x) for x in stat[stat.rindex(")") + 2:].split()[1:15]]


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
            t = _ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended meanwhile
            continue
        total += t[10] + t[11]
    return total


def cpu_seconds(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process)
    and every live descendant, with what each has reaped from its own
    children, less the JIT compiler threads.  Here that is the driver,
    the JVM and the Python workers.  Unlike wall time it does not grow
    while the process waits for a CPU that other load holds, in this
    machine or in the host."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            t = _ticks(f"/proc/{d}/stat")
        except OSError:  # the process ended while the table was read
            continue
        parent[int(d)] = t[0]
        ticks[int(d)] = sum(t[10:14])
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(ticks.get(p, 0) - _jit_ticks(p) for p in tree) / _TICK


def steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
