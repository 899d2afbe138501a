"""CPU time and peak memory of a process tree, read from ``/proc``.

The tree is the benchmark's own worker process and its descendants: the
Spark JVM and any Python workers it forks. Linux only.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, including children each
    member has already reaped (so a finished Python worker still counts)."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live tree member's peak resident set (VmHWM), in MiB."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024
