"""CPU accounting around a timed region, read from /proc.

Three numbers per region:

* tree CPU: utime+stime of this process and every descendant (the JVM that
  PySpark launches, its Python daemon and workers), plus cutime+cstime,
  which is where the time of descendants that exited and were reaped ends
  up.  This is the work the benchmark paid for; time the hypervisor stole
  from us is not in it.
* steal: the host-wide steal counter of /proc/stat.
* foreign CPU: utime+stime of processes outside our tree.  Like steal it is
  a diagnostic: it tells a run slowed by a neighbour from a regression.

Modelled on bench.py's _steal_jiffies/_foreign_jiffies.  Processes that
start and exit between two samples without being reaped by a process we
can see are missed, so foreign CPU is a lower bound.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own jiffies, reaped-children jiffies)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we listed
            continue
        # comm may hold spaces or parentheses: fields start after the last ')'
        f = raw[raw.rindex(")") + 2 :].split()
        out[int(entry)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def _tree(table: dict[int, tuple[int, int, int]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


def _steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


@dataclass(frozen=True)
class Sample:
    tree: int
    steal: int
    foreign: dict[int, int]


def sample() -> Sample:
    table = _proc_table()
    mine = _tree(table, os.getpid())
    return Sample(
        tree=sum(table[p][1] + table[p][2] for p in mine if p in table),
        steal=_steal(),
        foreign={p: v[1] for p, v in table.items() if p not in mine},
    )


@dataclass(frozen=True)
class Usage:
    tree_cpu_s: float
    steal_s: float
    foreign_cpu_s: float


def usage(before: Sample, after: Sample) -> Usage:
    """CPU seconds used between two samples."""
    foreign = sum(max(0, j - before.foreign.get(p, 0)) for p, j in after.foreign.items())
    return Usage(
        tree_cpu_s=(after.tree - before.tree) / TICK,
        steal_s=(after.steal - before.steal) / TICK,
        foreign_cpu_s=foreign / TICK,
    )
