"""CPU time of this process tree, and the host's CPU steal.

On a shared host the hypervisor runs other guests on this machine's
virtual CPUs for a share of the time (steal) that changes from one minute
to the next. Steal stretches every wall-clock latency but is charged to no
process, so the CPU time the engine spends per event stays put while the
latencies move with the host.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process) and
    every descendant — the Spark JVM and its Python workers — counting the
    children they have reaped."""
    root = root or os.getpid()
    ticks: dict[int, int] = {}
    children: defaultdict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while the table was read
            continue
        # fields after the parenthesised command: state, ppid, ...;
        # utime, stime, cutime and cstime are the 12th to 15th of them
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        ticks[pid] = sum(int(x) for x in fields[11:15])
        children[int(fields[1])].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / _TICK


def _host_ticks() -> tuple[int, int]:
    """(steal, all) jiffies of the whole machine since boot."""
    with open("/proc/stat") as f:
        values = [int(x) for x in f.readline().split()[1:]]
    return values[7], sum(values)


def mark() -> dict:
    steal, total = _host_ticks()
    return {"wall": time.time(), "cpu": tree_cpu_s(), "steal": steal, "total": total}


def between(a: dict, b: dict) -> dict:
    """Wall seconds, process-tree CPU seconds and the host's steal share
    from mark ``a`` to mark ``b``."""
    return {
        "wall_s": b["wall"] - a["wall"],
        "cpu_s": b["cpu"] - a["cpu"],
        "steal_share": (b["steal"] - a["steal"]) / max(b["total"] - a["total"], 1),
    }
