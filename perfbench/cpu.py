"""CPU seconds of the benchmark's process tree: this Python process, the
Spark JVM it launched and the JVM's Python workers.

The kernel accounts a task's CPU time without the time the hypervisor
stole from its virtual CPU, so on a host whose neighbours steal CPU time
this figure moves far less than wall time does. It is read from each
process's ``/proc/<pid>/stat`` (user + system time, and that of its reaped
children), in clock ticks.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    children: "dict[int, list[int]]" = {}
    ticks: "dict[int, int]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total * TICK_S
