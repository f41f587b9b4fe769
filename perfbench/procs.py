"""Process bookkeeping: descendants, their CPU time, and waiting for
them to end."""

from __future__ import annotations

import os
import signal
import time


def children(pid: int) -> set[int]:
    """Every live descendant of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        todo.extend(kids)
    return out


def cpu_seconds() -> float:
    """CPU time (user + system, including reaped children) of this
    process and every live descendant: the driver, the JVM and Spark's
    Python workers. Unlike wall time it does not count the time the
    machine's other tenants take from this one."""
    total = 0
    for pid in [os.getpid(), *children(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def wait_gone(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot, from
    /proc/stat: the time the hypervisor gave this machine's CPUs to
    someone else, and all CPU time."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total else 0.0
