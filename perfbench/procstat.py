"""Process-tree CPU, memory and host-steal readings from ``/proc``.

CPU time is read for this process and every live descendant (the JVM
and the Python workers it forks), including the CPU of children they
have already reaped, so an exited worker's time is not lost. CPU time
excludes time the hypervisor stole, which is what makes it steadier
than wall time on a shared host.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), comm, rest  # ppid, comm, fields from state on


def _tree(root: int) -> dict[int, tuple[str, list[str]]]:
    procs = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        ppid, comm, rest = st
        procs[int(name)] = (comm, rest)
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process tree, split into the driver's Python
    interpreter, the JVM, and everything below the JVM (Python workers).
    Each figure includes the CPU of already-reaped children."""
    me = os.getpid()
    parts = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    tree = _tree(me)
    jvms = {pid for pid, (comm, _r) in tree.items() if comm == "java"}
    for pid, (comm, rest) in tree.items():
        # rest[11..14] = utime stime cutime cstime (stat fields 14..17)
        own = (int(rest[11]) + int(rest[12])) / _TICK
        reaped = (int(rest[13]) + int(rest[14])) / _TICK
        if pid == me:
            parts["driver_py"] += own  # reaped children of the driver
            # are short-lived helpers; bill them to the JVM side below
            parts["jvm"] += reaped
        elif pid in jvms:
            parts["jvm"] += own
            parts["pyworker"] += reaped
        else:
            parts["pyworker"] += own + reaped
    parts["total"] = parts["driver_py"] + parts["jvm"] + parts["pyworker"]
    return parts


def tree_rss_mb() -> float:
    """Resident set size of the whole tree, in MiB."""
    return sum(
        int(rest[21]) * _PAGE for _c, rest in _tree(os.getpid()).values()
    ) / 2**20


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def control_kernel_ms() -> float:
    """A fixed pure-Python loop; its wall time tracks host speed only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(600_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


class PeakRss:
    """Tracks the largest tree RSS seen across ``sample()`` calls."""

    def __init__(self):
        self.peak_mb = 0.0

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
