"""Host and process-tree readings from ``/proc`` (Linux).

CPU is read for the whole process tree the benchmark starts: this Python
process (the Spark driver and the HTTP clients), the JVM it launches, and the
``pyspark.daemon`` workers the JVM forks.  Each process's ``utime + stime``
plus the CPU of children it has already reaped (``cutime + cstime``) is
counted once, so workers that exit between two readings are not lost.
"""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / _TICK


def _cmdline(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of this process tree split into driver (``root``), jvm
    (java processes below it) and workers (every other descendant)."""
    root = root or os.getpid()
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {"driver": procs.get(root, (0, 0.0))[1], "jvm": 0.0, "workers": 0.0}
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        kind = "jvm" if "java" in _cmdline(pid).split(" ", 1)[0] else "workers"
        out[kind] += procs[pid][1]
        stack.extend(children.get(pid, []))
    return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    vals = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def mem_total_bytes() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
