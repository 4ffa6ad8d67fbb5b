"""Small measurement helpers: percentiles, result digests, host facts."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import statistics
from collections import defaultdict

MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values, p: float) -> float | None:
    """The ``p``-th percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it (too few to say anything about that tail)."""
    if beyond(len(values), p) < MIN_BEYOND:
        return None
    return percentile(values, p)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def _cell(v) -> str:
    """Canonical text of one result cell, engine-independent: floats to
    9 significant digits (both engines round aggregates to 4 decimals),
    -0.0 folded into 0.0, timestamps in ISO form."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f"f:{f + 0.0:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive value digest) of a result set.

    Columns are matched by name, so two engines that order their output
    columns differently still agree."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()[:16]


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


class StealMeter:
    """Share of CPU time the hypervisor stole between start and ``pct``."""

    def __init__(self):
        self.start = _cpu_times()

    def pct(self) -> float:
        total, steal = _cpu_times()
        dt = total - self.start[0]
        return round(100.0 * (steal - self.start[1]) / dt, 2) if dt else 0.0


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A driver heap that fits the host: 35% of RAM, within 1-8 GiB."""
    return f"{max(1, min(8, int(mem_total_gib() * 0.35)))}g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


_TICK = os.sysconf("SC_CLK_TCK")


# HotSpot's JIT compiler threads, C1 and C2 (names cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(stat: str) -> tuple[int, list[str]]:
    """(parent pid, fields after the command name) of a /proc stat line."""
    rest = stat[stat.rindex(")") + 2:].split()
    return int(rest[1]), rest


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM ``pid``.

    The JVM must keep its compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of a thread
    that exits is lost from this sum while it stays in the process's."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:  # the thread ended while we listed
            continue
        name = data[data.index("(") + 1:data.rindex(")")]
        if name.startswith(JIT_THREADS):
            total += sum(int(x) for x in _stat_fields(data)[1][11:13])
    return total / _TICK


def tree_cpu_s(root: int | None) -> tuple[float, float]:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and by ``root`` and all its descendants, as (work,
    JIT): JIT is the time of ``root``'s JIT compiler threads, and work is
    all the rest. The kernel does not charge stolen time to a process, yet
    both still rise under host steal: the same work costs more CPU time
    on a busy host."""
    children, ticks = defaultdict(list), {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid, rest = _stat_fields(data)
        children[ppid].append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in rest[11:15])
    total, stack, seen = 0, [os.getpid()] + ([root] if root else []), set()
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.add(pid)
            total += ticks.get(pid, 0)
            stack.extend(children.get(pid, ()))
    jit = jit_cpu_s(root) if root else 0.0
    return total / _TICK - jit, jit


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
