"""Process, clock and memory probes read from /proc.

The VM this runs on shares its host: the hypervisor "steals" CPU time from
it when other guests are busy, which stretches wall time by an amount that
has nothing to do with the program. Every time the benchmark reports is
therefore ``unstolen_s``: wall time scaled by the share of the CPU time the
VM asked for that it got, both as the kernel counts them in /proc/stat.
"""

from __future__ import annotations

import os
import time


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (from field 3, the state, on) of this
    process and every live descendant."""
    me = os.getpid()
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue

    def descends(pid: int) -> bool:
        while pid in stats and pid > 1:
            pid = int(stats[pid][1])
            if pid == me:
                return True
        return False

    return {pid: f for pid, f in stats.items() if pid == me or descends(pid)}


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return [pid for pid in _process_tree() if pid != os.getpid()]


def alive(pid: int) -> bool:
    """Whether ``pid`` names a process that has not yet ended (a zombie
    has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and its live
    descendants, with the children each has reaped. Time the hypervisor
    steals from the guest is not charged to any process."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _process_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM descendants."""
    me = os.getpid()
    total_kb = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if pid != me and b"java" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_busy_steal_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this VM since boot, summed over CPUs:
    user, nice, system, irq and softirq time, and the time the hypervisor
    ran another guest while this one had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, f[7] / tick


def mark() -> tuple[float, float, float]:
    return (time.perf_counter(), *cpu_busy_steal_s())


def unstolen_s(start: tuple[float, float, float], end: tuple[float, float, float] | None = None) -> float:
    """Wall seconds from ``start`` to ``end`` (marks), scaled by the share
    of the VM's demanded CPU time that it actually got: the time the
    interval would take if no other guest competed for the host."""
    end = end or mark()
    wall = end[0] - start[0]
    busy, stolen = end[1] - start[1], end[2] - start[2]
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


