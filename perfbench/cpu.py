"""CPU seconds of the engine's processes, read from /proc.

The timed window's cost is the CPU time of the Spark JVM plus that of
the Python client. CPU time leaves out the time the machine's
hypervisor gives the benchmark's CPUs to other guests (steal), which
wall-clock latency on a shared host does not; see perfbench/NOTES.md.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str) -> tuple[str, float]:
    with open(path) as fh:
        raw = fh.read()
    name = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw.rsplit(")", 1)[1].split()
    return name, (int(f[11]) + int(f[12])) / TICK


def _thread_group(name: str) -> str:
    """JVM thread name (as the kernel truncates it) -> group."""
    if name.startswith("Executor task"):
        return "executor"
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "driver"


class Snapshot:
    """CPU seconds used so far by the JVM (in total and per thread) and
    by this Python process, and the machine's steal and total jiffies."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = _stat_cpu_s(f"/proc/{jvm_pid}/stat")[1]
        self.threads: dict[int, tuple[str, float]] = {}
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                self.threads[int(tid)] = _stat_cpu_s(f"/proc/{jvm_pid}/task/{tid}/stat")
            except OSError:  # the thread ended while we listed
                continue
        self.client = sum(os.times()[:2])
        with open("/proc/stat") as fh:
            jiffies = [int(x) for x in fh.readline().split()[1:]]
        self.steal, self.total = jiffies[7], sum(jiffies)


def between(a: Snapshot, b: Snapshot) -> dict[str, float]:
    """CPU seconds spent between two snapshots: ``total`` (JVM plus
    client), the JVM split by thread group (``executor``, ``jit``,
    ``gc``, and ``driver`` for the rest, which also takes the time of
    threads that ended in between), ``client``, and the machine's
    ``steal_frac``."""
    groups = {"executor": 0.0, "jit": 0.0, "gc": 0.0}
    for tid, (name, cpu) in b.threads.items():
        g = _thread_group(name)
        if g != "driver":
            groups[g] += cpu - a.threads.get(tid, (name, 0.0))[1]
    jvm = b.jvm - a.jvm
    client = b.client - a.client
    groups["driver"] = jvm - sum(groups.values())
    groups["client"] = client
    groups["total"] = jvm + client
    groups["steal_frac"] = (b.steal - a.steal) / max(1, b.total - a.total)
    return groups
