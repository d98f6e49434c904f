"""CPU time spent by the benchmark's process tree, by role: the driver's
Python, the JVM it launched, the JVM's JIT compiler threads and the JVM's
Python workers.

The sum over all roles per operation is the end-to-end `op_cpu_s`.
Unlike wall time it is not charged for the time the hypervisor runs other
guests on this machine's CPUs, which on a shared host swings from run to
run (README.md, "End-to-end metrics").  Spark's own executor counters see
only task threads; this also counts the driver, the scheduler, the Python
workers' own time and the JIT.  JIT compilation is reported apart from
the rest of the JVM: the request path generates code on every request, so
it does not stop after warm-up, and its share is what a code-generation
change moves.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
ROLES = ("driver", "jvm", "jit", "python_workers")


def _read(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None  # the process or thread ended while the tree was read
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 1:].split()


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, CPU ticks) of one process: user plus system time of
    the process and of its children that exited and were reaped."""
    if (st := _read(f"/proc/{pid}/stat")) is None:
        return None
    fields = st[1]
    return int(fields[1]), sum(int(x) for x in fields[11:15])


class CpuMeter:
    """Reads the CPU seconds used so far by the driver (this process), the
    JVM, the JVM's JIT compiler threads and every other process below them
    (Spark's Python daemon and workers), by role."""

    def __init__(self, jvm_pid: int | None):
        self.root = os.getpid()
        self.jvm = jvm_pid
        self._jit: dict[str, int] = {}  # compiler thread id -> ticks last seen

    def _jit_ticks(self) -> int:
        """CPU ticks of the JVM's compiler threads so far.  The JVM starts
        and stops compiler threads as compilation demand changes; one that
        ended keeps the ticks it was last seen with."""
        try:
            tids = os.listdir(f"/proc/{self.jvm}/task")
        except OSError:
            tids = []
        for tid in tids:
            st = _read(f"/proc/{self.jvm}/task/{tid}/stat")
            if st is not None and "Compiler" in st[0]:
                self._jit[tid] = sum(int(x) for x in st[1][11:13])
        return sum(self._jit.values())

    def read(self) -> dict[str, float]:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit() and (st := _stat(pid)) is not None:
                procs[int(pid)] = st
        ticks = dict.fromkeys(ROLES, 0)
        for pid, (_, cpu) in procs.items():
            ancestor = pid
            while ancestor > 1 and ancestor != self.root:
                ancestor = procs.get(ancestor, (0, 0))[0]
            if ancestor != self.root:
                continue
            role = "driver" if pid == self.root else "jvm" if pid == self.jvm else "python_workers"
            ticks[role] += cpu
        if self.jvm is not None:
            ticks["jit"] = self._jit_ticks()
            ticks["jvm"] -= ticks["jit"]
        return {role: n / CLK_TCK for role, n in ticks.items()}


def spent(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {role: after[role] - before[role] for role in before}


def per_op(samples: list[dict[str, float]]) -> dict[str, float]:
    """CPU seconds per operation by role: the timed window's total over the
    operations timed."""
    return {role: sum(c[role] for c in samples) / len(samples) for role in ROLES}
