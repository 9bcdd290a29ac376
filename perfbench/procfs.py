"""CPU time, peak memory and machine load of the benchmark's process tree, read from /proc.

The tree is the benchmark's own Python process (the Spark driver side), the
JVM it launches, and the Python worker processes the JVM forks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # utime + stime of the process itself
    reaped_cpu_s: float  # cutime + cstime: children it has already waited for


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 of proc(5): ppid is field 4, utime..cstime are 14..17
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return Proc(pid, int(fields[1]), comm, (utime + stime) / CLK_TCK, (cutime + cstime) / CLK_TCK)


def tree(root: int | None = None) -> dict[int, Proc]:
    """Every live process descended from ``root`` (default: this process), root included."""
    root = os.getpid() if root is None else root
    procs = [p for p in (_read_stat(int(d)) for d in os.listdir("/proc") if d.isdigit()) if p]
    children: dict[int, list[Proc]] = {}
    for p in procs:
        children.setdefault(p.ppid, []).append(p)
    me = _read_stat(root)
    out: dict[int, Proc] = {}
    todo = [me] if me else []
    while todo:
        p = todo.pop()
        out[p.pid] = p
        todo.extend(children.get(p.pid, []))
    return out


def descendants(procs: dict[int, Proc], root: int) -> list[Proc]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for p in procs.values():
            if p.ppid == pid:
                out.append(p)
                todo.append(p.pid)
    return out


@dataclass(frozen=True)
class CpuSample:
    """Cumulative CPU seconds of the tree and of its three kinds of process."""

    total: float
    driver: float
    jvm: float
    pyworker: float

    def __sub__(self, other: CpuSample) -> CpuSample:
        return CpuSample(
            self.total - other.total,
            self.driver - other.driver,
            self.jvm - other.jvm,
            self.pyworker - other.pyworker,
        )


def cpu_sample(jvm_pid: int) -> CpuSample:
    procs = tree()
    me = procs[os.getpid()]
    # A process that ended was waited for by its parent, which adds its CPU
    # to its own reaped time; summing both over the live tree counts each
    # process exactly once.
    total = sum(p.cpu_s + p.reaped_cpu_s for p in procs.values())
    jvm = procs.get(jvm_pid)
    workers = [p for p in descendants(procs, jvm_pid) if p.comm.startswith("python")]
    return CpuSample(
        total,
        me.cpu_s,
        jvm.cpu_s if jvm else 0.0,
        sum(p.cpu_s + p.reaped_cpu_s for p in workers),
    )


def peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def ambient() -> str:
    """Load average, CPU pressure and steal time, to tell an ambient episode from a code change."""
    with open("/proc/loadavg") as f:
        load = " ".join(f.read().split()[:3])
    try:
        with open("/proc/pressure/cpu") as f:
            pressure = f.readline().strip()
    except OSError:
        pressure = "unavailable"
    # CPU time the hypervisor gave to other guests, summed over all CPUs (field 8 of "cpu")
    with open("/proc/stat") as f:
        fields = f.readline().split()
    steal = int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0
    return f"loadavg={load} cpu_pressure=[{pressure}] steal_s={steal:.2f}"
