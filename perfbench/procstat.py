"""Process-tree CPU and memory from ``/proc`` alone (no psutil).

The measured tree is the benchmark's driver process, the JVM it launches and
the Python workers the JVM forks.  CPU of a process counts its own
utime+stime plus cutime+cstime, the time of children it has already reaped,
so a worker that exits between two samples is still counted once, by the
process that waited for it.
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
    cpu_s: float
    hwm_mb: float


@dataclass(frozen=True)
class TreeSample:
    driver_cpu_s: float     # the Python process that drives Spark
    jvm_cpu_s: float        # the java process
    python_cpu_s: float     # Python workers forked under the JVM
    peak_rss_mb: float      # sum of VmHWM over the live tree

    @property
    def cpu_s(self) -> float:
        return self.driver_cpu_s + self.jvm_cpu_s + self.python_cpu_s

    def minus(self, other: "TreeSample") -> "TreeSample":
        return TreeSample(self.driver_cpu_s - other.driver_cpu_s,
                          self.jvm_cpu_s - other.jvm_cpu_s,
                          self.python_cpu_s - other.python_cpu_s,
                          self.peak_rss_mb)


def read_proc(pid: int, proc: str = "/proc") -> Proc | None:
    """One process, or None if it exited while being read."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            stat = f.read()
        with open(f"{proc}/{pid}/status") as f:
            status = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may contain spaces and parentheses: split at the last ')'
    comm = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    hwm_kb = 0
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            hwm_kb = int(line.split()[1])
    return Proc(pid, ppid, comm, (utime + stime + cutime + cstime) / CLK_TCK,
                hwm_kb / 1024)


def tree(root: int, proc: str = "/proc") -> list[Proc]:
    """``root`` and all its live descendants."""
    procs = {}
    for name in os.listdir(proc):
        if name.isdigit():
            p = read_proc(int(name), proc)
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(children.get(pid, []))
    return out


def sample(root: int, proc: str = "/proc") -> TreeSample:
    """Split the tree's CPU into driver, JVM and the JVM's Python workers."""
    procs = tree(root, proc)
    by_pid = {p.pid: p for p in procs}
    jvms = {p.pid for p in procs if p.comm == "java"}

    def under_jvm(p: Proc) -> bool:
        while p.ppid in by_pid:
            if p.ppid in jvms:
                return True
            p = by_pid[p.ppid]
        return False

    driver = jvm = python = 0.0
    for p in procs:
        if p.pid in jvms:
            jvm += p.cpu_s
        elif under_jvm(p):
            python += p.cpu_s
        else:
            driver += p.cpu_s
    return TreeSample(driver, jvm, python, sum(p.hwm_mb for p in procs))


def host(proc: str = "/proc") -> dict:
    """1-minute load average and cumulative steal time of the host."""
    with open(f"{proc}/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open(f"{proc}/stat") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    steal = int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0
    return {"loadavg_1m": load1, "steal_s": steal}
