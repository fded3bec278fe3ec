"""Process-tree CPU, memory and host-steal readings from /proc.

The benchmark process is the root of the tree. Its children are the Spark
JVM (local mode: driver and executor threads in one process) and, under the
JVM, the ``pyspark.daemon`` and its forked Arrow UDF workers. CPU of workers
that already exited is found in their parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")


@dataclass
class Proc:
    pid: int
    ppid: int
    cpu_s: float  # utime + stime
    reaped_s: float  # cutime + cstime of reaped children
    hwm_mb: float


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        hwm = 0.0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024.0
                    break
    except OSError:
        return None
    f = raw.rsplit(")", 1)[1].split()
    # fields after the comm: [1]=ppid, [11..14]=utime, stime, cutime, cstime
    return Proc(pid, int(f[1]), (int(f[11]) + int(f[12])) / _HZ,
                (int(f[13]) + int(f[14])) / _HZ, hwm)


def tree(root: int) -> list[Proc]:
    """Every live process descended from ``root``, root included."""
    procs = [p for p in (_read(int(d)) for d in os.listdir("/proc")
                         if d.isdigit()) if p is not None]
    kids: dict[int, list[Proc]] = {}
    for p in procs:
        kids.setdefault(p.ppid, []).append(p)
    out, stack = [], [p for p in procs if p.pid == root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p.pid, []))
    return out


@dataclass
class CpuSplit:
    jvm_s: float = 0.0
    python_workers_s: float = 0.0
    driver_s: float = 0.0  # this process: the engine's driver-side Python

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.python_workers_s + self.driver_s

    def __add__(self, o: "CpuSplit") -> "CpuSplit":
        return CpuSplit(self.jvm_s + o.jvm_s,
                        self.python_workers_s + o.python_workers_s,
                        self.driver_s + o.driver_s)

    def __sub__(self, o: "CpuSplit") -> "CpuSplit":
        return CpuSplit(self.jvm_s - o.jvm_s,
                        self.python_workers_s - o.python_workers_s,
                        self.driver_s - o.driver_s)


def cpu_split(jvm_pid: int) -> CpuSplit:
    """CPU seconds so far of the JVM, of the Python workers under it, and of
    this process."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    jvm, workers = 0.0, 0.0
    for p in tree(jvm_pid):
        if p.pid == jvm_pid:
            jvm += p.cpu_s
            workers += p.reaped_s  # a reaped pyspark.daemon
        else:
            workers += p.cpu_s + p.reaped_s
    return CpuSplit(jvm, workers, me.ru_utime + me.ru_stime)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the JVM plus the live Python workers under it."""
    return sum(p.hwm_mb for p in tree(jvm_pid))


def host_cpu() -> tuple[float, float]:
    """Host-wide (busy, steal) CPU seconds from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return busy / _HZ, (v[7] if len(v) > 7 else 0) / _HZ
