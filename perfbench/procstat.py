"""Process-tree CPU and memory readings from ``/proc``.

The benchmark's tree is this Python process, the JVM it launches and the
JVM's Python workers.  Everything else on the box is "external": its CPU
during a run is the run's own noise reading (the ``/proc`` jiffies method
of ``bench.py::_external_cpu_jiffies``, copied here so the benchmark does
not import the program's bench script).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


@dataclass
class Proc:
    pid: int
    ppid: int
    name: str
    cpu: int  # utime + stime + cutime + cstime, jiffies
    hwm_kb: int  # peak resident set (VmHWM)


def _read_stat(pid: int) -> tuple[int, str, int] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # raced exit
        return None
    name = raw[raw.find(b"(") + 1 : raw.rfind(b")")].decode(errors="replace")
    # comm can contain spaces and parens: split after the LAST ')'
    rest = raw[raw.rfind(b")") + 2 :].split()
    cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return int(rest[1]), name, cpu


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def all_procs() -> dict[int, tuple[int, str, int]]:
    out = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _read_stat(int(p))
            if st is not None:
                out[int(p)] = st
    return out


def tree(root: int | None = None) -> dict[int, Proc]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    procs = all_procs()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, Proc] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            ppid, name, cpu = procs[pid]
            out[pid] = Proc(pid, ppid, name, cpu, _hwm_kb(pid))
            todo.extend(children.get(pid, []))
    return out


def is_python_worker(proc: Proc) -> bool:
    return proc.name.startswith("python") and "pyspark" in _cmdline(proc.pid)


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


@dataclass
class Snapshot:
    procs: dict[int, Proc]
    external: int
    steal: int

    @staticmethod
    def take() -> "Snapshot":
        """The tree, the jiffies of every process outside it, and steal."""
        t = tree()
        ext = sum(c for pid, (_, _, c) in all_procs().items() if pid not in t)
        return Snapshot(t, ext, steal_jiffies())


def cpu_delta_s(a: Snapshot, b: Snapshot, pick=lambda p: True) -> float:
    """CPU seconds the tree spent between two snapshots.  A process born
    in between counts from zero; one that died is lost unless a tree
    member reaped it (then its time is in the parent's cutime)."""
    total = 0
    for pid, p in b.procs.items():
        if pick(p):
            prev = a.procs.get(pid)
            total += p.cpu - (prev.cpu if prev and prev.name == p.name else 0)
    return total / CLK_TCK


def peak_rss_mb(s: Snapshot) -> float:
    return sum(p.hwm_kb for p in s.procs.values()) / 1024.0
