"""Process-tree CPU and memory read from ``/proc``.

``tree_snapshot`` sums, over every process under a root, the CPU the process
used itself plus the CPU of the children it has already reaped (``utime +
stime + cutime + cstime``). A process that exits and is reaped moves its
CPU into its parent's ``cutime``, so the sum keeps counting it: a Python
worker that exits mid-interval is not lost. The benchmark's parent
process is a child subreaper, so an orphaned descendant stays under the
root instead of moving to init.

The snapshot reads parents before children and starts over if a process
vanishes while it reads, so an exit during the read can neither drop a
child's CPU nor count it twice.
"""

from __future__ import annotations

import ctypes
import os
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file; fields[0] is state."""
    with open(path, "rb") as f:
        raw = f.read().decode(errors="replace")
    lp, rp = raw.index("("), raw.rindex(")")
    return raw[lp + 1 : rp], raw[rp + 2 :].split()


def _ppid_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, f = _stat_fields(f"/proc/{name}/stat")
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        children.setdefault(int(f[1]), []).append(int(name))
    return children


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own + reaped children
    cmd: str = ""


@dataclass
class TreeSnapshot:
    procs: dict[int, Proc] = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return sum(p.cpu_s for p in self.procs.values())

    def select(self, pred) -> list[Proc]:
        return [p for p in self.procs.values() if pred(p)]


def tree_snapshot(root: int, with_cmd: bool = False) -> TreeSnapshot:
    for _ in range(50):
        children = _ppid_map()
        snap = TreeSnapshot()
        queue, ok = [root], True
        while queue and ok:
            pid = queue.pop(0)
            try:
                comm, f = _stat_fields(f"/proc/{pid}/stat")
            except (FileNotFoundError, ProcessLookupError):
                ok = False
                break
            ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            snap.procs[pid] = Proc(pid, int(f[1]), comm, ticks / CLK_TCK, _cmdline(pid) if with_cmd else "")
            queue.extend(children.get(pid, []))
        if ok:
            return snap
    raise RuntimeError(f"process tree under {root} kept changing while read")


def thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """{tid: (thread name, own CPU seconds)} for the live threads of pid."""
    out: dict[int, tuple[str, float]] = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, f = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[int(tid)] = (comm, (int(f[11]) + int(f[12])) / CLK_TCK)
    return out


def process_cpu(pid: int) -> float:
    """Own CPU of pid, all threads including exited ones (no children)."""
    _, f = _stat_fields(f"/proc/{pid}/stat")
    return (int(f[11]) + int(f[12])) / CLK_TCK


def thread_kind(comm: str) -> str:
    """JVM thread class by name (``/proc/<pid>/task/<tid>/comm``)."""
    if comm.startswith("Executor task"):
        return "task"
    if comm.startswith(("GC Thread", "G1 ", "GC ")):
        return "gc"
    if "CompilerThre" in comm:
        return "jit"
    return "other"


def jvm_split(before: dict[int, tuple[str, float]], after: dict[int, tuple[str, float]],
              jvm_cpu_delta: float) -> dict[str, float]:
    """Split a JVM's CPU over an interval by thread class.

    Task, GC and other threads are summed per thread (a thread that started
    in the interval counts from zero). Compiler threads are created and
    retired on demand, so JIT is the residual: the process delta minus the
    three sums. CPU of any non-compiler thread that exited inside the
    interval also lands in the residual.
    """
    sums = {"task": 0.0, "gc": 0.0, "other": 0.0}
    for tid, (comm, cpu) in after.items():
        kind = thread_kind(comm)
        if kind == "jit":
            continue
        sums[kind] += cpu - before.get(tid, (comm, 0.0))[1]
    sums["jit"] = max(jvm_cpu_delta - sum(sums.values()), 0.0)
    return sums


def peak_rss_mb(pids: list[int]) -> float:
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def descendants(root: int) -> list[int]:
    children = _ppid_map()
    out, queue = [], list(children.get(root, []))
    while queue:
        pid = queue.pop(0)
        out.append(pid)
        queue.extend(children.get(pid, []))
    return out
