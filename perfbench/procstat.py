"""CPU and memory of a process tree, and the host's regime, from ``/proc``
(``psutil`` is not available).

The benchmark's process tree is its main Python process plus everything
it started (the JVM behind the Spark session and its Python workers) minus
the load generator, whose pid is excluded together with its descendants.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def children(proc: str = "/proc") -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process visible in ``proc``."""
    out: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name), proc)
        if f is not None:
            out.setdefault(int(f[1]), []).append(int(name))
    return out


def tree(root: int, exclude: set[int] = frozenset(),
         proc: str = "/proc") -> list[int]:
    """``root`` and its descendants, skipping each excluded pid together
    with its own descendants."""
    kids = children(proc)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pid: int, proc: str = "/proc",
                children_waited: bool = True) -> float:
    """user + system CPU of one process (all its threads) and, with
    ``children_waited``, that of the children it has already waited for."""
    f = _stat_fields(pid, proc)
    if f is None:
        return 0.0
    # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
    return sum(int(x) for x in f[11:15 if children_waited else 13]) / CLK_TCK


def peak_rss_mb(pid: int, proc: str = "/proc") -> float:
    """``VmHWM``: the process's peak resident set size."""
    try:
        with open(f"{proc}/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def jit_cpu_seconds(pid: int, proc: str = "/proc") -> float:
    """user + system CPU of a JVM's JIT compiler threads."""
    total = 0.0
    try:
        tids = os.listdir(f"{proc}/{pid}/task")
    except (FileNotFoundError, ProcessLookupError):
        return 0.0
    for tid in tids:
        try:
            with open(f"{proc}/{pid}/task/{tid}/stat", encoding="ascii",
                      errors="replace") as fh:
                raw = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if "CompilerThre" in name:
            f = raw[raw.rindex(")") + 2:].split()
            total += (int(f[11]) + int(f[12])) / CLK_TCK
    return total


def comm(pid: int, proc: str = "/proc") -> str:
    try:
        with open(f"{proc}/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


class TreeUsage:
    """CPU of the process tree under ``root`` split into JVM and Python,
    and the sum of the tree's peak RSS. The root's own waited-for
    children are left out: the only child it waits for is the load
    generator."""

    def __init__(self, root: int | None = None, proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.proc = proc
        self.exclude: set[int] = set()

    def sample(self) -> dict:
        jvm = py = rss = jvm_rss = jit = 0.0
        pids = tree(self.root, self.exclude, self.proc)
        for pid in pids:
            c = cpu_seconds(pid, self.proc, children_waited=pid != self.root)
            r = peak_rss_mb(pid, self.proc)
            if comm(pid, self.proc) == "java":
                jvm += c
                jvm_rss += r
                jit += jit_cpu_seconds(pid, self.proc)
            else:
                py += c
            rss += r
        return {"jvm_cpu_s": jvm, "py_cpu_s": py, "peak_rss_mb": rss,
                "jvm_peak_rss_mb": jvm_rss, "jit_cpu_s": jit,
                "processes": len(pids)}


def host_regime(proc: str = "/proc") -> dict:
    """Load average, steal and total CPU ticks (``/proc/stat``) and a
    fixed calibration loop: a diagnostic of how busy the host was, never
    used to rescale a metric."""
    with open(f"{proc}/loadavg", encoding="ascii") as fh:
        load1 = float(fh.read().split()[0])
    with open(f"{proc}/stat", encoding="ascii") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return {"loadavg_1m": load1, "steal_ticks": cpu[7],
            "total_ticks": sum(cpu[:8]),
            "calibration_s": time.perf_counter() - t}
