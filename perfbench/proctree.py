"""CPU, memory and host counters read from ``/proc``.

The measured process tree is the benchmark's worker process, the JVM it
launches, and the pyspark daemon with its Python workers below the JVM.
CPU is read per thread (``utime + stime``) plus each process's
``cutime + cstime``, which hold children that exited and were reaped, so
a worker that ends between two reads still counts.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at ") "
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


# JIT compiler threads compile hot code while the JVM warms up; their
# CPU is warm-up work that fades in steady state, not work of the op.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def thread_cpu(pids: list[int]) -> dict[tuple, float]:
    """CPU ms per live thread of ``pids`` (JIT compiler threads left
    out), plus one ``(pid, "reaped")`` entry per process for children it
    has reaped."""
    out: dict[tuple, float] = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1 : raw.rindex(")")]
            if comm.startswith(_JIT_THREADS):
                continue
            f = raw[raw.rindex(")") + 2 :].split()
            out[(pid, tid)] = (int(f[11]) + int(f[12])) * 1000.0 / _TICK
        f = _stat(pid)
        if f is not None:
            out[(pid, "reaped")] = (int(f[13]) + int(f[14])) * 1000.0 / _TICK
    return out


def cpu_delta(before: dict[tuple, float], after: dict[tuple, float]) -> float:
    """CPU ms spent between two ``thread_cpu`` reads.  A thread that
    ended in between loses its last slice; a new one counts in full."""
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def python_workers(root: int) -> list[int]:
    """The pyspark daemon and its workers inside ``root``'s tree."""
    daemons = [p for p in tree(root) if "pyspark.daemon" in cmdline(p)]
    out: list[int] = []
    for d in daemons:
        out.extend(tree(d))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM).
    Peaks of different processes need not coincide, so this is an
    upper bound on the tree's peak."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    steal = f[7] if len(f) > 7 else 0
    # guest time is already inside user/nice
    return steal, sum(f[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def fault_mbps(mb: int = 64) -> float:
    """First-touch page-fault bandwidth of a fresh anonymous buffer:
    the host's speed at handing out new pages, which inflates cold
    allocations when it collapses."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.empty(mb * 131072, dtype=np.int64)
    a[::512] = 1  # one write per 4 KiB page
    dt = time.perf_counter() - t0
    del a
    return mb / dt
