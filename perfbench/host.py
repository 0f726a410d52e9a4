"""Environment pinning, host-health probes and memory readings."""

from __future__ import annotations

import os
import time

import numpy as np

TUNING_PREFIX = "SPARK_GRAFT_"


def pin_env(root: str) -> dict:
    """Remove the program's ``SPARK_GRAFT_*`` tuning variables and
    ``SPARK_LOCAL_DIRS`` (which would move Spark's scratch space out of the
    checkout), returned so the artifact records them; pin BLAS to one
    thread per process; put the checkout on the Python workers' path."""
    dropped = {k: os.environ.pop(k) for k in list(os.environ)
               if k.startswith(TUNING_PREFIX) or k == "SPARK_LOCAL_DIRS"}
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return dropped


def cores() -> int:
    """CPUs this process may run on (``nproc`` without OMP overrides)."""
    return len(os.sched_getaffinity(0))


def calibrate() -> float:
    """Single-thread speed probe (``bench.py``'s: 30 cumsums of 2 M
    doubles); seconds, ~0.2-0.5 on a quiet host."""
    arr = np.arange(2_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(30):
        s += float(np.cumsum(arr)[-1])
    return time.perf_counter() - t0


def cpu_snapshot() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the busy CPU time (user, nice, system, irq, softirq,
    steal) between two ``/proc/stat`` snapshots that the hypervisor
    gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d[i] for i in (0, 1, 2, 5, 6, 7))
    return d[7] / busy if busy else 0.0


class Interval:
    """Times a block: ``wall`` seconds, ``steal`` (``steal_share`` over
    the block) and ``s``, the wall time with the stolen share taken out.

    Other guests on this host take 1-20 % of the CPU time a run asks
    for, varying from run to run; the benchmark's timings are ``s`` so
    that this does not read as a change of the program. ``wall`` and
    ``steal`` are kept in the artifact."""

    def __enter__(self):
        self.t0, self.c0 = time.perf_counter(), cpu_snapshot()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.steal = steal_share(self.c0, cpu_snapshot())
        self.s = self.wall * (1.0 - self.steal)
        return False


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, dict]:
    """Sum of the peak resident sets of the driver JVM and every process
    under it (the Python worker daemon and its workers, which Spark
    reuses for the whole run), and the per-process peaks."""
    per, todo = {}, [jvm_pid]
    while todo:
        pid = todo.pop()
        per[pid] = _hwm_kb(pid) / 1024.0
        todo += _children(pid)
    return sum(per.values()), per
