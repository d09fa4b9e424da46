"""Host-side metric counters for per-phase job accounting.

Two complementary views, both from /proc (Linux-only, None elsewhere):

* whole-guest busy/steal jiffies (`proc_stat`) — tells apart "this phase is
  slow" from "this phase was robbed" on a shared host (steal is the
  hypervisor's counter of runnable-but-preempted time);
* process-tree CPU jiffies (`pg_cpu_jiffies`) — the job's OWN compute cost
  (driver python + the JVM it launched + executor JVMs + Arrow UDF workers),
  immune to BOTH hypervisor steal (steal inflates wall, never CPU time) and
  other guest processes.

`stage(record, name)` is the one stage timer built on both views: prepare,
rebase and the scaling bench wrap each phase in it, and it writes that
phase's record keys into the caller's dict (see its docstring).
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager


def proc_stat() -> tuple[int, int, int] | None:
    """(busy, steal, total) jiffies from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def _job_pids() -> set[int] | None:
    """PIDs of the caller and every live DESCENDANT process, by walking the
    /proc ppid tree. Process-GROUP membership is NOT sufficient for "the
    job's own processes": pyspark's Python daemon calls ``os.setpgid(0, 0)``
    (pyspark/daemon.py), so every Arrow/pandas UDF worker leaves the group
    and its CPU vanished from the old pgrp-based accounting — which made
    UDF-heavy stages (pip) look like they ran under neighbor competition
    (busy ≫ "own") and systematically fail the busy-clean admission gate.
    The parent CHAIN stays intact (no setsid / double-fork in that path),
    so descendant-tree membership captures driver JVM → executor JVMs →
    daemons → workers completely, and nothing that is not ours."""
    try:
        me = os.getpid()
    except OSError:
        return None
    ppid: dict[int, int] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                parts = f.read().rsplit(") ", 1)[1].split()
            ppid[int(st.split("/")[2])] = int(parts[1])
        except (OSError, IndexError, ValueError):
            continue
    if not ppid:
        return None
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out: set[int] = set()
    stack = [me]
    while stack:
        p = stack.pop()
        if p in out:
            continue
        out.add(p)
        stack.extend(kids.get(p, ()))
    return out


def pg_cpu_jiffies() -> int | None:
    """CPU jiffies (utime+stime, incl. reaped children via cutime/cstime) of
    the caller and every descendant process (see ``_job_pids`` for why the
    tree, not the process group, defines "the job's own processes"). A
    child's time is counted from its own /proc entry while alive and folds
    into the parent's cutime/cstime when reaped, so the sum is continuous
    across process exits."""
    pids = _job_pids()
    if not pids:
        return None
    total = 0
    seen = False
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                # comm can contain spaces/parens: split after the LAST ') '
                # — fields after it are fixed-position
                parts = f.read().rsplit(") ", 1)[1].split()
            seen = True
            total += sum(int(parts[i]) for i in (11, 12, 13, 14))
        except (OSError, IndexError, ValueError):
            continue
    # no /proc (non-Linux POSIX) — honor the documented None contract
    # instead of reporting 0 jiffies
    return total if seen else None


def pg_cpu_seconds_delta(before: int | None, after: int | None) -> float | None:
    if before is None or after is None:
        return None
    return round((after - before) / os.sysconf("SC_CLK_TCK"), 2)


def cores_between(before, after) -> dict[str, float]:
    """Average stolen and busy cores of the whole guest between two
    ``proc_stat`` samples; empty without /proc."""
    if not before or not after or after[2] <= before[2]:
        return {}
    dt = after[2] - before[2]
    ncpu = os.cpu_count() or 1
    return {
        "steal_cores": round((after[1] - before[1]) / dt * ncpu, 3),
        "busy_cores": round((after[0] - before[0]) / dt * ncpu, 3),
    }


@contextmanager
def stage(record: dict, name: str):
    """Time one pipeline stage into ``record``: ``name`` is its wall
    seconds, ``name_steal_cores`` / ``name_busy_cores`` the whole guest's
    average stolen and busy cores over the window, ``name_pg_cpu_s`` the
    job's own process-tree CPU seconds. The /proc-backed keys are written
    only when /proc can be read. A body that raises records nothing.

    Sets no Spark job group: a caller that traces jobs by group (perfbench)
    keeps every job of the stage inside its own span."""
    c0, p0 = proc_stat(), pg_cpu_jiffies()
    t0 = time.perf_counter()
    yield
    record[name] = round(time.perf_counter() - t0, 3)
    c1, p1 = proc_stat(), pg_cpu_jiffies()
    for k, v in cores_between(c0, c1).items():
        record[f"{name}_{k}"] = v
    cpu_s = pg_cpu_seconds_delta(p0, p1)
    if cpu_s is not None:
        record[f"{name}_pg_cpu_s"] = cpu_s
