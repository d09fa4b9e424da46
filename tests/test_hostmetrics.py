"""hostmetrics: the steal-immune per-phase CPU accounting behind every
stage record (``hostmetrics.stage``: prepare, rebase, tools/bench_scaling).

Linux-only counters — the module contracts to return None elsewhere, so
every test that reads /proc skips off-Linux rather than asserting platform
behavior.
"""

import sys

import pytest

from osmquadtree_bin_spark import hostmetrics
from osmquadtree_bin_spark.hostmetrics import (
    pg_cpu_jiffies,
    pg_cpu_seconds_delta,
    proc_stat,
    stage,
)

linux_only = pytest.mark.skipif(sys.platform != "linux", reason="/proc only")


def _burn(n: int = 4_000_000) -> int:
    return sum(i * i for i in range(n))


@linux_only
def test_pg_cpu_counts_own_busy_loop():
    p0 = pg_cpu_jiffies()
    _burn()
    p1 = pg_cpu_jiffies()
    d = pg_cpu_seconds_delta(p0, p1)
    # a ~0.5 s busy loop must register; the exact value is scheduler noise
    assert d is not None and d > 0.05


@linux_only
def test_proc_stat_monotone_totals():
    a = proc_stat()
    _burn(1_000_000)
    b = proc_stat()
    assert a and b
    assert b[2] > a[2]  # total jiffies advance
    assert b[0] >= a[0] and b[1] >= a[1]  # busy/steal never decrease


@linux_only
def test_stage_writes_wall_steal_busy_and_own_cpu():
    rec = {}
    with stage(rec, "burn"):
        _burn()
    assert set(rec) == {
        "burn", "burn_steal_cores", "burn_busy_cores", "burn_pg_cpu_s"
    }
    assert rec["burn"] > 0 and rec["burn_pg_cpu_s"] > 0.05
    assert rec["burn_steal_cores"] >= 0 and rec["burn_busy_cores"] > 0


def test_stage_without_proc_writes_only_the_wall(monkeypatch):
    monkeypatch.setattr(hostmetrics, "proc_stat", lambda: None)
    monkeypatch.setattr(hostmetrics, "pg_cpu_jiffies", lambda: None)
    rec = {}
    with stage(rec, "s"):
        _burn(10_000)
    assert set(rec) == {"s"} and rec["s"] >= 0


def test_stage_records_nothing_when_body_raises():
    rec = {"before": 1.0}
    with pytest.raises(ZeroDivisionError):
        with stage(rec, "boom"):
            1 / 0
    assert rec == {"before": 1.0}
