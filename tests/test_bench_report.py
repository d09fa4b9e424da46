"""Unit tests for the BENCH.md renderer's measurement-admission logic.

tools/bench_report decides which per-stage walls count as verified engine
evidence — on a steal-heavy shared host this logic IS the integrity of every
scaling number we publish, so it gets the same test treatment as an
operator. Most tests are pure-python;
``test_scaling_record_carries_every_admitted_stage_key`` runs the scaling
bench's measurement body on Spark and checks that its record carries what
the admission rule reads, and ``test_retired_mode_exits_before_spark`` runs
``bench.py --scaling`` in a subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import tools.bench_report as br
import tools.bench_scaling as bs


def _knee_record(date, stages_lo, stages_hi, cpus_lo=2, cpus_hi=8):
    return {
        "knee_only": True,
        "date": date,
        "knee": {
            "levels": [cpus_lo, cpus_hi],
            "cluster": {
                str(cpus_lo): {"cpus": cpus_lo, "stages": stages_lo},
                str(cpus_hi): {"cpus": cpus_hi, "stages": stages_hi},
            },
        },
    }


def _stages(wall, steal, busy, names=("parse_qt",), own=None):
    """One stage window; ``own`` is the job's own CPU rate in cores
    (default: all of ``busy``, i.e. no foreign load)."""
    out = {}
    for n in names:
        out[n] = wall
        out[f"{n}_steal_cores"] = steal
        out[f"{n}_busy_cores"] = busy
        out[f"{n}_pg_cpu_s"] = (busy if own is None else own) * wall
    return out


def test_steal_gate_rejects_loud_stage():
    # a loud-parse run: only the rejected stage present → whole section
    # suppressed (nothing verified, nothing claimed)
    h = [_knee_record(
        "d1",
        _stages(100.0, steal=br.STEAL_CLEAN_CORES + 0.1, busy=2.0),
        _stages(30.0, steal=0.0, busy=8.0),
    )]
    assert br._stage_clean_lines(h) == []
    # with a clean companion stage forcing the section to render, the loud
    # stage's row must still show as unverified
    h.append(_knee_record(
        "d2", _stages(5.0, 0.0, 2.0, ("pip",)), _stages(1.5, 0.0, 8.0, ("pip",))
    ))
    joined = "\n".join(br._stage_clean_lines(h))
    assert "| parse_qt | — | — | — | no clean window yet (0 runs) |" in joined
    assert "| pip | 5.0 | 1.5 |" in joined


def test_busy_gate_rejects_competing_guest_load():
    # steal is clean on both levels, but the low level shows busy cores
    # beyond the job's own CPU by more than the margin — another process
    # competed; reject.
    h = [
        _knee_record(
            "d1",
            _stages(100.0, steal=0.0, busy=2 + br.BUSY_CLEAN_MARGIN + 0.5, own=2.0),
            _stages(30.0, steal=0.0, busy=8.0),
        ),
        _knee_record(
            "d2", _stages(5.0, 0.0, 2.0, ("pip",)), _stages(1.5, 0.0, 8.0, ("pip",))
        ),
    ]
    joined = "\n".join(br._stage_clean_lines(h))
    assert "| parse_qt | — | — | — | no clean window yet (0 runs) |" in joined


def test_clean_stage_admitted_with_min_wall_across_runs():
    h = [
        _knee_record("d1", _stages(100.0, 0.0, 2.0), _stages(40.0, 0.0, 8.0)),
        _knee_record("d2", _stages(90.0, 0.0, 2.0), _stages(30.0, 0.0, 8.0)),
        # loud run with a deceptively fast wall must NOT win
        _knee_record("d3", _stages(10.0, 5.0, 2.0), _stages(5.0, 5.0, 8.0)),
    ]
    joined = "\n".join(br._stage_clean_lines(h))
    # min admissible walls: 90 (N), 30 (4N) → eff 90/(4*30) = 0.75
    assert "| parse_qt | 90.0 | 30.0 | 0.75 | 2 clean run(s) |" in joined
    assert "0.75" in joined


def test_serial_stage_excluded_from_composite():
    names = ("parse_qt", "find_groups")
    h = [_knee_record(
        "d1",
        # find_groups busy ~1 core at BOTH levels (serial driver walk)
        {**_stages(100.0, 0.0, 2.0, ("parse_qt",)),
         **_stages(0.4, 0.0, 1.0, ("find_groups",))},
        {**_stages(25.0, 0.0, 8.0, ("parse_qt",)),
         **_stages(0.4, 0.0, 1.0, ("find_groups",))},
    )]
    joined = "\n".join(br._stage_clean_lines(h))
    assert "| find_groups | 0.4 | 0.4 | n/a (serial by design, excluded)" in joined
    # composite over parse_qt only: 100/(4*25) = 1.0
    n_parallel = len([s for s in br.STAGE_ORDER if s not in br.SERIAL_STAGES])
    assert f"1/{n_parallel} clean-covered parallel stages): 1.0" in joined


def test_no_parallel_coverage_claims_no_composite():
    h = [_knee_record(
        "d1",
        _stages(0.4, 0.0, 1.0, ("find_groups",)),
        _stages(0.4, 0.0, 1.0, ("find_groups",)),
    )]
    joined = "\n".join(br._stage_clean_lines(h))
    assert "No clean window on any parallel stage yet" in joined
    assert "composite is claimed" in joined


def test_empty_history_renders_nothing():
    assert br._stage_clean_lines([]) == []
    assert br._stage_clean_lines([{"date": "d", "cluster": {}}]) == []


def _headline_record(eff, steal_clean, spread, contaminated=False, ceiling=0.9):
    return {
        "knee_only": True,
        "date": "d",
        "contaminated": contaminated,
        "knee": {
            "levels": [2, 8],
            "efficiency_cluster": eff,
            "steal_clean": steal_clean,
            "probe_spread": spread,
            "calib_raw_cpu": {"efficiency": ceiling},
            "cluster": {
                "2": {"rows": 100, "rows_per_sec": 10.0},
                "8": {"rows": 100, "rows_per_sec": 10.0 * 4 * eff},
            },
        },
    }


def test_knee_clean_stats_picks_best_clean_and_best_tight():
    h = [
        _headline_record(0.9, steal_clean=False, spread=1.0),   # loud: out
        _headline_record(0.80, steal_clean=True, spread=1.5),   # clean, loose
        _headline_record(0.75, steal_clean=True, spread=1.03),  # clean, tight
        _headline_record(0.70, steal_clean=True, spread=1.01),  # clean, tight
        # steal-clean but contaminated flag (probe/other detector) — excluded
        _headline_record(0.95, steal_clean=True, spread=1.0, contaminated=True),
        # super-linear artifact (eff > 1) must never headline
        _headline_record(1.27, steal_clean=True, spread=1.0),
    ]
    s = br._knee_clean_stats(h)
    assert s["n_clean"] == 3
    assert s["best"]["efficiency_cluster"] == 0.80
    assert s["best_tight"]["efficiency_cluster"] == 0.75


def test_knee_clean_stats_empty_without_clean_runs():
    s = br._knee_clean_stats([_headline_record(0.9, False, 1.0)])
    assert s["best"] is None and s["best_tight"] is None and s["n_clean"] == 0


def test_stage_composite_requires_full_parallel_coverage():
    parallel = [s for s in br.STAGE_ORDER if s not in br.SERIAL_STAGES]
    # cover all but one parallel stage → no composite claimed
    partial = [
        _knee_record(
            "d1", _stages(8.0, 0.0, 2.0, (st,)), _stages(2.0, 0.0, 8.0, (st,))
        )
        for st in parallel[:-1]
    ]
    assert br._stage_composite(partial) is None
    # full coverage → Σt_N / (4 Σt_4N) with every stage at 8→2: 1.0
    full = partial + [
        _knee_record(
            "d2",
            _stages(8.0, 0.0, 2.0, (parallel[-1],)),
            _stages(2.0, 0.0, 8.0, (parallel[-1],)),
        )
    ]
    assert br._stage_composite(full) == 1.0


def test_scaling_record_carries_every_admitted_stage_key(spark, tmp_path, monkeypatch):
    """``tools.bench_scaling._scaling_body`` writes, for every STAGE_ORDER
    stage, the keys ``stage_clean`` reads: the wall and, where /proc exists,
    the stage's steal, busy and own-CPU figures."""
    monkeypatch.setattr(
        bs, "_staged_docs_path",
        lambda n_docs, parts, fallback_base="/tmp": str(tmp_path / f"docs_{n_docs}_{parts}"),
    )
    work = tmp_path / "work"
    work.mkdir()
    rec = bs._scaling_body(spark, str(work), 4, n_docs=1500, input_parts=4)
    want = set(br.STAGE_ORDER)
    if sys.platform == "linux":
        want |= {
            f"{st}{sfx}" for st in br.STAGE_ORDER
            for sfx in ("_steal_cores", "_busy_cores", "_pg_cpu_s")
        }
        assert {"steal_cores", "busy_cores"} <= set(rec)
    assert want <= set(rec["stages"])


def _committed_history():
    with open(bs.HISTORY_PATH) as f:
        return json.load(f)


def test_committed_history_composite():
    assert br._stage_composite(_committed_history()) == 0.7768


def test_committed_history_is_the_current_knee_config():
    want = (bs.KNEE_LEVELS, bs.N_DOCS_KNEE, bs.IMPL_TAG)
    history = _committed_history()
    assert history
    for h in history:
        k = h["knee"]
        assert (tuple(k["levels"]), k["n_docs"], k["impl"]) == want


def test_bench_py_imports_resolve():
    from tools.bench_scaling import (  # noqa: F401  (the names bench.py imports)
        jvm_calib_job, knee_repeat, knee_until, run_scaling, scaling_job,
        stage_docs, write_path_probe,
    )


def test_retired_mode_exits_before_spark():
    # a JVM launch under this PYSPARK_SUBMIT_ARGS fails with spark-submit's
    # own error, so the archive message proves the exit came first
    out = subprocess.run(
        [sys.executable, "bench.py", "--scaling"],
        cwd=br.REPO,
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "PYSPARK_SUBMIT_ARGS": "--no-such-flag"},
    )
    assert out.returncode != 0
    assert "BENCH_SCALING_ARCHIVE.json" in out.stderr
