"""BENCH.md renderer — pure formatting over the measured knee history.

tools/bench_scaling measures and appends to BENCH_SCALING_HISTORY.json; this
module is the ONE place a record becomes markdown. No measurement, no side
effects beyond writing BENCH.md. Re-render from the committed history with
``python tools/bench_report.py``.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAGE_ORDER = (
    "parse_qt", "count_tree", "find_groups", "assign_write_tiled",
    "lineage", "pip",
)
# find_groups is the deterministic driver-side group walk: serial BY DESIGN.
# lineage is prepare's per-tile audit: ``footers.tile_rows`` (a footer walk
# of a hive layout; one Spark count of the knee bench's flat layout) and a
# driver-side write. Neither stage's "efficiency" says anything about the
# engine's distributed stages, so they are reported by absolute wall and
# excluded from the composite.
SERIAL_STAGES = frozenset({"find_groups", "lineage"})
# A stage window counts as uncontaminated only when the hypervisor stole less
# than this many cores on average during it. 0.35 distorts a 2-core level by
# at most ~±17% and an 8-core level by ~±4%.
STEAL_CLEAN_CORES = 0.35
# Foreign-CPU margin: whole-guest busy cores minus the job's own
# descendant-tree CPU rate above this means ANOTHER process on the box
# competed during the window — contamination the steal counter cannot see
# (steal is hypervisor-level, busy is guest-level).
BUSY_CLEAN_MARGIN = 1.5


def stage_clean(stages: dict, st: str) -> bool:
    """Admission rule for one stage window.

    steal gate: hypervisor stole < STEAL_CLEAN_CORES during the window.

    busy gate: foreign busy, ``busy_cores − own_cpu_s / wall``, stays under
    BUSY_CLEAN_MARGIN. The own CPU (``{st}_pg_cpu_s``) is the job's
    descendant-tree CPU, so a stage that legitimately overcommits its
    allotment (pip: JVM pipeline + Arrow Python workers ≈ 10 busy cores on
    an 8-core level, identically at both levels) is not mistaken for a
    neighbor. A window without that figure is not admitted."""
    steal = stages.get(f"{st}_steal_cores")
    busy = stages.get(f"{st}_busy_cores")
    own = stages.get(f"{st}_pg_cpu_s")
    wall = stages.get(st)
    if steal is None or busy is None or own is None or not wall:
        return False
    return steal < STEAL_CLEAN_CORES and busy - own / wall < BUSY_CLEAN_MARGIN


def _knee_config(history: list[dict]) -> tuple | None:
    """(levels, n_docs, impl) of the NEWEST knee record — the config whose
    walls the report pools and whose level ratio sets the efficiency
    factor."""
    for h in reversed(history):
        k = h.get("knee")
        if k:
            return (tuple(k["levels"]), k.get("n_docs"), k.get("impl"))
    return None


def _pooled_levels(history: list[dict]):
    """(N-level record, 4N-level record) of every knee record matching the
    current config: min-walls from a different level pair, input size or
    engine revision would publish a ratio no single engine ever produced."""
    cfg = _knee_config(history)
    for h in history:
        k = h.get("knee")
        if k and (tuple(k["levels"]), k.get("n_docs"), k.get("impl")) == cfg:
            lo, hi = (str(x) for x in k["levels"])
            yield k["cluster"][lo], k["cluster"][hi]


def _knee_factor(history: list[dict]) -> float:
    """Core ratio hi/lo of the current knee config (4.0 for 2→8)."""
    cfg = _knee_config(history)
    lo, hi = cfg[0] if cfg else (1, 4)
    return hi / lo


def _best_walls(history: list[dict]) -> dict:
    """{stage: (best N wall, best 4N wall, admitted runs)} over the windows
    where the stage is clean (``stage_clean``) on BOTH levels of one run.
    Steal and competition only ever inflate a wall, so the minimum is the
    engine's best-verified wall."""
    per_stage: dict[str, list[tuple[float, float]]] = {s: [] for s in STAGE_ORDER}
    for c_lo, c_hi in _pooled_levels(history):
        s_lo, s_hi = c_lo.get("stages", {}), c_hi.get("stages", {})
        for st in STAGE_ORDER:
            if stage_clean(s_lo, st) and stage_clean(s_hi, st):
                per_stage[st].append((s_lo[st], s_hi[st]))
    return {
        st: (min(m[0] for m in ms), min(m[1] for m in ms), len(ms))
        for st, ms in per_stage.items()
        if ms
    }


def _composite(best: dict, factor: float) -> tuple[list[str], float | None]:
    """(covered parallel stages, Σt_N / (factor·Σt_4N) over them)."""
    covered = [st for st in STAGE_ORDER if st not in SERIAL_STAGES and st in best]
    tot_hi = sum(best[st][1] for st in covered)
    tot_lo = sum(best[st][0] for st in covered)
    return covered, (round(tot_lo / (factor * tot_hi), 4) if tot_hi else None)


def _stage_composite(history: list[dict]) -> float | None:
    """Composite over the best admissible wall per parallel stage; None
    until every parallel stage has a clean window."""
    covered, comp = _composite(_best_walls(history), _knee_factor(history))
    return comp if len(covered) == len(STAGE_ORDER) - len(SERIAL_STAGES) else None


def _knee_clean_stats(history: list[dict]) -> dict:
    """Headline numbers over all below-knee pairs: the best steal-clean
    efficiency, and the best steal-clean pair whose single-thread probe
    spread is also < 1.25 (both contamination detectors quiet at once)."""
    clean = [
        h["knee"]
        for h in history
        if h.get("knee")
        and not h.get("contaminated")
        and h["knee"].get("steal_clean")
        and h["knee"]["efficiency_cluster"] <= 1.0
    ]
    tight = [k for k in clean if (k.get("probe_spread") or 99) < 1.25]
    best = max(clean, key=lambda k: k["efficiency_cluster"], default=None)
    best_t = max(tight, key=lambda k: k["efficiency_cluster"], default=None)
    return {"n_clean": len(clean), "best": best, "best_tight": best_t}


def _stage_clean_lines(history: list[dict]) -> list[str]:
    """Steal-verified per-stage scaling: on a box whose neighbor arrives in
    multi-minute bursts, a 12-minute pair is rarely clean end-to-end, but
    individual STAGES often are. The composite Σt_N / (4·Σt_4N) over the
    best-verified walls is the engine's steal-verified below-knee
    efficiency."""
    best = _best_walls(history)
    if not best:
        return []
    factor = _knee_factor(history)
    rows = []
    for st in STAGE_ORDER:
        if st not in best:
            rows.append(f"| {st} | — | — | — | no clean window yet (0 runs) |")
            continue
        b_lo, b_hi, n = best[st]
        eff = (
            "n/a (serial by design, excluded)"
            if st in SERIAL_STAGES
            else round(b_lo / (factor * b_hi), 3)
        )
        rows.append(f"| {st} | {b_lo} | {b_hi} | {eff} | {n} clean run(s) |")
    covered, comp = _composite(best, factor)
    cfg = _knee_config(history)
    n_pooled = sum(1 for _ in _pooled_levels(history))
    if covered:
        composite_line = (
            f"**Composite steal-verified below-knee efficiency "
            f"(Σt_N / {factor:g}·Σt_4N over the {len(covered)}/"
            f"{len(STAGE_ORDER) - len(SERIAL_STAGES)} clean-covered parallel "
            f"stages): {comp}.**"
        )
    else:
        composite_line = (
            "**No clean window on any parallel stage yet — no "
            "composite is claimed from this table** (the serial steps are "
            "excluded by design)."
        )
    return [
        "## Steal-verified per-stage scaling (hypervisor-counter-clean windows)",
        "",
        "A stage row is admitted only when, during that stage's window on "
        f"BOTH levels of the same run, /proc/stat shows < {STEAL_CLEAN_CORES}"
        " cores stolen AND foreign busy-cores (whole-guest busy minus the "
        "job's own descendant-tree CPU rate: a stage whose JVM pipeline "
        "overlaps its Arrow Python workers legitimately runs more busy cores "
        "than its allotment, identically at both levels) stayed under "
        f"{BUSY_CLEAN_MARGIN}. Walls below are the minimum over admissible "
        "windows (steal and competition only ever inflate a wall). The "
        "driver-side group walk and the per-tile lineage audit (one Spark "
        "count of the flat layout) are shown by absolute wall only.",
        "",
        f"Pooling config: levels {list(cfg[0])}, n_docs {cfg[1]}, engine "
        f"impl tag `{cfg[2]}` — {n_pooled} knee records.",
        "",
        "| stage | best clean N wall (s) | best clean 4N wall (s) | "
        "efficiency | evidence |",
        "|---|---|---|---|---|",
        *rows,
        "",
        composite_line,
        "",
    ]


def _cpu_work_lines(history: list[dict]) -> list[str]:
    """Steal-immune CPU-work accounting: the stage's own descendant-tree CPU
    (``{st}_pg_cpu_s``) counts only cycles this job executed (hypervisor
    steal inflates WALL, not CPU time). The ratio work_4N / work_N
    ("inflation", ideal 1.0) is an UPPER BOUND on the engine's parallel
    overhead: a neighbor hammering the shared memory system makes each of
    our scheduled cycles do less work, hitting the wider level harder — the
    minimum across runs is the tightest bound. No admission gate: that is
    the point of this table."""
    per_stage: dict[str, list[tuple[float, float]]] = {s: [] for s in STAGE_ORDER}
    for c_lo, c_hi in _pooled_levels(history):
        s_lo, s_hi = c_lo.get("stages", {}), c_hi.get("stages", {})
        for st in STAGE_ORDER:
            w_lo, w_hi = s_lo.get(f"{st}_pg_cpu_s"), s_hi.get(f"{st}_pg_cpu_s")
            if w_lo is not None and w_hi is not None and w_lo > 0.5 and w_hi > 0.5:
                per_stage[st].append((w_lo, w_hi))
    if not any(per_stage.values()):
        return []
    rows = []
    for st in STAGE_ORDER:
        meas = per_stage[st]
        if not meas:
            rows.append(f"| {st} | — | — | — | 0 runs |")
            continue
        w_lo, w_hi = min(meas, key=lambda m: m[1] / m[0])
        rows.append(
            f"| {st} | {w_lo:.1f} | {w_hi:.1f} | {w_hi / w_lo:.2f} | "
            f"{len(meas)} runs |"
        )
    return [
        "## CPU-work accounting (steal-immune, upper-bounds engine overhead)",
        "",
        "CPU-seconds the stage's own process tree executed (`*_pg_cpu_s`). "
        "The hypervisor's steal inflates wall, never CPU time, so this "
        "metric survives loud windows. `inflation` = CPU-work at 4N ÷ "
        "CPU-work at N (ideal 1.0 — same job, same input, 4× the cores). "
        "It upper-bounds the engine's parallel overhead: neighbor pressure "
        "on the shared memory system turns our cycles into stalls, hitting "
        "the wider level harder, so each row shows the MINIMUM-inflation "
        "run. Wall efficiency ≈ 1/inflation when all stages are fully "
        "parallel.",
        "",
        "| stage | best CPU-work N (core·s) | CPU-work 4N (same run) | "
        "inflation 4N/N | evidence |",
        "|---|---|---|---|---|",
        *rows,
        "",
    ]


def _verdict_lines(history: list[dict]) -> list[str]:
    stats = _knee_clean_stats(history)
    b, bt = stats["best"], stats["best_tight"]
    if b is None:
        return []
    kn, kn4 = b["levels"]
    out = [
        "## North-rule verdict (auto-computed from the measured history)",
        "",
        f"Below the bandwidth knee ({kn}→{kn4} cores, {kn // kn}→{kn4 // kn} "
        "executor JVMs, where the no-engine hardware ceiling clears ~0.89), "
        f"over {stats['n_clean']} hypervisor-steal-clean pairs:",
        "",
        f"- **Best steal-clean efficiency: {b['efficiency_cluster']}** "
        f"(no-engine ceiling that run: {b['calib_raw_cpu']['efficiency']}).",
    ]
    if bt is not None:
        lo, hi = bt["cluster"][str(kn)], bt["cluster"][str(kn4)]
        out.append(
            f"- **Best fully-tight pair (steal-clean AND probe-spread "
            f"{bt.get('probe_spread')} < 1.25): {bt['efficiency_cluster']}** — "
            f"{lo['rows']:,} rows at {lo['rows_per_sec']:,.0f} rows/s "
            f"({kn} cores) vs {hi['rows_per_sec']:,.0f} rows/s ({kn4} cores)."
        )
    composite = _stage_composite(history)
    if composite is not None:
        out.append(
            f"- **Composite steal-verified per-stage efficiency: {composite}** "
            "(best hypervisor-clean window per stage; table below)."
        )
    return out + [""]


def write_bench_md(history: list[dict]) -> None:
    """Render the knee history to BENCH.md."""
    lines = [
        "# BENCH — scaling evidence (north rule)",
        "",
        "Generated by `tools/bench_report.py` from BENCH_SCALING_HISTORY.json "
        "(appended by `python bench.py --knee-repeat K`); nothing below is "
        "hand-maintained. The job: span parse + quadtree Calculate → slim "
        "elements table → count tree → group walk → tile assignment → tiled "
        "shuffle-write → lineage audit, plus a PIP join, through "
        "`jobs.prepare_job.prepare_pipeline`, at two levels of separate "
        "executor JVMs (`local-cluster`) over the same tmpfs-staged input. "
        "The retired 8→32, thread-mode, write-path and calibration records "
        "are in BENCH_SCALING_ARCHIVE.json.",
        "",
        *_verdict_lines(history),
        *_stage_clean_lines(history),
        *_cpu_work_lines(history),
        "## Scope of the headline q26 leaf",
        "",
        "q26 times the count-tree pass plus the driver-side rollup of the "
        "collected cell counts (numpy assigner over ≤150k cells), not the "
        "distributed assigner. The general distributed assigner "
        "(`tiling.assign_tiles`) is measured by perfbench `update` "
        "(`python3 perfbench/run.py --workload update`).",
        "",
    ]
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    with open(os.path.join(REPO, "BENCH_SCALING_HISTORY.json")) as f:
        write_bench_md(json.load(f))
