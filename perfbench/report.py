"""Pure helpers for the benchmark report: percentiles, span self time,
per-layer roll-ups and the result-line schema. No Spark here, so the unit
tests in ``test_perfbench.py`` run without a JVM."""

from __future__ import annotations

import json
import math
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile, n): ``value`` is the sorted sample with
    exactly ``beyond`` samples after it, and ``percentile`` the share of
    samples at or below it. None when the run has too few samples to name
    any such percentile (n <= beyond)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return float(s[k]), 100.0 * (k + 1) / n, n


def host_cores(before, after) -> tuple[float, float] | None:
    """(busy, steal) cores of the whole guest between two
    ``hostmetrics.proc_stat`` samples; None without /proc."""
    if not before or not after or after[2] <= before[2]:
        return None
    scale = (os.cpu_count() or 1) / (after[2] - before[2])
    return (after[0] - before[0]) * scale, (after[1] - before[1]) * scale


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (overlapping children are counted once)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ())
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def outermost(spans: list[dict], layer_of) -> list[dict]:
    """Spans that belong to a layer and have no ancestor in the same layer
    (nested calls of one layer are counted once)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        lay = layer_of(s)
        if lay is None:
            continue
        p = by_id.get(s.get("parent"))
        while p is not None and layer_of(p) != lay:
            p = by_id.get(p.get("parent"))
        if p is None:
            out.append(s)
    return out


def owning_layer(span_id: int, by_id: dict[int, dict], layer_of) -> str | None:
    """The innermost layer at or above ``span_id`` — the layer that a Spark
    job started under that span is charged to."""
    s = by_id.get(span_id)
    while s is not None:
        lay = layer_of(s)
        if lay is not None:
            return lay
        s = by_id.get(s.get("parent"))
    return None


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The last stdout line. ``metrics`` maps name -> (value, unit)."""
    for name, (value, unit) in metrics.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


def check_result(obj: dict, names: list[str]) -> list[str]:
    """Problems with a parsed result line against the metric names that
    BENCHMARK.json declares for the run's trace mode (empty = valid)."""
    errs = []
    if sorted(obj) != sorted(RESULT_KEYS):
        errs.append(f"keys {sorted(obj)}")
        return errs
    if not isinstance(obj["attempted"], int) or obj["attempted"] < 1:
        errs.append("attempted")
    if not isinstance(obj["failed"], int) or not 0 <= obj["failed"] <= obj["attempted"]:
        errs.append("failed")
    if sorted(obj["metrics"]) != sorted(names):
        errs.append(f"metric names {sorted(set(obj['metrics']) ^ set(names))}")
    for k, m in obj["metrics"].items():
        if sorted(m) != ["unit", "value"] or not isinstance(m["value"], (int, float)):
            errs.append(f"metric {k}")
    return errs
