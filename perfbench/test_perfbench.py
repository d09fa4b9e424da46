"""Unit tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os

import pytest

from perfbench.report import (
    NAME_RE, UNIT_RE, check_result, outermost, result_line, self_times, tail,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ percentile rule
def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 21))  # 1..20
    v, p, n = tail(xs)
    assert n == 20
    assert v == 10 and sum(x > v for x in xs) == 10
    assert p == 50.0


def test_tail_on_large_sample_is_high_percentile():
    xs = [float(i) for i in range(1000)]
    v, p, n = tail(xs)
    assert v == 989.0 and p == 99.0 and n == 1000
    assert sum(x > v for x in xs) == 10


def test_tail_is_order_independent():
    xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 0]
    assert tail(xs) == tail(sorted(xs))
    assert tail(xs)[0] == 1  # 12 samples: the 2nd smallest has 10 beyond


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail(list(range(n))) is None


# ----------------------------------------------------------------- self time
def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 6.0)]
    st = self_times(spans)
    assert st[1] == pytest.approx(7.0)
    assert st[2] == pytest.approx(2.0) and st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # children on two threads overlap: [1,4] and [3,6] cover 5 s, not 6
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0), _span(3, 1, 3.0, 6.0)]
    assert self_times(spans)[1] == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    # a child that outlives its parent (a handler thread still finishing)
    spans = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 5.0)]
    assert self_times(spans)[1] == pytest.approx(1.0)


def test_self_time_counts_only_direct_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 0.0, 4.0), _span(3, 2, 0.0, 4.0)]
    st = self_times(spans)
    assert st[1] == pytest.approx(6.0) and st[2] == pytest.approx(0.0)


def test_outermost_counts_nested_same_layer_once():
    spans = [_span(1, None, 0, 10, "op"), _span(2, 1, 0, 5, "a"), _span(3, 2, 1, 2, "a"),
             _span(4, 3, 1, 2, "b")]
    got = outermost(spans, lambda s: None if s["name"] == "op" else s["name"])
    assert sorted(s["id"] for s in got) == [2, 4]


# ------------------------------------------------------- metric name format
@pytest.mark.parametrize("name", ["setup_s", "tiling.count_tree.busy_s", "a", "9x", "a-b.c_d"])
def test_metric_name_ok(name):
    assert NAME_RE.match(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65])
def test_metric_name_rejected(name):
    assert not NAME_RE.match(name)


@pytest.mark.parametrize("unit", ["ms", "s", "1/s", "count", "rows/s", "%", "MB"])
def test_unit_ok(unit):
    assert UNIT_RE.match(unit)


def test_benchmark_json_names_units_and_layers():
    from perfbench.layers import metric_specs

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    assert all(UNIT_RE.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metric_specs()
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# ------------------------------------------------------------ report schema
def test_result_line_round_trips_and_validates():
    line = result_line(True, 12, 0, {"op_p50_ms": (1.25, "ms"), "setup_s": (8.5, "s")})
    obj = json.loads(line)
    assert check_result(obj, ["op_p50_ms", "setup_s"]) == []
    assert obj["metrics"]["op_p50_ms"] == {"value": 1.25, "unit": "ms"}
    assert check_result(obj, ["op_p50_ms"])  # an undeclared metric is reported


def test_result_line_rejects_bad_input():
    with pytest.raises(ValueError):
        result_line(True, 0, 0, {"setup_s": (1.0, "s")})  # nothing attempted
    with pytest.raises(ValueError):
        result_line(True, 3, 4, {"setup_s": (1.0, "s")})  # more failed than attempted
    with pytest.raises(ValueError):
        result_line(True, 3, 0, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        result_line(True, 3, 0, {"setup_s": (float("nan"), "s")})


def test_check_result_flags_missing_keys():
    assert check_result({"correct": True, "metrics": {}}, [])


# ------------------------------------------------------- workload roll-ups
def test_update_report_splits_each_pair_into_batches():
    from perfbench.workloads import Update

    ops = [{"wall": 3.0, "work": 320, "clustered": 1.0, "scattered": 2.0},
           {"wall": 5.0, "work": 320, "clustered": 2.0, "scattered": 3.0}]
    out = Update().report(ops)
    assert out["diff_batch_p50_s"][0] == 2.0  # median of the four batches
    assert out["diff_batch_clustered_p50_s"][0] == 1.5
    assert out["diff_batch_scattered_p50_s"][0] == 2.5
    assert out["diff_rows_per_s"][0] == 640 / 8.0


def test_serve_report_counts_requests_not_steps():
    from types import SimpleNamespace

    from perfbench.workloads import Serve

    wl = Serve()
    cache = SimpleNamespace(hits=1, misses=3)
    wl.ts = SimpleNamespace(bbox_cache=cache, tile_cache=cache)
    wl.h0 = (0, 0, 0, 0)
    step = [{"route": "tile", "path": "/tile/1", "wall": 0.1},
            {"route": "query", "path": "/query?a", "wall": 0.9},
            {"route": "tile", "path": "/tile/1", "wall": 0.3}]
    out = wl.report([{"wall": 1.3, "work": 3, "requests": step}])
    assert wl.latencies([{"wall": 1.3, "work": 3, "requests": step}]) == [0.1, 0.9, 0.3]
    assert out["serve_p50_ms"][0] == pytest.approx(300.0)
    assert out["serve_tile_p50_ms"][0] == pytest.approx(200.0)
    assert out["repeat_share"][0] == pytest.approx(1 / 3)
    assert out["tile_cache_hit_ratio"][0] == 0.25
