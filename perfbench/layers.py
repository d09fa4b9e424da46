"""Per-layer metrics of a traced run.

Layers are the engine's module names. Which end-to-end metric each layer
should move, and on which workload (the prediction a change is judged
against):

=============================  ===========================================  ==============
layer                          should move ... on                           should not move
=============================  ===========================================  ==============
spans                          work_per_s on prepare                        update, serve
tiling.count_tree              work_per_s on prepare                        update, serve
tiling.find_groups             work_per_s on prepare (small)                update, serve
tiling.assign_write            work_per_s on prepare; store bytes/input     update, serve
tiling.assign_tiles (general)  op_p50_ms and work_per_s on update           prepare, serve
footers                        op_p50_ms on update (scattered batches)      serve
operators.pip_join             work_per_s on prepare and serve (/extract)   update
streaming.update.apply_diff    op_p50_ms and work_per_s on update           prepare, serve
plans.store                    op_p50_ms and work_per_s on serve            prepare, update
server                         op_p50_ms and work_per_s on serve            prepare, update
sources.to_geojson             op_p50_ms and work_per_s on serve            prepare, update
plans.tables                   work_per_s on serve (/query)                 prepare, update
=============================  ===========================================  ==============

One serve op is a map step of eight requests (/tile and /bbox three times
each, one /query, one /extract). Its ``op_p50_ms`` is the median request,
which is a /tile or /bbox request; every route moves ``work_per_s`` by its
share of the step, and the per-route medians are printed by name. One
update op is a clustered and a scattered batch.

Time is reported as a share of the traced ops' wall (``busy_share``,
``gc_share``; ``executor_cores`` and ``cpu_cores`` are task seconds per
wall second), counts and bytes per traced op (a pass, a pair of batches or
a map step), so runs with different op counts and hosts of different speed
compare. The raw span durations are in the spans file. A layer that a workload does not
exercise reports 0: that is the "should not move" prediction, measured."""

from __future__ import annotations

from perfbench import trace
from perfbench.report import host_cores, median, outermost, owning_layer

LAYERS = (
    "spans", "tiling.count_tree", "tiling.find_groups", "tiling.assign_write",
    "tiling.assign_tiles", "footers", "operators.pip_join",
    "streaming.update.apply_diff", "plans.store", "server", "sources.to_geojson",
    "plans.tables",
)
COMMON = (("busy_share", "ratio"), ("tasks", "count"), ("gc_share", "ratio"),
          ("executor_cores", "cores"))
EVENT = ("jobs", "tasks", "executor_run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "bytes_written", "records_written")
ROUTES = ("tile", "bbox", "query", "extract")

SPECIFIC = (
    ("spans.cpu_cores", "cores"), ("spans.rows_out", "count"),
    ("tiling.count_tree.busy_cores", "cores"), ("tiling.count_tree.cells_out", "count"),
    ("tiling.count_tree.shuffle_write_bytes", "bytes"),
    ("tiling.find_groups.groups", "count"),
    ("tiling.assign_write.cpu_cores", "cores"),
    ("tiling.assign_write.shuffle_read_bytes", "bytes"),
    ("tiling.assign_write.shuffle_write_bytes", "bytes"),
    ("tiling.assign_write.spill_bytes", "bytes"), ("tiling.assign_write.bytes_written", "bytes"),
    ("tiling.assign_write.files", "count"),
    ("footers.files_read", "count"),
    ("operators.pip_join.cpu_cores", "cores"), ("operators.pip_join.pairs_out", "count"),
    ("streaming.update.apply_diff.touched_tiles", "count"),
    ("streaming.update.apply_diff.bytes_rewritten_per_diff_row", "bytes"),
    ("streaming.update.apply_diff.spark_jobs", "count"),
    ("streaming.update.apply_diff.ledger_files", "count"),
    ("plans.store.prune_share", "ratio"), ("plans.store.tiles_per_request", "count"),
    *((f"server.{r}_share", "ratio") for r in ROUTES),
    ("server.bbox_cache_hit_ratio", "ratio"), ("server.tile_cache_hit_ratio", "ratio"),
    ("server.http_overhead_share", "ratio"),
    ("sources.to_geojson.features_out", "count"),
    ("host.busy_cores", "cores"), ("host.steal_cores", "cores"),
    ("trace.traced_ops", "count"), ("trace.overhead_share", "ratio"),
)


def metric_specs() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in the order BENCHMARK.json
    lists them."""
    return [(f"{lay}.{m}", u) for lay in LAYERS for m, u in COMMON] + list(SPECIFIC)


def layer_metrics(tracer, event_log_dir, ops, wl, host0, host1) -> dict:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def lay(s):
        return trace.layer_of(s, by_id)

    traced = [o for o in ops if o["traced"]]
    n = max(len(traced), 1)
    wall = sum(o["wall"] for o in traced) or 1.0
    v: dict[str, float] = {name: 0.0 for name, _ in metric_specs()}

    busy: dict[str, float] = {}
    for s in outermost(spans, lay):
        busy[lay(s)] = busy.get(lay(s), 0.0) + s["end"] - s["start"]
    ev: dict[str, dict] = {}
    for sid, st in trace.read_event_log(event_log_dir).items():
        layer = owning_layer(sid, by_id, lay)
        if layer is not None:
            acc = ev.setdefault(layer, dict.fromkeys(EVENT, 0.0))
            for k in EVENT:
                acc[k] += st[k]
    attrs: dict[tuple[str, str], float] = {}
    for s in spans:
        layer = lay(s) or owning_layer(s["id"], by_id, lay)
        for k in ("cells_out", "groups", "files_read", "pairs_out", "touched_tiles",
                  "ledger_files", "features_out", "files"):
            if k in s:
                attrs[(layer, k)] = attrs.get((layer, k), 0.0) + s[k]

    for layer in LAYERS:
        e = ev.get(layer, dict.fromkeys(EVENT, 0.0))
        v[f"{layer}.busy_share"] = busy.get(layer, 0.0) / wall
        v[f"{layer}.tasks"] = e["tasks"] / n
        v[f"{layer}.gc_share"] = e["gc_s"] / wall
        v[f"{layer}.executor_cores"] = e["executor_run_s"] / wall
        if f"{layer}.cpu_cores" in v:
            v[f"{layer}.cpu_cores"] = e["cpu_s"] / wall
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "bytes_written"):
            if f"{layer}.{k}" in v:
                v[f"{layer}.{k}"] = e[k] / n
    v["spans.rows_out"] = ev.get("spans", {}).get("records_written", 0.0) / n
    if busy.get("tiling.count_tree"):
        v["tiling.count_tree.busy_cores"] = (
            ev.get("tiling.count_tree", {}).get("executor_run_s", 0.0) / busy["tiling.count_tree"])
    for (layer, k), x in attrs.items():
        if f"{layer}.{k}" in v:  # e.g. tiling.count_tree.cells_out
            v[f"{layer}.{k}"] = x / n
    ad = ev.get("streaming.update.apply_diff")
    if ad and wl.name == "update":
        v["streaming.update.apply_diff.bytes_rewritten_per_diff_row"] = (
            ad["bytes_written"] / sum(o["work"] for o in traced))
        v["streaming.update.apply_diff.spark_jobs"] = ad["jobs"] / n

    prune = [s for s in spans if s["name"] == "plans.store.pruned_tiles"]
    v["plans.store.prune_share"] = sum(s["end"] - s["start"] for s in prune) / wall
    if wl.name == "serve":
        reqs = [q for o in traced for q in o["requests"]]
        v["plans.store.tiles_per_request"] = sum(s.get("tiles", 0) for s in prune) / max(
            len(reqs), 1)
        served = dict.fromkeys(ROUTES, 0.0)  # server span seconds per route
        for s in spans:
            if s["name"].startswith("server."):
                served[s["name"][len("server."):]] += s["end"] - s["start"]
        for r in ROUTES:
            mine = [q["wall"] for q in reqs if q["route"] == r]
            if mine:
                v[f"server.{r}_share"] = served[r] / sum(mine)
        v["server.http_overhead_share"] = (
            sum(q["wall"] for q in reqs) - sum(served.values())) / wall
        ts = wl.ts
        v["server.bbox_cache_hit_ratio"] = ts.bbox_cache.hits / max(
            ts.bbox_cache.hits + ts.bbox_cache.misses, 1)
        v["server.tile_cache_hit_ratio"] = ts.tile_cache.hits / max(
            ts.tile_cache.hits + ts.tile_cache.misses, 1)

    cores = host_cores(host0, host1)
    if cores:
        v["host.busy_cores"], v["host.steal_cores"] = cores
    v["trace.traced_ops"] = float(len(traced))
    plain = [o["wall"] for o in ops if not o["traced"]]
    if traced and plain:
        v["trace.overhead_share"] = median([o["wall"] for o in traced]) / median(plain) - 1
    units = dict(metric_specs())
    return {k: (float(x), units[k]) for k, x in v.items()}
