"""Span tracing for the traced run (``--trace 1``).

Wrappers are installed at module level from here, around the engine's
public functions; the engine itself carries no tracing code. Each span sets
a Spark job group, so the Spark event log attributes every job (and its
tasks, GC, shuffle, spill and output bytes) to the innermost open span.
Spark is lazy, so the actions that force work (``DataFrameWriter.parquet``,
``collect``, ``count``, ``toPandas``) are wrapped too, as child spans of the
innermost open span.

Spans carry: id, name, start, end, parent, op (the request / batch / pass
id of the closed-loop client). They stay in memory until the run ends."""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # the client's open op span: root spans opened on other threads (the
        # HTTP handler threads) hang under it
        self.op_span: dict | None = None

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_span["op"] if self.op_span else None,
            **attrs,
        }
        stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s['id']}", name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1]['id']}", stack[-1]["name"])
            else:  # untraced work after this span must not inherit its group
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def op(self, op_id: int, name: str = "op"):
        """Root span of one timed operation of the closed loop."""
        with self.span(name, op_id=op_id) as s:
            s["op"] = op_id
            self.op_span = s
            try:
                yield s
            finally:
                self.op_span = None


def _files_under(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _targets():
    """(owner, attribute, span name, post-call annotator) for every wrapped
    public function. Imported lazily: the engine must be importable first."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import osmquadtree_bin_spark.footers as footers
    import osmquadtree_bin_spark.operators.pip_join as pip_mod
    import osmquadtree_bin_spark.plans.store as store_mod
    import osmquadtree_bin_spark.server as server_mod
    import osmquadtree_bin_spark.spans as spans_mod
    import osmquadtree_bin_spark.tiling as tiling
    from osmquadtree_bin_spark.streaming.update import TiledStore

    def ann_len(key):
        def f(s, r, a, k):
            s[key] = len(r) if r is not None else 0
        return f

    def ann_assign(s, r, a, k):
        counts = k.get("counts", a[4] if len(a) > 4 else None)
        s["arm"] = "cellmap" if counts is not None else "general"

    def ann_footers(s, r, a, k):
        path = a[0] if a else k["tiled_path"]
        tiles = k.get("tiles", a[2] if len(a) > 2 else None)
        if tiles is None:
            s["files_read"] = _files_under(path)
        else:
            s["files_read"] = sum(
                _files_under(os.path.join(path, f"tile_idx={t}")) for t in tiles
            )

    def ann_apply(s, r, a, k):
        s["touched_tiles"] = len(r)
        s["ledger_files"] = _files_under(a[0].ledger_path)

    def ann_geojson(s, r, a, k):
        s["features_out"] = r.count('"type": "Feature"')

    def ann_write(s, r, a, k):
        s["files"] = _files_under(a[1] if len(a) > 1 else k["path"])

    out = [
        (tiling, "count_tree", "tiling.count_tree", ann_len("cells_out")),
        (tiling, "find_groups", "tiling.find_groups", ann_len("groups")),
        (tiling, "assign_tiles", "tiling.assign_tiles", ann_assign),
        (footers, "tile_rows_from_footers", "footers", ann_footers),
        (spans_mod, "explode_geoms", "spans", None),
        (pip_mod, "pip_join", "operators.pip_join", None),
        (TiledStore, "apply_diff", "streaming.update.apply_diff", ann_apply),
        (server_mod, "to_geojson", "sources.to_geojson", ann_geojson),
        (store_mod, "register_tables", "plans.tables", None),
    ]
    for m in ("pruned_tiles", "scan_bbox", "tables_for_bbox", "sql", "rawtile", "extract"):
        ann = ann_len("tiles") if m == "pruned_tiles" else None
        out.append((store_mod.TileQueryEngine, m, f"plans.store.{m}", ann))
    for route in ("tile", "bbox", "query", "extract"):
        out.append((server_mod.TileServer, f"page_{route}", f"server.{route}", None))
    for m in ("collect", "count", "toPandas"):
        out.append((DataFrame, m, m, None))
    out.append((DataFrameWriter, "parquet", None, ann_write))
    return out


def install(tracer: Tracer) -> list[tuple]:
    """Wrap every target; returns the undo list for :func:`uninstall`."""
    undo = []
    for owner, attr, name, ann in _targets():
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        def make(orig=orig, name=name, ann=ann):
            @functools.wraps(orig)
            def wrapped(*a, **k):
                nm = name
                if nm is None:  # DataFrameWriter.parquet: name by output dir
                    path = a[1] if len(a) > 1 else k["path"]
                    nm = "write:" + os.path.basename(str(path).rstrip("/"))
                with tracer.span(nm) as s:
                    r = orig(*a, **k)
                    if ann is not None:
                        ann(s, r, a, k)
                    return r

            return wrapped

        setattr(owner, attr, make())
        undo.append((owner, attr, orig))
    return undo


def uninstall(undo: list[tuple]) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ------------------------------------------------------------ layer mapping
def layer_of(s: dict, by_id: dict[int, dict]) -> str | None:
    """Layer (module name) a span belongs to; None for pure plumbing spans,
    which inherit their ancestor's layer. Writes issued straight from an op
    (the prepare pipeline is one call, so its writes hang under the op) are
    named after the directory they write."""
    n = s["name"]
    if n == "tiling.assign_tiles":
        return "tiling.assign_write" if s.get("arm") == "cellmap" else n
    if n.startswith("plans.store."):
        return "plans.store"
    if n.startswith("server."):
        return "server"
    if n.startswith("write:"):
        parent = by_id.get(s.get("parent"))
        if parent is not None and parent.get("op_id") is not None:
            return {"write:elements": "spans", "write:tiles": "tiling.assign_write"}.get(n)
        return None
    if n in ("collect", "count", "toPandas", "op"):
        return None
    return n


# ---------------------------------------------------------------- event log
_TASK_FIELDS = {
    "executor_run_s": ("Executor Run Time", 1e-3),
    "cpu_s": ("Executor CPU Time", 1e-9),
    "gc_s": ("JVM GC Time", 1e-3),
}


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-span Spark cost from the event log: span id -> {jobs, tasks,
    executor_run_s, cpu_s, gc_s, shuffle_read_bytes, shuffle_write_bytes,
    spill_bytes, bytes_written, records_written}. Jobs outside any span
    (set-up, checks) carry no perfbench group and are skipped."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def acc(span_id: int) -> dict:
        return out.setdefault(span_id, {
            "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "bytes_written": 0, "records_written": 0,
        })

    def span_of(props: dict | None) -> int | None:
        g = (props or {}).get("spark.jobGroup.id") or ""
        return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None

    # Spark 4 writes the v2 layout: a directory of events_<n>_<app> files
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        acc(sid)["jobs"] += 1
                        for st in ev.get("Stage IDs", ()):
                            stage_span.setdefault(st, sid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    a = acc(sid)
                    a["tasks"] += 1
                    for key, (field, scale) in _TASK_FIELDS.items():
                        a[key] += m.get(field, 0) * scale
                    sr = m.get("Shuffle Read Metrics", {})
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    om = m.get("Output Metrics", {})
                    a["bytes_written"] += om.get("Bytes Written", 0)
                    a["records_written"] += om.get("Records Written", 0)
    return out
