"""Auxiliary sources/sinks: .poly region files (S13), GeoJSON emission (S11),
golden text dumps (S12).

Reference contracts:
  S13 ``filter.ReadPolyFile`` (``osmquadtree-filter.go:502``) — the standard
      OSM .poly format: name line, one section per ring ("1", "!2" for holes),
      "lon lat" float pairs, "END" terminators.
  S11 ``geojson.MakeFeatureCollection`` (``osmquadtree-geometry.go:524``) —
      query result rows → GeoJSON FeatureCollection (optionally reprojected).
  S12 text dumps (``osmquadtree-prepare.go:179-209``) — handled by
      ``tiling.tree_lines`` / ``tiling.group_lines``; the writers here add the
      file plumbing.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from .quadtree import COORD_SCALE
from .tuning import collect_limited


# ------------------------------------------------------------------ S13 .poly
def read_poly(path: str) -> dict:
    """Parse an OSM .poly file → {"name": str, "rings": [(lons_fp, lats_fp, hole)]}."""
    with open(path) as f:
        lines = [ln.strip() for ln in f]
    name = lines[0]
    rings = []
    i = 1
    while i < len(lines):
        if lines[i] == "END":
            break
        section = lines[i]
        hole = section.startswith("!")
        i += 1
        lons, lats = [], []
        while i < len(lines) and lines[i] != "END":
            parts = lines[i].split()
            lons.append(int(round(float(parts[0]) * COORD_SCALE)))
            lats.append(int(round(float(parts[1]) * COORD_SCALE)))
            i += 1
        i += 1  # consume END
        rings.append((lons, lats, hole))
    return {"name": name, "rings": rings}


REGION_SCHEMA = (
    "region_id string, kind string, minx long, miny long, maxx long, maxy long, "
    "lons array<long>, lats array<long>"
)


def regions_frame(spark, rows: list[tuple], hole: bool = False) -> DataFrame:
    """The engine's regions frame from ``(region_id, kind, minx, miny, maxx,
    maxy, lons, lats[, hole])`` tuples (bbox regions: lons/lats None;
    polygons: minx..maxy None). Built from a pandas frame, so with Arrow on
    it is a driver-local ``LocalTableScan``: the collects that prune and
    broadcast it (``TileQueryEngine.extract``, ``pip_join``) run no Spark
    job. ``hole=True`` adds the ``.poly`` hole-ring flag column."""
    import pandas as pd

    schema = REGION_SCHEMA + (", hole boolean" if hole else "")
    cols = [c.split()[0] for c in schema.split(", ")]
    # object columns: a None-holding int column must not become float NaN
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols, dtype=object), schema)


def poly_to_regions(spark, path: str) -> DataFrame:
    """.poly → the engine's regions frame. All rings share the poly's name as
    region_id; hole rings carry hole=true and are SUBTRACTED by pip_join
    (.poly semantics: union of outer sections minus '!' sections)."""
    poly = read_poly(path)
    rows = [
        (poly["name"], "polygon", None, None, None, None, lons, lats, hole)
        for lons, lats, hole in poly["rings"]
    ]
    return regions_frame(spark, rows, hole=True)


# --------------------------------------------------------------- S11 GeoJSON
def to_geojson(rows: DataFrame | list[dict], wkt_col: str = "wkt", limit: int = 10000) -> str:
    """Query result rows → GeoJSON FeatureCollection string.

    ``rows`` is a DataFrame or rows already read, as dicts. Geometry parse
    is WKT → GeoJSON coordinates (points/linestrings/polygons, the engine's
    three types); properties = every other column, map values key-sorted.
    Output is bounded by ``limit`` (a serving endpoint, not a bulk path —
    matches the reference server's per-tile responses); a DataFrame is
    collected in one Spark job (:func:`tuning.collect_limited`)."""
    if isinstance(rows, DataFrame):
        rows = [r.asDict() for r in collect_limited(rows, limit)]
    feats = []
    for d in rows[:limit]:
        d = dict(d)
        wkt = d.pop(wkt_col, None)
        feats.append(
            {
                "type": "Feature",
                "geometry": _wkt_to_geojson(wkt) if wkt else None,
                "properties": {k: _jsonable(v) for k, v in d.items()},
            }
        )
    return json.dumps({"type": "FeatureCollection", "features": feats})


def _jsonable(v):
    if isinstance(v, dict):  # a map: its key order is the reader's, so sort it
        return {k: _jsonable(v[k]) for k in sorted(v)}
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)


def _split_depth0(body: str) -> list[str]:
    """Split on commas at paren depth 0 (separates MULTI* members / rings)."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def _wkt_to_geojson(wkt: str) -> dict | None:
    wkt = wkt.strip()

    def coords(body: str):
        return [
            [int(p.split()[0]) / COORD_SCALE, int(p.split()[1]) / COORD_SCALE]
            for p in body.strip("() ").split(",")
        ]

    def body_of(w: str) -> str:
        return w[w.index("(") + 1 : w.rindex(")")]

    def rings(poly_body: str):  # '(r1),(r2)' -> [coords(r1), coords(r2)]
        return [coords(r) for r in _split_depth0(poly_body)]

    # MULTI* first (prefix-of tests would otherwise route them wrong)
    if wkt.startswith("MULTIPOINT"):
        return {
            "type": "MultiPoint",
            "coordinates": [coords(p)[0] for p in _split_depth0(body_of(wkt))],
        }
    if wkt.startswith("MULTILINESTRING"):
        return {
            "type": "MultiLineString",
            "coordinates": [coords(l) for l in _split_depth0(body_of(wkt))],
        }
    if wkt.startswith("MULTIPOLYGON"):
        return {
            "type": "MultiPolygon",
            "coordinates": [
                rings(p.strip()[1:-1]) for p in _split_depth0(body_of(wkt))
            ],
        }
    if wkt.startswith("POINT"):
        x, y = body_of(wkt).split()
        return {"type": "Point", "coordinates": [int(x) / COORD_SCALE, int(y) / COORD_SCALE]}
    if wkt.startswith("LINESTRING"):
        return {"type": "LineString", "coordinates": coords(body_of(wkt))}
    if wkt.startswith("POLYGON"):
        return {"type": "Polygon", "coordinates": rings(body_of(wkt))}
    return None


# ------------------------------------------------------------- S12 text dump
def write_tree_dump(path: str, cells, counts) -> None:
    from .tiling import tree_lines

    with open(path, "w") as f:
        f.write("\n".join(tree_lines(cells, counts)) + "\n")


def write_groups_dump(path: str, groups) -> None:
    from .tiling import group_lines

    with open(path, "w") as f:
        f.write("\n".join(group_lines(groups)) + "\n")


def write_reports(out_dir: str, arts: dict, metrics: dict) -> None:
    """prepare_job's and rebase_job's reports: the S12 dumps of the tiling
    tail's artifacts, and ``metrics`` plus its counts as metrics.json."""
    import os

    import numpy as np

    counts, groups = arts["counts"], arts["groups"]
    metrics.update(n_elements=arts["n_elements"], n_groups=len(groups), n_cells=len(counts))
    write_tree_dump(
        os.path.join(out_dir, "qts.txt"),
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64),
    )
    write_groups_dump(os.path.join(out_dir, "groups.txt"), groups)
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    print(json.dumps(metrics))
