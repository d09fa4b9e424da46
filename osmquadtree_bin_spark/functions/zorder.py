"""z_order / way_area computed columns (A8, A9) and the roads priority table.

Reference: ``calc_zorder`` style type (``extrastyle.json:69``), consumed at
``osmquadtree-postgis.go:304-313``; priority values mirror the highway class
table in ``osmquadtree-geometry-features.go:722-770`` and the corpus's roads
ordering. way_area: shoelace area over mercator coords
(``osmquadtree-postgis.go:317-333``).

Both feed the served views' SQL text (``plans.tables``): z_order is a SQL
expression (``z_order_sql``); way_area is a pandas UDF that the views call
by name, registered as a session function when the polygon view is made.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..quadtree import COORD_SCALE, lat_to_unit, lon_to_unit

# Mirror of the reference's highway_prios map VALUES
# (osmquadtree-geometry-features.go:722-770): keys are "<tagkey>_<value>".
# One documented divergence: the reference's checkPrio strips a '_link'
# suffix BEFORE the lookup (features.go:774 cutsuffix at :336-343), so its
# own *_link entries are unreachable and motorway_link resolves to
# highway_motorway (380) in that code path; the final z_order assembly lives
# in an external package whose observable behavior is unconfirmed. This
# engine follows the osm2pgsql/carto convention the table itself encodes:
# *_link values keep their dedicated (lower) priorities, e.g.
# highway_motorway_link -> 240.
Z_ORDER_TABLE = {
    "railway_rail": 440,
    "railway_INT-preserved-ssy": 430,
    "railway_INT-spur-siding-yard": 430,
    "railway_subway": 420,
    "railway_narrow_gauge": 420,
    "railway_light_rail": 420,
    "railway_preserved": 420,
    "railway_funicular": 420,
    "railway_monorail": 420,
    "railway_miniature": 420,
    "railway_turntable": 420,
    "railway_tram": 410,
    "railway_tram-service": 405,
    "railway_disused": 400,
    "railway_construction": 400,
    "highway_motorway": 380,
    "highway_trunk": 370,
    "highway_primary": 360,
    "highway_secondary": 350,
    "highway_tertiary": 340,
    "highway_residential": 330,
    "highway_unclassified": 330,
    "highway_road": 330,
    "highway_living_street": 320,
    "highway_pedestrian": 310,
    "highway_raceway": 300,
    "highway_motorway_link": 240,
    "highway_trunk_link": 230,
    "highway_primary_link": 220,
    "highway_secondary_link": 210,
    "highway_tertiary_link": 200,
    "highway_service": 150,
    "highway_track": 110,
    "highway_path": 100,
    "highway_footway": 100,
    "highway_bridleway": 100,
    "highway_cycleway": 100,
    "highway_steps": 100,
    "highway_platform": 90,
    "railway_platform": 90,
    "aeroway_runway": 60,
    "aeroway_taxiway": 50,
    "highway_construction": 10,
    "highway_bus_guideway": 10,
    "aerialway_cable_car": 10,
    "aerialway_goods": 10,
    "aerialway_chair_lift": 10,
}
LAYER_STEP = 1000  # a layer=n tag shifts z_order by n*1000 (carto convention)


def z_order_sql(tags: str = "tags") -> str:
    """Priority of the first matching (tagkey, value) row plus the layer
    shift, as one SQL expression: a ``map(...)`` literal lookup per tag key
    (Catalyst folds the literal once), no per-value CASE ladder."""
    prio_map = "map(" + ", ".join(f"'{k}', {v}" for k, v in Z_ORDER_TABLE.items()) + ")"
    lookups = ", ".join(
        f"element_at({prio_map}, concat('{key}_', element_at({tags}, '{key}')))"
        for key in ("highway", "railway", "aeroway", "aerialway")
    )
    layer = f"element_at({tags}, 'layer')"
    layer_n = f"CASE WHEN {layer} rlike '^-?[0-9]+$' THEN CAST({layer} AS BIGINT) ELSE 0 END"
    return f"CAST(coalesce({lookups}, 0) + {layer_n} * {LAYER_STEP} AS BIGINT)"


@pandas_udf(DoubleType())
def way_area_merc(wkt: pd.Series) -> pd.Series:
    """Shoelace area of POLYGON / MULTIPOLYGON WKT in spherical-mercator
    coords scaled to the reference's pseudo-meters (EPSG:900913 extent).
    Ring-aware: each parenthesized ring is shoelaced SIGNED and the signs
    are summed per row, so holes subtract and multi-outer geometries add
    (rel_wkt emits outer rings CCW, holes CW — the consistent-orientation
    contract this relies on); the final value is |sum|. Fully vectorized:
    one pandas str parse per level, flat coordinate array with per-ring
    segment boundaries, ``np.add.reduceat`` twice (ring sums, then row
    sums) — no Python loop over rows. Non-(multi)polygons → 0.0."""
    out = np.zeros(len(wkt), dtype=np.float64)
    s = wkt.astype("string").fillna("")
    is_poly = (
        s.str.startswith("POLYGON") | s.str.startswith("MULTIPOLYGON")
    ).to_numpy(dtype=bool)
    rings = s.str.findall(r"\(([^()]+)\)")  # innermost parens = rings
    if not is_poly.any():
        return pd.Series(out)
    num_re = re.compile(r"-?\d+")
    rows: list[int] = []
    ring_pts: list[list[str]] = []
    for i in np.nonzero(is_poly)[0]:
        for ring in rings.iloc[i]:
            pts = num_re.findall(ring)
            if len(pts) >= 8 and len(pts) % 2 == 0:  # >= 4 vertices
                rows.append(i)
                ring_pts.append(pts)
    if not rows:
        return pd.Series(out)
    row_idx = np.asarray(rows, dtype=np.int64)
    lens = np.array([len(p) // 2 for p in ring_pts], dtype=np.int64)
    flat = np.fromiter((int(t) for p in ring_pts for t in p), dtype=np.int64)
    world = 2 * 20037508.342789244  # mercator extent in meters
    xs = lon_to_unit(flat[0::2]) * world
    ys = (1.0 - lat_to_unit(flat[1::2])) * world  # north-up
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    ends = starts + lens - 1
    # roll within each ring: next vertex is i+1, wrapping last -> first
    nxt = np.arange(1, len(xs) + 1)
    nxt[ends] = starts
    terms = xs * ys[nxt] - ys * xs[nxt]
    ring_sums = 0.5 * np.add.reduceat(terms, starts)  # SIGNED per ring
    row_starts = np.concatenate(
        [[0], np.nonzero(np.diff(row_idx))[0] + 1]
    )
    out[row_idx[row_starts]] = np.abs(np.add.reduceat(ring_sums, row_starts))
    return pd.Series(out)
