"""The four virtual tables (SURVEY.md §1.3) + style-driven projection (P5).

Reference: table col lists assembled from the style at
``/root/reference/osmquadtree-geometry.go:859-893``; style format
``extrastyle.json``; a table is computed only when a query references it
(``deferedResult``, :554-588). The roads view SQL is the reference's
verbatim contract (``osmquadtree-geometry.go:889``), translated through the
dialect shims.

Spark shape: every served view is SQL text, rendered once from the style
(``served_views``): ``CREATE OR REPLACE TEMP VIEW … AS SELECT … FROM`` a
base view over ONE slice view, ``_planet_osm_slice``. point / line / polygon
pivot the style tags to real columns (``element_at(tags, k)`` — Catalyst
prunes unused ones per query); roads is a view over line and polygon. A
temp view made from SQL text is re-analyzed each time a query references
it, so pointing the slice at another frame (one ``createOrReplaceTempView``)
re-points every view: the text is created once per session, not per slice.

The views are session-global names. Each creation records a digest of its
text in one session conf key (``VIEWS_CONF``), so a caller can tell with one
``spark.conf.get`` whether the live definition of a name is the one it
would create (``ServedViews.ensure``), and re-create only the ones that are
not. ``register_tables`` points the slice at its frame and ensures all of
them; the tiled-store engine ensures each one the first time a query
references it. Both go through that one digest check.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dialect import translate
from ..functions.zorder import way_area_merc, z_order_sql

# Public style-vocabulary fixture (jharris2268/osmquadtree-bin ships it as
# extrastyle.json). A copy lives in tests/fixtures/ so the repo is
# self-contained; SPARK_GRAFT_STYLE_PATH overrides.
STYLE_PATH = os.environ.get(
    "SPARK_GRAFT_STYLE_PATH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "tests", "fixtures", "extrastyle.json"),
)

# Verbatim from osmquadtree-geometry.go:889, with one fix: the reference's
# polygon branch omits `covered` (12 vs 13 cols) and its lenient sqlselect
# engine tolerated it; ANSI UNION requires matching arity, so we pad
# `null as covered` — semantics unchanged (the column was null-ish anyway).
ROADS_VIEW_SQL = (
    "SELECT osm_id,name,ref,admin_level,highway,railway,boundary, service,"
    "tunnel,bridge,covered,z_order, way FROM planet_osm_line WHERE highway in "
    "( 'secondary','secondary_link','primary','primary_link', 'trunk',"
    "'trunk_link','motorway','motorway_link') OR railway is not null or "
    "boundary = 'administrative' UNION SELECT osm_id,name,null as ref,"
    "admin_level,null as highway, null as railway, boundary, null as service, "
    "null as tunnel,null as bridge, null as covered, 0 as z_order,way "
    "FROM planet_osm_polygon WHERE osm_id<0 and boundary='administrative'"
)

SERVED = ("planet_osm_point", "planet_osm_line", "planet_osm_polygon", "planet_osm_roads")
SLICE_VIEW = "_planet_osm_slice"  # the element frame every view reads
BASE_VIEW = "_planet_osm_base"
RELATIONS_VIEW = "_planet_osm_relations"  # multipolygon rows, when given
VIEWS_CONF = "osmquadtree.planet_osm.views"  # name=digest of each live view

_PH_DEPTH = 12  # grid depth cap for the parent_highway cell join
_AREA_NO = "element_at(tags, 'area') IN ('no', '0', 'false')"


def load_style(path: str = STYLE_PATH) -> list[dict]:
    with open(path) as f:
        return json.load(f)


def _bitlen(col: str, maxbits: int) -> str:
    """Exact integer bit_length (sum of threshold tests — no float log2,
    whose last-ulp rounding could silently skip grid cells)."""
    return " + ".join(
        f"(CASE WHEN {col} >= {1 << k} THEN 1 ELSE 0 END)" for k in range(maxbits)
    )


def _grid(col: str, offset: int, span: int) -> str:
    """Fixed-point coordinate → depth-_PH_DEPTH integer grid coord, clamped
    (equirect grid is fine here: the key only buckets, the exact bbox test
    follows)."""
    n = 1 << _PH_DEPTH
    return f"greatest(least(floor(({col} + {offset}) / {span} * {n}), {n - 1}), 0)"


def _gx(col: str) -> str:
    return _grid(col, 1_800_000_000, 3_600_000_000)


def _gy(col: str) -> str:
    return _grid(col, 900_000_000, 1_800_000_000)


def _cell(d: str, x: str, y: str) -> str:
    """Pack (depth, cell_x, cell_y) of the depth-``d`` ancestor into one key."""
    D = _PH_DEPTH
    return (
        f"shiftleft(CAST({d} AS BIGINT), 40) | shiftleft(shiftright({x}, {D} - {d}), 20)"
        f" | shiftright({y}, {D} - {d})"
    )


def _parent_highway_ctes() -> str:
    """A6 calc_parent as a CELL EQUI-JOIN (scales; no broadcast, no theta),
    as CTEs over ``ph_pts`` (id, minx, miny) and ``ph_lines`` (lminx, lminy,
    lmaxx, lmaxy, l_osm_id, l_highway), ending in ``ph_parent`` (id,
    parent_highway).

    Each highway line picks the deepest grid depth at which its bbox covers
    <= 2 cells per axis (capped at _PH_DEPTH) and explodes into those <= 4
    cells; each point explodes into its ancestor cells at every depth
    0.._PH_DEPTH. Hash-join on the packed (depth, cx, cy) key, then the exact
    bbox predicate, then min_by. Complete: a point inside a line's bbox
    shares its ancestor cell at the line's chosen depth with one of the
    line's covered cells. Skew-safe: nearly all lines land at full depth, so
    shallow-depth point keys meet only the few continent-sized lines.
    """
    D = _PH_DEPTH
    corners = ", ".join(_cell("_d", x, y) for y in ("_y0", "_y1") for x in ("_x0", "_x1"))
    return f"""
ph_lines_xy AS (
  SELECT *, CAST({_gx('lminx')} AS BIGINT) AS _x0, CAST({_gy('lminy')} AS BIGINT) AS _y0,
         CAST({_gx('lmaxx')} AS BIGINT) AS _x1, CAST({_gy('lmaxy')} AS BIGINT) AS _y1
  FROM ph_lines),
ph_lines_d AS (
  SELECT *, least({D} - ({_bitlen('(_x0 ^ _x1)', D)}) + 1,
                  least({D} - ({_bitlen('(_y0 ^ _y1)', D)}) + 1, {D})) AS _d
  FROM ph_lines_xy),
ph_lines_k AS (
  SELECT lminx, lminy, lmaxx, lmaxy, l_osm_id, l_highway,
         explode(array_distinct(array({corners}))) AS _ck
  FROM ph_lines_d),
ph_pts_k AS (
  SELECT id, minx, miny, explode(transform(sequence(0, {D}), a -> {_cell('a', '_px', '_py')})) AS _ck
  FROM (SELECT id, minx, miny, CAST({_gx('minx')} AS BIGINT) AS _px,
               CAST({_gy('miny')} AS BIGINT) AS _py FROM ph_pts)),
ph_parent AS (
  SELECT p.id, min_by(l.l_highway, l.l_osm_id) AS parent_highway
  FROM ph_pts_k p JOIN ph_lines_k l ON p._ck = l._ck
  WHERE p.minx >= l.lminx AND p.minx <= l.lmaxx AND p.miny >= l.lminy AND p.miny <= l.lmaxy
  GROUP BY p.id)"""


def _proj(tags: list[str]) -> str:
    return ", ".join(f"element_at(tags, '{t}') AS `{t}`" for t in sorted(set(tags)))


def _view(name: str, select: str) -> str:
    return f"CREATE OR REPLACE TEMP VIEW {name} AS {select}"


class ServedViews:
    """The CREATE text of the base view and the four served views for one
    style and option set, with each view's dependencies and text digest."""

    def __init__(self, style_path: str, parent_highway: bool, relations: bool):
        style = load_style(style_path)
        node = _proj([s["Tag"] for s in style if s.get("IsNode") and s["Type"] == "text"])
        way = _proj([s["Tag"] for s in style if s.get("IsWay") and s["Type"] == "text"])
        zo = z_order_sql()
        oid = "id & 1099511627775"  # reference id unpack: low 40 bits
        # A6 calc_parent (extrastyle.json:73): a point inherits the highway
        # value of a containing way — doc-model analogue: highway of the
        # smallest-id LINESTRING whose bbox contains the point center, by
        # the cell equi-join of _parent_highway_ctes (never a broadcast
        # nested-loop theta join). Built only when `parent_highway`: the
        # left join would survive in every plan over planet_osm_point even
        # when the column is never projected (Catalyst cannot eliminate an
        # outer join without unique-key metadata).
        if parent_highway:
            point = (
                f"WITH ph_pts AS (SELECT id, minx, miny FROM {BASE_VIEW} WHERE geom_type = 0), "
                "ph_lines AS (SELECT minx AS lminx, miny AS lminy, maxx AS lmaxx, "
                "maxy AS lmaxy, osm_id AS l_osm_id, element_at(tags, 'highway') AS l_highway "
                f"FROM {BASE_VIEW} WHERE geom_type = 1 "
                "AND element_at(tags, 'highway') IS NOT NULL), "
                f"{_parent_highway_ctes()} "
                f"SELECT osm_id, quadtree, way, parent_highway, {node} "
                f"FROM (SELECT * FROM {BASE_VIEW} WHERE geom_type = 0) "
                "LEFT JOIN ph_parent USING (id)"
            )
        else:
            point = (
                "SELECT osm_id, quadtree, way, CAST(NULL AS STRING) AS parent_highway, "
                f"{node} FROM {BASE_VIEW} WHERE geom_type = 0"
            )
        polygon_rows = (
            f"SELECT osm_id, quadtree, way, tags FROM {BASE_VIEW} "
            f"WHERE geom_type = 2 AND NOT coalesce({_AREA_NO}, false)"
        )
        if relations:
            polygon_rows += f" UNION ALL SELECT osm_id, quadtree, way, tags FROM {RELATIONS_VIEW}"
        self.text = {
            # osm_id: negative for relations (type bits >= 59 == 2), the
            # reference's id unpack (osmquadtree-postgis.go:279-284)
            BASE_VIEW: _view(BASE_VIEW, (
                "SELECT id, geom_type, tags, minx, miny, maxx, maxy, wkt, "
                f"CASE WHEN shiftrightunsigned(id, 59) = 2 THEN -({oid}) ELSE {oid} END AS osm_id, "
                f"qt AS quadtree, wkt AS way FROM {SLICE_VIEW}"
            )),
            "planet_osm_point": _view("planet_osm_point", point),
            # IsPoly='maybe' area-tag override (extrastyle.json:9): a
            # POLYGON span tagged area=no lands in the line table
            "planet_osm_line": _view("planet_osm_line", (
                f"SELECT osm_id, quadtree, way, {zo} AS z_order, {way} FROM {BASE_VIEW} "
                f"WHERE geom_type = 1 OR (geom_type = 2 AND {_AREA_NO})"
            )),
            "planet_osm_polygon": _view("planet_osm_polygon", (
                f"SELECT osm_id, quadtree, way, {zo} AS z_order, "
                f"way_area_merc(way) AS way_area, {way} FROM ({polygon_rows})"
            )),
            "planet_osm_roads": _view("planet_osm_roads", translate(ROADS_VIEW_SQL)),
        }
        # which view reads which, from the FROM clauses of the texts
        self.deps = {
            k: tuple(n for n in self.text if n != k and re.search(rf"\b{n}\b", t))
            for k, t in self.text.items()
        }
        self.digest = {
            k: hashlib.sha1(v.encode()).hexdigest()[:16] for k, v in self.text.items()
        }

    def ensure(self, spark: SparkSession, names) -> None:
        """Create each view of ``names`` and the views it reads from whose
        live definition is not this one's text. The slice view must exist:
        creation analyzes the text against it.

        ``VIEWS_CONF`` is trusted to name the live definitions, so anything
        that drops or replaces one of these views other than through
        ``ensure`` (``spark.catalog.dropTempView``, a direct
        ``createOrReplaceTempView``) must also unset ``VIEWS_CONF``."""
        live = dict(
            kv.split("=") for kv in spark.conf.get(VIEWS_CONF, "").split(",") if kv
        )
        made: list[str] = []

        def walk(name: str) -> None:
            if name in made:
                return
            for dep in self.deps[name]:
                walk(dep)
            if live.get(name) != self.digest[name]:
                if name == "planet_osm_polygon":
                    spark.udf.register("way_area_merc", way_area_merc)
                spark.sql(self.text[name])
                live[name] = self.digest[name]
                made.append(name)

        for name in names:
            walk(name)
        if made:
            spark.conf.set(VIEWS_CONF, ",".join(f"{k}={v}" for k, v in sorted(live.items())))


@functools.lru_cache(maxsize=None)
def served_views(
    style_path: str = STYLE_PATH, parent_highway: bool = True, relations: bool = False
) -> ServedViews:
    """The view texts for one style and option set, rendered once."""
    return ServedViews(style_path, parent_highway, relations)


_VIEW_REF = re.compile(r"\bplanet_osm_(point|line|polygon|roads)\b", re.IGNORECASE)


def referenced_views(sql: str) -> set[str]:
    """The served views a SQL text names."""
    return {f"planet_osm_{m.lower()}" for m in _VIEW_REF.findall(sql)}


def _relation_rows(relations: DataFrame, ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Assembled multipolygon relations as (osm_id, quadtree, way, tags)
    rows: NEGATIVE osm_ids and member-LCA quadtrees, the reference's
    relation-row convention (``osmquadtree-postgis.go:279-284`` id sign,
    ``:265-274`` GeometryType 7 rows)."""
    from ..operators.element_joins import node_qts, rel_wkt, relation_qts, way_qts

    rq = relation_qts(relations, node_qts(nodes), way_qts(ways, nodes))
    mp = rel_wkt(relations, ways, nodes).filter(F.col("wkt").isNotNull())
    rel_tags = (
        relations.select("id", "tags")
        if "tags" in relations.columns
        else relations.select("id", F.lit(None).cast("map<string,string>").alias("tags"))
    )
    return (
        mp.join(rel_tags, "id", "left")
        .join(rq.withColumnRenamed("qt", "quadtree"), "id", "left")
        .select(
            (-F.col("id")).alias("osm_id"),
            F.coalesce("quadtree", F.lit(0)).alias("quadtree"),
            F.col("wkt").alias("way"),
            "tags",
        )
    )


def register_tables(
    spark: SparkSession,
    elements: DataFrame,
    style_path: str = STYLE_PATH,
    parent_highway: bool = True,
    relations: DataFrame | None = None,
    ways: DataFrame | None = None,
    nodes: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Point the slice at ``elements`` and create the temp views
    planet_osm_point / line / polygon / roads; returns them as frames
    (analyzed now, so they keep reading ``elements`` after the slice moves
    on).

    Geometry routing: our doc model declares geometry type per span
    (POINT/LINESTRING/POLYGON), so the point table takes geom_type 0, line 1,
    polygon 2 — with the reference's IsPoly='maybe' area-tag override: a
    POLYGON span tagged ``area=no`` lands in the line table instead
    (``extrastyle.json:9``, IsPoly maybe semantics).

    When ``relations``/``ways``/``nodes`` are given, multipolygon-relation
    geometries (rel_wkt — ``geometry.Multi``) are assembled into a second
    registered view and unioned into planet_osm_polygon (``_relation_rows``).
    """
    elements.createOrReplaceTempView(SLICE_VIEW)
    if relations is not None:
        _relation_rows(relations, ways, nodes).createOrReplaceTempView(RELATIONS_VIEW)
    served_views(style_path, parent_highway, relations is not None).ensure(spark, SERVED)
    return {name: spark.table(name) for name in SERVED}
