"""Element-assembly joins (J2, J4) — the quadtree resolution behind the
served relation rows.

Reference semantics (``osmquadtree-rebase.go``):
  J2 (:397-404)  way bbox = min/max over member node locations, then
                 ``quadtree.Calculate(bbox, 0.05, 18)``.
  J4 (:184-312)  relation qt = LCA of member node/way qts; relation-of-
                 relation resolved by 5 fixed-point iterations (:275-282);
                 unresolved leftovers default to qt 0 (:304-312). A node
                 member contributes its own point qt (:108-113).

Spark shape (SURVEY.md §2.3): explode refs → equi-join on node id (THE big
shuffle — both sides repartitioned on ref) → groupBy way → min/max agg →
vectorized Calculate; relations are a fixed 5-iteration loop of
explode-join-agg, exactly the reference's unroll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.qtsql import with_qt_sql
from ..udfs import qt_lca_agg, qt_point


def node_qts(nodes: DataFrame) -> DataFrame:
    """Own-location qt per node (fallback when no way contains it)."""
    return nodes.select("id", qt_point(F.col("lon"), F.col("lat")).alias("qt"))


def way_qts(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """J2: (way id, qt) via member-location bbox + Calculate."""
    refs = ways.select("id", F.explode("refs").alias("ref"))
    joined = refs.join(
        nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref"
    )
    bbox = joined.groupBy("id").agg(
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    )
    return with_qt_sql(bbox).select("id", "qt")


def way_wkt(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Way-geometry assembly: ordered member-node coordinates → WKT — the
    analogue of ``geometry.GenerateGeometries``
    (``/root/reference/osmquadtree-geometry.go:811``): a way whose ref list
    closes (first == last, >= 4 points) becomes a POLYGON ring, otherwise a
    LINESTRING; fixed-point int coords (the engine's WKT convention).

    Spark shape: posexplode refs → equi-join on node id (the one big
    shuffle, same as way_qts) → groupBy way → array_sort(collect_list) by
    position → pure JVM string assembly. Refs pointing at missing nodes are
    dropped from the sequence (the reference skips unresolvable members);
    ways with < 2 resolved points yield wkt = NULL."""
    refs = ways.select("id", F.posexplode("refs").alias("pos", "ref"))
    joined = refs.join(
        nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref"
    )
    pts = joined.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))),
            lambda s: F.concat_ws(
                " ", s["lon"].cast("string"), s["lat"].cast("string")
            ),
        ).alias("coords")
    )
    n = F.size("coords")
    closed = (n >= 4) & (F.element_at("coords", 1) == F.element_at("coords", -1))
    body = F.concat_ws(", ", F.col("coords"))
    wkt = (
        F.when(n < 2, F.lit(None).cast("string"))
        .when(closed, F.concat(F.lit("POLYGON(("), body, F.lit("))")))
        .otherwise(F.concat(F.lit("LINESTRING("), body, F.lit(")")))
    )
    # left join back so refs-but-no-resolved-node ways still appear (null)
    return ways.select("id").join(
        pts.select("id", wkt.alias("wkt"), n.alias("npoints")), "id", "left"
    ).select("id", "wkt", F.coalesce("npoints", F.lit(0)).alias("npoints"))


# ---------------------------------------------------- multipolygon assembly
def _stitch_chains(ways_list):
    """Stitch member ways into closed rings by shared endpoint NODE ids.

    ``ways_list``: list of (way_id, refs, coords) — refs the ordered node ids,
    coords the matching (lon, lat) int tuples. Returns (rings, dropped_ids):
    rings as (coords_without_closing_dup, contributing_way_ids), dropped_ids
    the way ids of chains that never closed.

    Deterministic greedy spec (shared with tests/independent_oracles.py):
    start each chain at the UNUSED way with the smallest id, in its stored
    direction; extend at the chain's tail, preferring a way whose FIRST ref
    matches the tail (forward append) over one whose LAST ref matches
    (reversed append), smallest way id within each class; a chain that closes
    (first ref == last ref, >= 3 distinct vertices) becomes a ring, otherwise
    all its ways are dropped. Greedy is exact when no more than two member
    ways meet at a node (the OSM multipolygon convention)."""
    from collections import defaultdict

    by_first: dict = defaultdict(list)
    by_last: dict = defaultdict(list)
    ways_by_id = {}
    for wid, refs, coords in ways_list:
        ways_by_id[wid] = (list(refs), list(coords))
        by_first[refs[0]].append(wid)
        by_last[refs[-1]].append(wid)
    used: set = set()
    rings: list[tuple[list, list]] = []
    dropped: list[int] = []
    for start in sorted(ways_by_id):
        if start in used:
            continue
        used.add(start)
        refs, coords = ways_by_id[start]
        chain_refs, chain_coords = list(refs), list(coords)
        chain_ways = [start]
        while chain_refs[0] != chain_refs[-1]:
            tail = chain_refs[-1]
            fwd = [w for w in by_first.get(tail, ()) if w not in used]
            rev = [w for w in by_last.get(tail, ()) if w not in used]
            if fwd:
                w = min(fwd)
                r, c = ways_by_id[w]
            elif rev:
                w = min(rev)
                r, c = ways_by_id[w]
                r, c = r[::-1], c[::-1]
            else:
                break
            used.add(w)
            chain_refs += r[1:]
            chain_coords += c[1:]
            chain_ways.append(w)
        if chain_refs[0] == chain_refs[-1] and len(set(chain_refs[:-1])) >= 3:
            rings.append((chain_coords[:-1], chain_ways))
        else:
            dropped += chain_ways
    return rings, dropped


def _ring_area2(coords) -> int:
    """Twice the signed shoelace area — EXACT Python-int arithmetic, so the
    orientation decision can never diverge between implementations."""
    n = len(coords)
    s = 0
    for i in range(n):
        x1, y1 = coords[i]
        x2, y2 = coords[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def _normalize_ring(coords, outer: bool):
    """Canonical vertex order: outer rings counter-clockwise (positive
    shoelace), inner rings clockwise; rotated to start at the minimal
    (lon, lat) vertex. Returns None for zero-area (degenerate) rings."""
    a2 = _ring_area2(coords)
    if a2 == 0:
        return None
    if (a2 > 0) != outer:
        coords = coords[::-1]
    i = min(range(len(coords)), key=lambda k: coords[k])
    return coords[i:] + coords[:i]


def _point_in_ring_int(px: int, py: int, ring) -> bool:
    """Even-odd ray cast, exact integer arithmetic (east-pointing ray)."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            # px < x1 + (py-y1)(x2-x1)/(y2-y1), cross-multiplied exactly
            lhs = (px - x1) * (y2 - y1)
            rhs = (py - y1) * (x2 - x1)
            if (lhs < rhs) if (y2 > y1) else (lhs > rhs):
                inside = True
    return inside


def _ring_wkt(ring) -> str:
    pts = ", ".join(f"{x} {y}" for x, y in ring)
    x0, y0 = ring[0]
    return f"({pts}, {x0} {y0})"


def assemble_multipolygon(members):
    """Build the relation's (MULTI)POLYGON WKT from its outer/inner member
    ways — the ``geometry.Multi`` analogue
    (``/root/reference/osmquadtree-geometry.go:174-178``; consumed downstream
    as GeometryType 7, ``/root/reference/osmquadtree-postgis.go:265-274``,
    ``st_geometryn``/``st_exteriorring`` ``:412-419``).

    ``members``: list of (role, way_id, refs | None, coords | None) — refs
    None marks a way with unresolved nodes (dropped whole, like the
    reference's unresolvable members). Returns (wkt | None, n_outer,
    n_inner, n_dropped_ways):

      * rings stitched per role by :func:`_stitch_chains`;
      * zero-area rings dropped; outer rings CCW, inner CW, rotated to the
        minimal vertex;
      * each inner ring is a hole of the FIRST outer ring (in sorted outer
        order) that contains its first vertex — unassigned inners dropped;
      * polygons sorted by outer first-vertex; 1 outer → POLYGON,
        >= 2 → MULTIPOLYGON; no closed outer ring → wkt None.
    """
    outer_ways, inner_ways, n_dropped = [], [], 0
    for role, wid, refs, coords in members:
        if refs is None or len(refs) < 2:
            n_dropped += 1
            continue
        (outer_ways if role == "outer" else inner_ways).append(
            (wid, refs, coords)
        )

    def closed_rings(ways_list, outer):
        nonlocal n_dropped
        rings, dropped = _stitch_chains(ways_list) if ways_list else ([], [])
        n_dropped += len(dropped)
        out = []
        for coords, way_ids in rings:
            norm = _normalize_ring(coords, outer)
            if norm is None:
                n_dropped += len(way_ids)
            else:
                out.append((norm, way_ids))
        return out

    outers = closed_rings(outer_ways, outer=True)
    inners = closed_rings(inner_ways, outer=False)
    outers.sort(key=lambda r: r[0][0])

    holes: list[list] = [[] for _ in outers]
    for ring, way_ids in sorted(inners, key=lambda r: r[0][0]):
        px, py = ring[0]
        for i, (oring, _w) in enumerate(outers):
            if _point_in_ring_int(px, py, oring):
                holes[i].append(ring)
                break
        else:
            n_dropped += len(way_ids)

    n_outer = len(outers)
    n_inner = sum(len(h) for h in holes)
    if n_outer == 0:
        return None, 0, 0, n_dropped
    polys = [
        "(" + ", ".join([_ring_wkt(oring)] + [_ring_wkt(h) for h in hs]) + ")"
        for (oring, _w), hs in zip(outers, holes)
    ]
    if n_outer == 1:
        wkt = "POLYGON" + polys[0]
    else:
        wkt = "MULTIPOLYGON(" + ", ".join(polys) + ")"
    return wkt, n_outer, n_inner, n_dropped


def rel_wkt(relations: DataFrame, ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Multipolygon relation geometry assembly (SURVEY.md §3.2; the relation
    half of ``geometry.GenerateGeometries``): relations' outer/inner way
    members → ordered member-node coordinates → ring stitching → POLYGON /
    MULTIPOLYGON WKT.

    Spark shape: the per-way point resolution is the SAME distributed
    explode-join-agg as :func:`way_wkt` (the one big shuffle, on node id);
    ways partially resolved are dropped whole. The per-relation ring stitch
    is a small in-memory graph walk over that relation's member ways — the
    canonical applyInPandas case (not expressible as DataFrame ops); each
    group is one relation's members (bounded: even planet-scale admin
    boundaries are ~1e4 ways), Arrow-batched.

    Returns (id, wkt, n_outer, n_inner, n_dropped) for every relation that
    has at least one outer/inner way member; wkt NULL when no ring closes."""
    import pandas as pd

    m = (
        relations.select("id", F.explode("members").alias("m"))
        .filter((F.col("m.mtype") == 1) & F.col("m.role").isin("outer", "inner"))
        .select(
            "id",
            F.col("m.ref").alias("way_id"),
            F.col("m.role").alias("role"),
        )
    )
    refs = ways.select(
        F.col("id").alias("way_id"),
        F.size("refs").alias("nref"),
        F.posexplode("refs").alias("pos", "ref"),
    )
    pts = refs.join(nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref")
    wpts = (
        pts.groupBy("way_id", "nref")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "ref", "lon", "lat"))).alias(
                "pts"
            )
        )
        # a way with ANY unresolved node is dropped whole (a hole in the ring
        # sequence would silently corrupt the stitched geometry)
        .withColumn("pts", F.when(F.size("pts") == F.col("nref"), F.col("pts")))
        .drop("nref")
    )
    joined = m.join(wpts, "way_id", "left")

    schema = "id long, wkt string, n_outer int, n_inner int, n_dropped int"

    # no type hints: with them pyspark tries to infer a pandas UDF eval type
    # from them and warns that ``key`` has none
    def _assemble(key, pdf):
        members = []
        for role, wid, p in zip(pdf["role"], pdf["way_id"], pdf["pts"]):
            if p is None or (isinstance(p, float) and pd.isna(p)):
                members.append((role, int(wid), None, None))
            else:
                members.append(
                    (
                        role,
                        int(wid),
                        [int(s["ref"]) for s in p],
                        [(int(s["lon"]), int(s["lat"])) for s in p],
                    )
                )
        wkt, n_outer, n_inner, n_dropped = assemble_multipolygon(members)
        return pd.DataFrame(
            {
                "id": [key[0]],
                "wkt": [wkt],
                "n_outer": [n_outer],
                "n_inner": [n_inner],
                "n_dropped": [n_dropped],
            }
        )

    return joined.groupBy("id").applyInPandas(_assemble, schema)


def relation_qts(
    relations: DataFrame, nqts: DataFrame, wqts: DataFrame, iterations: int = 5
) -> DataFrame:
    """J4: relation qt = LCA of member qts; rel-of-rel via the reference's
    fixed 5-iteration unroll; unresolved → qt 0 (``osmquadtree-rebase.go:304``)."""
    members = relations.select(
        "id", F.explode("members").alias("m")
    ).select("id", F.col("m.mtype").alias("mtype"), F.col("m.ref").alias("ref"))

    node_side = members.filter(F.col("mtype") == 0).join(
        nqts.select(F.col("id").alias("ref"), F.col("qt")), "ref"
    ).select("id", "qt")
    way_side = members.filter(F.col("mtype") == 1).join(
        wqts.select(F.col("id").alias("ref"), F.col("qt")), "ref"
    ).select("id", "qt")
    base = node_side.unionByName(way_side)

    # NOT .cache(): a session-lifetime cache here leaks executor storage on
    # every call (round-4 verdict #2). The subtree is identical across the 5
    # iterations, so Spark's ReusedExchange dedupes its shuffle/broadcast
    # within the single action that evaluates the returned plan — the reuse
    # we want, with zero session state.
    rel_members = members.filter(F.col("mtype") == 2)
    # iteration 0: relations with only node/way members resolve immediately
    resolved = base.groupBy("id").agg(qt_lca_agg(F.col("qt")).alias("qt"))
    for _ in range(iterations):
        # rel-of-rel: pull current member-relation qts in, recompute LCA
        from_rels = rel_members.join(
            resolved.select(F.col("id").alias("ref"), F.col("qt")), "ref"
        ).select("id", "qt")
        resolved = (
            base.unionByName(from_rels)
            .groupBy("id")
            .agg(qt_lca_agg(F.col("qt")).alias("qt"))
        )
    # leftovers (circular / missing members, empty relations) default to 0
    all_rels = relations.select("id")
    return all_rels.join(resolved, "id", "left").select(
        "id", F.coalesce(F.col("qt"), F.lit(0)).alias("qt")
    )
