"""PIP join, kNN, element-assembly joins (SURVEY.md §2.3)."""

import numpy as np
import pandas as pd
import pytest

from osmquadtree_bin_spark import quadtree as qtk
from osmquadtree_bin_spark.datagen import gen_regions
from osmquadtree_bin_spark.operators.element_joins import node_qts, relation_qts, way_qts
from osmquadtree_bin_spark.operators.knn import knn_bruteforce, knn_tiled
from osmquadtree_bin_spark.operators.pip_join import idset_trim, pip_join, region_tiles
from osmquadtree_bin_spark.spans import explode_geoms
from tests.helpers import gen_elements


@pytest.fixture(scope="module")
def elements(spark, docs):
    return explode_geoms(docs).cache()


# ------------------------------------------------------------------ PIP join
def test_pip_bbox_matches_pandas_oracle(spark, elements):
    regions = gen_regions(spark)
    got = (
        pip_join(elements, regions)
        .toPandas()
        .sort_values(["region_id", "id"])
        .reset_index(drop=True)
    )
    el = elements.toPandas()
    regs = regions.toPandas()
    rows = []
    for r in regs.itertuples():
        if r.kind == "bbox":
            hit = el[
                (el.minx <= r.maxx) & (el.maxx >= r.minx)
                & (el.miny <= r.maxy) & (el.maxy >= r.miny)
            ]
        else:
            lons = np.asarray(r.lons, dtype=np.float64)
            lats = np.asarray(r.lats, dtype=np.float64)
            cx = ((el.minx + el.maxx) // 2).to_numpy(np.float64)
            cy = ((el.miny + el.maxy) // 2).to_numpy(np.float64)
            from osmquadtree_bin_spark.operators.pip_join import _point_in_rings

            hit = el[_point_in_rings(cx, cy, lons, lats)]
        for _, h in hit.iterrows():
            rows.append((r.region_id, h.id))
    want = pd.DataFrame(rows, columns=["region_id", "id"]).sort_values(
        ["region_id", "id"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["region_id", "id"]], want)


def test_pip_hot_region_nonempty_empty_region_empty(spark, elements):
    regions = gen_regions(spark)
    counts = (
        pip_join(elements, regions).groupBy("region_id").count().toPandas()
        .set_index("region_id")["count"]
    )
    assert counts.get("region_hot", 0) > 0
    assert counts.get("region_empty", 0) == 0


def test_idset_trim_semi_join(spark, elements):
    regions = gen_regions(spark)
    matched = pip_join(elements, regions)
    trimmed = idset_trim(elements, matched)
    assert trimmed.count() == matched.select("id").distinct().count()
    assert set(trimmed.columns) == set(elements.columns)


def test_region_tiles_pruning(spark, elements):
    from osmquadtree_bin_spark.tiling import count_tree, find_groups

    counts = count_tree(elements)
    g = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 200, 100
    )
    keys = g["tile_qt"].to_numpy(np.int64)
    # London hot bbox should hit a small subset of tiles
    sub = region_tiles(
        int(-0.45e7), int(51.2e7), int(0.25e7), int(51.8e7), keys
    )
    assert 0 < len(sub) < len(keys)


# ---------------------------------------------------------------------- kNN
def test_knn_bruteforce_oracle(spark, elements):
    queries = spark.createDataFrame(
        [("q0", int(-0.13e7), int(51.5e7)), ("q1", int(13.4e7), int(52.5e7))],
        "query_id string, qx long, qy long",
    )
    got = knn_bruteforce(elements, queries, k=5).toPandas()
    el = elements.toPandas()
    cx = (el.minx + el.maxx) // 2
    cy = (el.miny + el.maxy) // 2
    for qid, qx, qy in [("q0", int(-0.13e7), int(51.5e7)), ("q1", int(13.4e7), int(52.5e7))]:
        d2 = (qx - cx).astype(float) ** 2 + (qy - cy).astype(float) ** 2
        order = pd.DataFrame({"id": el.id, "d2": d2}).sort_values(["d2", "id"])
        want_ids = order["id"].head(5).tolist()
        got_ids = got[got.query_id == qid].sort_values("rank")["id"].tolist()
        assert got_ids == want_ids


def test_knn_tiled_matches_bruteforce(spark, elements):
    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups

    counts = count_tree(elements)
    g = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 200, 100
    )
    tiled = assign_tiles(elements, g)
    queries = spark.createDataFrame(
        [("q0", int(-0.13e7), int(51.5e7))], "query_id string, qx long, qy long"
    )
    bf = knn_bruteforce(elements, queries, k=3).toPandas().sort_values("rank")
    tl = knn_tiled(tiled, queries, g, k=3, ring_levels=14).toPandas().sort_values("rank")
    assert tl["id"].tolist() == bf["id"].tolist()


# ----------------------------------------------------- element assembly joins
def test_way_qts_contains_members(spark):
    nodes, ways, rels = gen_elements(spark)
    wq = way_qts(ways, nodes).toPandas()
    assert len(wq) == ways.count()
    assert ((wq.qt & 31) <= qtk.MAX_DEPTH).all()


def test_relation_qts_edge_cases(spark):
    nodes, ways, rels = gen_elements(spark)
    wq = way_qts(ways, nodes)
    rq = relation_qts(rels, node_qts(nodes), wq).toPandas().set_index("id")["qt"]
    n_rels = rels.count()
    assert len(rq) == n_rels
    # circular, empty, and missing-member relations default to qt 0
    assert rq.loc[n_rels - 3] == 0
    assert rq.loc[n_rels - 2] == 0
    assert rq.loc[n_rels - 1] == 0
    # ordinary relations resolve to a valid key
    assert (rq.drop([n_rels - 3, n_rels - 2, n_rels - 1]) >= 0).all()


def test_way_wkt_assembly(spark):
    """Ordered coord assembly (geometry.GenerateGeometries analogue):
    closed ring -> POLYGON, open -> LINESTRING, missing refs skipped,
    under-2-point ways -> NULL wkt; member order preserved exactly."""
    from osmquadtree_bin_spark.operators.element_joins import way_wkt

    nodes = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 20), (3, 30, 40), (4, 10, 40)],
        "id long, lon long, lat long",
    )
    ways = spark.createDataFrame(
        [
            (100, [1, 2, 3, 4, 1]),      # closed ring -> POLYGON
            (101, [4, 2, 3]),            # open -> LINESTRING (order kept)
            (102, [1, 999, 3]),          # missing ref dropped -> 2-pt line
            (103, [2]),                  # 1 point -> NULL
            (104, [999, 998]),           # nothing resolves -> NULL, npoints 0
        ],
        "id long, refs array<long>",
    )
    got = {r["id"]: (r["wkt"], r["npoints"]) for r in way_wkt(ways, nodes).collect()}
    assert got[100] == ("POLYGON((10 20, 30 20, 30 40, 10 40, 10 20))", 5)
    assert got[101] == ("LINESTRING(10 40, 30 20, 30 40)", 3)
    assert got[102] == ("LINESTRING(10 20, 30 40)", 2)
    assert got[103] == (None, 1)
    assert got[104] == (None, 0)
    # assembled WKT round-trips through the span bbox parser convention
    import re
    toks = [int(t) for t in re.split(r"[^-0-9]+", got[100][0]) if t]
    assert min(toks[0::2]) == 10 and max(toks[1::2]) == 40


def test_pip_bbox_many_matches_when_arm(spark):
    """r06: above the region-count crossover the bbox arm switches to the
    grid-cell broadcast equi-join; its (region_id, id) pairs must be
    EXACTLY the WHEN-array arm's — including elements spanning many cells,
    points on region edges (inclusive intersect), negative coordinates, and
    each pair emitted exactly once (the canonical-cell rule, no dedup)."""
    import numpy as np

    from osmquadtree_bin_spark.operators import pip_join as pj

    rng = np.random.default_rng(23)
    n_el, n_reg = 4000, 600
    ex = rng.integers(-50000, 50000, n_el)
    ey = rng.integers(-50000, 50000, n_el)
    ew = np.where(rng.random(n_el) < 0.5, 0, rng.integers(0, 30000, n_el))
    eh = np.where(rng.random(n_el) < 0.5, 0, rng.integers(0, 30000, n_el))
    elements = spark.createDataFrame(
        [
            (int(i), f"d{i}", 0, int(ex[i]), int(ey[i]),
             int(ex[i] + ew[i]), int(ey[i] + eh[i]))
            for i in range(n_el)
        ],
        "id long, doc_id string, span_idx int, minx long, miny long, "
        "maxx long, maxy long",
    )
    rx = rng.integers(-60000, 55000, n_reg)
    ry = rng.integers(-60000, 55000, n_reg)
    rw = rng.integers(1, 8000, n_reg)
    rh = rng.integers(1, 8000, n_reg)
    rows = [
        {"region_id": f"r{i:04d}", "kind": "bbox", "minx": int(rx[i]),
         "miny": int(ry[i]), "maxx": int(rx[i] + rw[i]),
         "maxy": int(ry[i] + rh[i]), "lons": None, "lats": None}
        for i in range(n_reg)
    ]
    regions = spark.createDataFrame(
        rows,
        "region_id string, kind string, minx long, miny long, maxx long, "
        "maxy long, lons array<double>, lats array<double>",
    )
    assert n_reg > pj.PIP_BBOX_JOIN_CROSSOVER  # exercises the join arm
    got = pj.pip_join(elements, regions).toPandas()
    # duplicate emits would be hidden by set-compare: assert exact-once
    assert not got.duplicated(["region_id", "id"]).any()
    import pandas as pd

    want_rows = []
    eminx, eminy = ex, ey
    emaxx, emaxy = ex + ew, ey + eh
    for r in rows:
        hit = ((eminx <= r["maxx"]) & (emaxx >= r["minx"])
               & (eminy <= r["maxy"]) & (emaxy >= r["miny"]))
        for i in np.nonzero(hit)[0]:
            want_rows.append((r["region_id"], int(i)))
    want = pd.DataFrame(want_rows, columns=["region_id", "id"])
    got2 = got[["region_id", "id"]].sort_values(["region_id", "id"]).reset_index(drop=True)
    want2 = want.sort_values(["region_id", "id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got2, want2)


def test_pip_bbox_many_plan_bounded(spark):
    """The many-region arm's plan must be a BroadcastHashJoin whose size
    does not grow with the region count (no BroadcastNestedLoopJoin, no
    per-region WHEN chain)."""
    import numpy as np

    from osmquadtree_bin_spark.operators import pip_join as pj

    elements = spark.createDataFrame(
        [(1, "d1", 0, 5, 5, 10, 10)],
        "id long, doc_id string, span_idx int, minx long, miny long, "
        "maxx long, maxy long",
    )

    def mk(n):
        rows = [
            {"region_id": f"r{i:05d}", "kind": "bbox", "minx": i * 7 % 1000,
             "miny": i * 13 % 1000, "maxx": i * 7 % 1000 + 50,
             "maxy": i * 13 % 1000 + 50, "lons": None, "lats": None}
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "region_id string, kind string, minx long, miny long, maxx long, "
            "maxy long, lons array<double>, lats array<double>",
        )

    p1 = pj.pip_join(elements, mk(300))._jdf.queryExecution().executedPlan().toString()
    p2 = pj.pip_join(elements, mk(3000))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p1
    assert "BroadcastHashJoin" in p1
    # plan text must not scale with region count (WHEN-chain would be ~10x)
    assert len(p2) < len(p1) * 2
