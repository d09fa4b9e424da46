""".poly source, GeoJSON sink, tiled-store query engine."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_bin_spark.sources import poly_to_regions, read_poly, to_geojson
from osmquadtree_bin_spark.spans import explode_geoms
from tests.helpers import write_poly


def test_poly_roundtrip(spark, tmp_path):
    rings = [
        ([-10000000, 10000000, 10000000, -10000000], [515000000, 515000000, 520000000, 520000000], False),
        ([0, 1000000, 0], [516000000, 516000000, 517000000], True),
    ]
    p = tmp_path / "region.poly"
    write_poly(str(p), "test_region", rings)
    parsed = read_poly(str(p))
    assert parsed["name"] == "test_region"
    assert len(parsed["rings"]) == 2
    assert parsed["rings"][1][2] is True  # hole flag
    regs = poly_to_regions(spark, str(p))
    rows = regs.collect()
    assert len(rows) == 2  # hole rings carried (hole=true) for subtraction
    assert all(r["kind"] == "polygon" for r in rows)
    assert [r["hole"] for r in rows] == [False, True]
    assert {r["region_id"] for r in rows} == {"test_region"}


def test_poly_hole_subtraction(spark, tmp_path):
    """A point inside the outer ring but also inside a '!' hole section must
    NOT match (.poly semantics: outer union minus holes)."""
    from osmquadtree_bin_spark.operators.pip_join import pip_join

    rings = [
        ([-10_000_000, 10_000_000, 10_000_000, -10_000_000],
         [-10_000_000, -10_000_000, 10_000_000, 10_000_000], False),
        ([-2_000_000, 2_000_000, 2_000_000, -2_000_000],
         [-2_000_000, -2_000_000, 2_000_000, 2_000_000], True),
    ]
    p = tmp_path / "holed.poly"
    write_poly(str(p), "holed", rings)
    regs = poly_to_regions(spark, str(p))
    els = spark.createDataFrame(
        [  # (id, doc_id, span_idx, degenerate bbox at the probe point)
            (1, "d1", 0, 5_000_000, 5_000_000, 5_000_000, 5_000_000),   # in outer only
            (2, "d2", 0, 0, 0, 0, 0),                                   # in hole
            (3, "d3", 0, 50_000_000, 0, 50_000_000, 0),                 # outside
        ],
        "id long, doc_id string, span_idx int, minx long, miny long, maxx long, maxy long",
    )
    got = {r["id"] for r in pip_join(els, regs).collect()}
    assert got == {1}


def test_geojson_emission(spark, docs):
    el = explode_geoms(docs).select("doc_id", "wkt", "geom_type").limit(20)
    gj = json.loads(to_geojson(el))
    assert gj["type"] == "FeatureCollection"
    assert len(gj["features"]) == 20
    for feat in gj["features"]:
        assert feat["geometry"]["type"] in ("Point", "LineString", "Polygon")
        assert "doc_id" in feat["properties"]
        assert "wkt" not in feat["properties"]


def test_tile_query_engine_pruning(spark, docs, tmp_path):
    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.tiling import tiling_pipeline, write_tiled

    assigned, counts, groups = tiling_pipeline(docs, target=200, minimum=100)
    path = str(tmp_path / "tiled")
    write_tiled(assigned, path)
    eng = TileQueryEngine(spark, path, groups)

    bbox = (int(-0.45e7), int(51.2e7), int(0.25e7), int(51.8e7))  # London hot cell
    tiles = eng.pruned_tiles(*bbox)
    assert 0 < len(tiles) < len(groups)
    sliced = eng.scan_bbox(*bbox)
    n = sliced.count()
    assert n > 0
    # partition pruning must reach the physical scan
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "tile_idx" in plan
    # exact bbox predicate holds
    bad = sliced.filter(
        ~((F.col("minx") <= bbox[2]) & (F.col("maxx") >= bbox[0])
          & (F.col("miny") <= bbox[3]) & (F.col("maxy") >= bbox[1]))
    ).count()
    assert bad == 0
    # oversized bbox rejected (reference guard)
    with pytest.raises(ValueError):
        eng.scan_bbox(-1800000000, -850000000, 1800000000, 850000000)


def test_corpus_query_on_store_slice(spark, docs, tmp_path):
    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.tiling import tiling_pipeline, write_tiled

    assigned, _, groups = tiling_pipeline(docs, target=200, minimum=100)
    path = str(tmp_path / "tiled2")
    write_tiled(assigned, path)
    eng = TileQueryEngine(spark, path, groups)
    df = eng.sql(
        "SELECT osm_id, highway FROM planet_osm_line WHERE highway IS NOT NULL",
        (int(-0.45e7), int(51.2e7), int(0.25e7), int(51.8e7)),
    )
    assert df.count() >= 0


def test_geojson_multi_geometries():
    from osmquadtree_bin_spark.sources import _wkt_to_geojson

    mp = _wkt_to_geojson("MULTIPOINT((10000000 20000000), (30000000 -40000000))")
    assert mp == {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, -4.0]]}
    ml = _wkt_to_geojson(
        "MULTILINESTRING((0 0, 10000000 0), (0 10000000, 10000000 10000000))"
    )
    assert ml["type"] == "MultiLineString"
    assert ml["coordinates"] == [[[0.0, 0.0], [1.0, 0.0]], [[0.0, 1.0], [1.0, 1.0]]]
    mpoly = _wkt_to_geojson(
        "MULTIPOLYGON(((0 0, 10000000 0, 0 10000000, 0 0)),"
        "((20000000 20000000, 30000000 20000000, 20000000 30000000, 20000000 20000000)))"
    )
    assert mpoly["type"] == "MultiPolygon"
    assert len(mpoly["coordinates"]) == 2
    assert mpoly["coordinates"][0] == [[[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]]
    # polygon with a hole: two rings
    poly = _wkt_to_geojson(
        "POLYGON((0 0, 40000000 0, 40000000 40000000, 0 40000000, 0 0),"
        "(10000000 10000000, 20000000 10000000, 10000000 20000000, 10000000 10000000))"
    )
    assert poly["type"] == "Polygon" and len(poly["coordinates"]) == 2


def test_way_area_matches_scalar_shoelace(spark):
    """The flat reduceat shoelace must equal a per-row scalar reference."""
    import numpy as np
    from osmquadtree_bin_spark.functions.zorder import way_area_merc
    from osmquadtree_bin_spark.quadtree import lat_to_unit, lon_to_unit

    wkts = [
        "POLYGON((0 0, 10000000 0, 10000000 10000000, 0 10000000, 0 0))",
        "POLYGON((-300000 514000000, 2500000 514000000, 2500000 518000000, -300000 514000000))",
        "LINESTRING(0 0, 10000000 0)",  # non-polygon -> 0
        "POINT(5 5)",
        "POLYGON((100 100, 200 100, 200 200, 100 200, 100 100))",
    ]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(wkts)], "i long, wkt string")
    got = (
        df.select("i", way_area_merc("wkt").alias("a"))
        .toPandas().set_index("i")["a"]
    )
    world = 2 * 20037508.342789244
    import re
    for i, w in enumerate(wkts):
        if not w.startswith("POLYGON"):
            assert got[i] == 0.0
            continue
        arr = np.asarray([int(t) for t in re.findall(r"-?\d+", w)], dtype=np.int64)
        xs = lon_to_unit(arr[0::2]) * world
        ys = (1.0 - lat_to_unit(arr[1::2])) * world
        # defined summation order: termwise cross products, strict
        # left-to-right accumulation (what reduceat does) — NOT np.dot,
        # whose BLAS FMA rounding is platform-dependent
        acc = 0.0
        n = len(xs)
        for j in range(n):
            acc += xs[j] * ys[(j + 1) % n] - ys[j] * xs[(j + 1) % n]
        want = 0.5 * abs(acc)
        assert got[i] == want, f"row {i}"
