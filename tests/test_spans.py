"""Span parsing + the span-sequence invariant (BASELINE.json input_hint)."""

from pyspark.sql import functions as F

from osmquadtree_bin_spark.spans import explode_geoms
from osmquadtree_bin_spark import quadtree as qtk
from tests.helpers import span_fingerprint

import numpy as np


def test_explode_geoms_schema_and_lineage(spark, docs):
    el = explode_geoms(docs)
    rows = el.limit(50).collect()
    assert rows, "no geometry spans parsed"
    for r in rows:
        assert r.doc_id.startswith("doc_")
        assert r.geom_type in (0, 1, 2)
        assert r.minx <= r.maxx and r.miny <= r.maxy
        assert r.npoints >= 1
        # packed id: type in bits >=59 (osmquadtree-postgis.go:279-284)
        assert (r.id >> 59) == r.geom_type
        assert r.qt >= 0 and (r.qt & 31) <= qtk.MAX_DEPTH


def test_geom_count_matches_input(spark, docs):
    n_geom_spans = (
        docs.select(F.explode("spans").alias("s")).filter(F.col("s.kind") == "geom").count()
    )
    assert explode_geoms(docs).count() == n_geom_spans


def test_qt_contains_bbox(spark, docs):
    el = explode_geoms(docs).limit(200).toPandas()
    keys = el["qt"].to_numpy(np.int64)
    bminx, bminy, bmaxx, bmaxy = qtk.bounds(keys, 0.05)
    assert (bminx <= el["minx"].to_numpy() + 1).all()
    assert (bmaxx >= el["maxx"].to_numpy() - 1).all()
    assert (bminy <= el["miny"].to_numpy() + 1).all()
    assert (bmaxy >= el["maxy"].to_numpy() - 1).all()


def test_span_sequence_invariant_through_pipeline(spark, docs):
    """Tiling never touches the spans column: fingerprints identical before
    and after running the pipeline and joining results back by doc_id."""
    from osmquadtree_bin_spark.tiling import tiling_pipeline

    before = span_fingerprint(docs)
    assigned, _, _ = tiling_pipeline(docs, target=500, minimum=250)
    # join tiling results back to the ORIGINAL docs by doc_id (the rule:
    # never explode-and-regroup spans)
    enriched = docs.join(
        assigned.groupBy("doc_id").agg(F.count("*").alias("n_geoms")), "doc_id", "left"
    )
    after = span_fingerprint(enriched.select("doc_id", "spans"))
    diff = before.alias("b").join(after.alias("a"), "doc_id").filter(
        F.col("b.span_digest") != F.col("a.span_digest")
    )
    assert diff.count() == 0
    assert after.count() == before.count()


def test_multi_geometry_routing_and_bbox(spark):
    """MULTI* WKT routes to its base geometry type (reference geometry.Multi,
    osmquadtree-postgis.go:265-274) and the bbox spans ALL components."""
    rows = [
        ("doc_0", [("geom", "MULTIPOINT((10 10),(30 40))|k=v", "", 0)]),
        ("doc_1", [("geom", "MULTILINESTRING((0 0,5 5),(20 20,25 30))", "", 0)]),
        ("doc_2", [("geom", "MULTIPOLYGON(((0 0,4 0,4 4,0 0)),((10 10,14 10,14 14,10 10)))", "", 0)]),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r.doc_id: r for r in explode_geoms(docs).collect()}
    assert got["doc_0"].geom_type == 0  # MULTIPOINT -> point
    assert got["doc_1"].geom_type == 1  # MULTILINESTRING -> line
    assert got["doc_2"].geom_type == 2  # MULTIPOLYGON -> polygon
    # bbox covers every component, not just the first
    assert (got["doc_0"].minx, got["doc_0"].maxx) == (10, 30)
    assert (got["doc_0"].miny, got["doc_0"].maxy) == (10, 40)
    assert (got["doc_1"].maxx, got["doc_1"].maxy) == (25, 30)
    assert (got["doc_2"].minx, got["doc_2"].maxy) == (0, 14)
    assert got["doc_2"].npoints == 8
    assert got["doc_0"].tags == {"k": "v"}


def test_float_wkt_fails_loudly(spark):
    """Decimal coordinates would silently shred under the fixed-point int
    tokenizer ('1.5' -> 1, 5) — the parse must raise instead."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    docs = spark.createDataFrame(
        [("doc_00000001", [("geom", "POINT(1.5 2.5)|highway=primary", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    with pytest.raises(SparkRuntimeException, match="float WKT"):
        explode_geoms(docs).collect()
