"""Dialect shims, virtual tables, and the 72-query corpus."""

import pytest
from pyspark.sql import functions as F

from osmquadtree_bin_spark.functions.dialect import makeinteger, pg_substr, translate
from osmquadtree_bin_spark.plans.corpus import load_corpus
from osmquadtree_bin_spark.plans.tables import register_tables
from osmquadtree_bin_spark.spans import explode_geoms
from tests.helpers import run_query


# ------------------------------------------------------------------- dialect
def test_makeinteger(spark):
    df = spark.createDataFrame([("12",), ("-3",), ("x1",), ("",), (None,)], "v string")
    got = [r["o"] for r in df.select(makeinteger(F.col("v")).alias("o")).collect()]
    assert got == [12, -3, 0, 0, 0]


def test_pg_substr_zero_edge(spark):
    """Postgres: substr('abcdef', 0, 3) = 'ab' (virtual char at index 0)."""
    df = spark.createDataFrame([("abcdef",)], "s string")
    got = df.select(
        pg_substr(F.col("s"), 0, 3).alias("z"),
        pg_substr(F.col("s"), 1, 3).alias("o"),
        pg_substr(F.col("s"), -1, 3).alias("m"),
    ).collect()[0]
    assert got["z"] == "ab"
    assert got["o"] == "abc"
    assert got["m"] == "a"


def test_translate_rewrites():
    sql = 'SELECT "natural", way_area/(!pixel_width!*!pixel_height!) AS wp, '
    sql += "makeinteger(population) AS pop, substr(ref, 0, 3) AS r, x::text AS t "
    sql += "FROM planet_osm_polygon WHERE char_length(name) > 2"
    out = translate(sql)
    assert "`natural`" in out
    assert "!pixel_width!" not in out and "way_area/(1*1)" in out
    assert "rlike" in out and "cast(population as long)" in out
    assert "substring(ref, 1, 2)" in out
    assert "cast(x as string)" in out
    assert "length(name)" in out and "char_length" not in out.lower()


def test_makeinteger_sql_matches_column(spark):
    df = spark.createDataFrame([("42",), ("4x",)], "v string")
    df.createOrReplaceTempView("mi_test")
    got = spark.sql(translate("SELECT makeinteger(v) AS o FROM mi_test")).collect()
    assert [r["o"] for r in got] == [42, 0]


# ---------------------------------------------------------- tables + corpus
@pytest.fixture(scope="module")
def tables(spark, docs):
    elements = explode_geoms(docs).cache()
    return register_tables(spark, elements)


def test_virtual_tables(spark, tables):
    assert tables["planet_osm_point"].count() > 0
    assert tables["planet_osm_line"].count() > 0
    assert tables["planet_osm_polygon"].count() > 0
    cols = tables["planet_osm_polygon"].columns
    assert {"osm_id", "quadtree", "way", "z_order", "way_area"} <= set(cols)
    # roads view parses and runs
    assert tables["planet_osm_roads"].count() >= 0


def test_corpus_loads_72():
    corpus = load_corpus()
    assert len(corpus) == 72


def test_corpus_all_execute(spark, tables):
    """Every corpus query must translate, analyze AND EXECUTE (the reference
    acceptance bar: every query parses and runs — osmquadtree-geometry.go:
    87-148,493). A dialect-rewrite bug that only bites at execution (null
    ``||`` semantics, ORDER BY over an aliased CASE, ...) fails here."""
    corpus = load_corpus()
    failed = {}
    for name, sql in sorted(corpus.items()):
        try:
            n = run_query(spark, sql).count()
            assert n >= 0
        except Exception as e:  # noqa: BLE001
            failed[name] = str(e).split("\n")[0][:200]
    assert not failed, f"{len(failed)} corpus queries failed: {failed}"


def test_z_order_table_reference_parity(spark):
    """Pin the entries the reference map (osmquadtree-geometry-features.go:
    722-770) defines per-value — the ones a flat per-key default would get
    wrong — plus layer shifting and first-match-key precedence."""
    from osmquadtree_bin_spark.functions.zorder import Z_ORDER_TABLE, z_order_sql

    expected = {
        "railway_rail": 440, "railway_subway": 420, "railway_tram": 410,
        "railway_tram-service": 405, "railway_disused": 400,
        "highway_track": 110, "highway_raceway": 300,
        "highway_platform": 90, "railway_platform": 90,
        "aeroway_runway": 60, "aeroway_taxiway": 50,
        "highway_motorway": 380, "highway_service": 150,
    }
    for k, v in expected.items():
        assert Z_ORDER_TABLE[k] == v, k
    rows = [
        ({"railway": "tram"}, 410),
        ({"highway": "track"}, 110),
        ({"highway": "secondary", "layer": "2"}, 2350),
        ({"highway": "motorway", "railway": "rail"}, 380),  # highway checked first
        ({"aeroway": "runway"}, 60),
        ({"building": "yes"}, 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "tags map<string,string>")
    got = [r[0] for r in df.selectExpr(z_order_sql("tags")).collect()]
    assert got == [z for _, z in rows]
