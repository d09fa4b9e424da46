"""HTTP serving surface (server.py) — offline, localhost-only.

Covers the reference server's route set (tile / bbox / sql query / extract /
status / UI page) and its exact cache sizing (1 bbox result, 3 raw-tile
results, osmquadtree-geometry.go:235-243 & :291-298)."""

import itertools
import json
import os
import urllib.parse
import urllib.request

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    from osmquadtree_bin_spark.datagen import gen_docs
    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.server import serve
    from osmquadtree_bin_spark.spans import explode_geoms
    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups, write_tiled

    docs = gen_docs(spark, n_docs=200, seed=42)
    elements = explode_geoms(docs)
    counts = count_tree(elements)
    groups = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 200, 100
    )
    assigned = assign_tiles(elements, groups)
    store = str(tmp_path_factory.mktemp("srv") / "tiles")
    write_tiled(assigned, store)
    engine = TileQueryEngine(spark, store, groups)
    httpd, ts = serve(engine)
    port = httpd.server_address[1]
    yield f"http://127.0.0.1:{port}", ts, engine
    httpd.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, r.read().decode()


def test_index_page(served):
    base, _, _ = served
    status, body = _get(base + "/")
    assert status == 200 and "leaflet" in body.lower() and "/bbox?" in body


def test_bbox_endpoint_geojson(served):
    base, _, _ = served
    # London hot cluster: guaranteed elements in the synthetic skew
    bb = "minx=-4500000&miny=510000000&maxx=2500000&maxy=520000000"
    status, body = _get(f"{base}/bbox?{bb}")
    assert status == 200
    gj = json.loads(body)
    assert gj["type"] == "FeatureCollection"
    assert len(gj["features"]) > 0
    assert gj["features"][0]["geometry"]["type"] in (
        "Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon",
    )


def test_tile_endpoint_and_lru(served):
    base, ts, engine = served
    import osmquadtree_bin_spark.quadtree as qtk

    # a tile that actually contains data: take a stored qt, round to z8
    row = engine.spark.read.parquet(engine.store_path).select("qt").first()
    tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(qtk.round_to(np.array([row["qt"]]), 8)))
    m0 = ts.tile_cache.misses
    status, body = _get(f"{base}/tile/{tz}/{tx}/{ty}")
    assert status == 200 and json.loads(body)["type"] == "FeatureCollection"
    h0 = ts.tile_cache.hits
    _get(f"{base}/tile/{tz}/{tx}/{ty}")  # identical request → cache hit
    assert ts.tile_cache.hits == h0 + 1
    assert ts.tile_cache.misses == m0 + 1
    # LRU depth 3: three OTHER tiles evict the first
    for dx in (1, 2, 3):
        _get(f"{base}/tile/{tz}/{tx + dx}/{ty}")
    m1 = ts.tile_cache.misses
    _get(f"{base}/tile/{tz}/{tx}/{ty}")
    assert ts.tile_cache.misses == m1 + 1  # evicted → recomputed


def test_query_endpoint_sql_dialect(served):
    base, _, _ = served
    sql = urllib.parse.quote(
        "SELECT osm_id, highway FROM planet_osm_line WHERE highway is not null"
    )
    bb = "-4500000,510000000,2500000,520000000"
    status, body = _get(f"{base}/query?sql={sql}&bbox={bb}")
    assert status == 200
    out = json.loads(body)
    assert out["n"] == len(out["rows"])
    if out["rows"]:
        assert {"osm_id", "highway"} <= set(out["rows"][0])


def test_extract_endpoint(served):
    base, _, _ = served
    bb = "minx=-4500000&miny=510000000&maxx=2500000&maxy=520000000"
    status, body = _get(f"{base}/extract?{bb}")
    assert status == 200
    gj = json.loads(body)
    assert gj["type"] == "FeatureCollection" and len(gj["features"]) > 0
    # extract is the trimmed full-row view: lineage columns present
    assert "doc_id" in gj["features"][0]["properties"]


def test_status_and_errors(served):
    base, _, _ = served
    status, body = _get(base + "/status")
    assert status == 200
    st = json.loads(body)
    assert st["n_tiles"] > 0 and "cache" in st
    assert st["ledger_state"] is None  # no diff applied to this store
    # bad requests → 400, unknown route → 404, engine guard → 500 surfaced
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "/bbox?minx=0")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "/nope")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:  # oversized-bbox guard
        _get(base + "/bbox?minx=-1790000000&miny=-800000000&maxx=1790000000&maxy=800000000")
    assert e.value.code == 400  # ValueError from the reference guard → client error
    assert "bbox too large" in json.loads(e.value.read().decode())["error"]


def test_extract_parquet_artifact_roundtrip(served, tmp_path):
    """/extract?format=parquet returns a single re-ingestible parquet file
    (the WritePbfIndexed analogue): reading the downloaded bytes back
    through a fresh Spark scan row-matches the engine-side extract, keeps
    the id sort, and re-tiles cleanly through TiledStore."""
    base, _, engine = served
    bb = dict(minx=-4500000, miny=510000000, maxx=2500000, maxy=520000000)
    qs = "&".join(f"{k}={v}" for k, v in bb.items())
    req = urllib.request.Request(f"{base}/extract?{qs}&format=parquet")
    with urllib.request.urlopen(req, timeout=300) as r:
        assert r.status == 200
        assert r.headers["Content-Type"] == "application/vnd.apache.parquet"
        assert "extract.parquet" in r.headers.get("Content-Disposition", "")
        blob = r.read()
    path = tmp_path / "extract.parquet"
    path.write_bytes(blob)

    spark = engine.spark
    back = spark.read.parquet(str(path))
    regions = spark.createDataFrame(
        [("req", "bbox", bb["minx"], bb["miny"], bb["maxx"], bb["maxy"], None, None)],
        "region_id string, kind string, minx long, miny long, "
        "maxx long, maxy long, lons array<long>, lats array<long>",
    )
    want = engine.extract(regions).toPandas()
    got = back.toPandas()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(want.columns)

    def canon(df):
        # map/list cells (tags) aren't hashable — stringify for sort/compare
        out = df[cols].copy()
        for c in cols:
            if out[c].dtype == object:
                out[c] = out[c].map(lambda v: json.dumps(v, sort_keys=True, default=str))
        return out.sort_values(cols).reset_index(drop=True)

    assert canon(got).equals(canon(want))

    # re-ingest: fresh tiling over the downloaded artifact
    from osmquadtree_bin_spark.streaming.update import TiledStore
    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups

    counts = count_tree(back)
    groups = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 200, 100
    )
    store = TiledStore(spark, str(tmp_path / "reingested"))
    store.write_initial(assign_tiles(back, groups, counts=counts))
    assert store.read().count() == len(want)


_JOB_GROUPS = itertools.count()


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran on this thread). Each call gets a
    fresh job group: ``id(fn)`` is reused once a lambda is freed, and the
    status tracker still holds the jobs of the earlier group of that name."""
    sc = spark.sparkContext
    group = f"server-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "server job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _stored_tile(engine, z: int = 8, dy: int = 0) -> tuple[int, int, int]:
    """(tz, tx, ty) of the zoom-``z`` cell over a stored element, ``dy``
    cells south of it."""
    import osmquadtree_bin_spark.quadtree as qtk

    row = engine.spark.read.parquet(engine.store_path).select("qt").first()
    tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(qtk.round_to(np.array([row["qt"]]), z)))
    return tz, tx, ty + dy


def test_bbox_and_tile_miss_run_no_spark_job(served):
    """A /bbox or /tile cache miss on a local store runs no Spark job: the
    engine reads the pruned tile files on the driver. It ran one job (a
    pinned-schema read of the pruned directories and a bounded collect)
    before the driver read, and 3 when each request read the whole store."""
    _, ts, engine = served
    m0 = ts.bbox_cache.misses
    out, jobs = _spark_jobs(
        engine.spark, lambda: ts.page_bbox(-4500001, 510000001, 2500001, 520000001)
    )
    assert ts.bbox_cache.misses == m0 + 1
    assert json.loads(out)["features"] and jobs == 0
    tz, tx, ty = _stored_tile(engine, dy=1)
    m0 = ts.tile_cache.misses
    out, jobs = _spark_jobs(engine.spark, lambda: ts.page_tile(tz, tx, ty))
    assert ts.tile_cache.misses == m0 + 1
    assert json.loads(out)["type"] == "FeatureCollection" and jobs == 0


def test_tile_read_falls_back_to_one_spark_job(served, monkeypatch):
    """When pyarrow cannot read the tile files, a /bbox or /tile miss is
    served by the reader's Spark arm in at most one job, with the same
    response bytes, and /status names the reason (read with no job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmquadtree_bin_spark.server import TileServer

    _, _, engine = served
    bb = (-4500002, 510000002, 2500002, 520000002)
    tile = _stored_tile(engine, z=10)
    want = (TileServer(engine).page_bbox(*bb), TileServer(engine).page_tile(*tile))
    reads = dict(engine.tiles.reads)

    def unreadable(*a, **k):
        raise pa.ArrowInvalid("Parquet magic bytes not found in footer")

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    ts = TileServer(engine)
    for page, args, body in ((ts.page_bbox, bb, want[0]), (ts.page_tile, tile, want[1])):
        out, jobs = _spark_jobs(engine.spark, lambda: page(*args))
        assert out == body and jobs <= 1
    status, jobs = _spark_jobs(engine.spark, ts.page_status)
    st = json.loads(status)["reads"]
    assert jobs == 0 and st["driver"] == reads["driver"] and st["spark"] == reads["spark"] + 2
    assert st["last_fallback"].startswith("ArrowInvalid: Parquet magic bytes")


def _parity_requests(engine, n: int, seed: int) -> list[tuple]:
    """``n`` seeded (route, args) requests over the stored elements: cells at
    zoom 3-14 above a stored element's qt and bboxes of 0.002-6 degrees
    around a stored element's corner, some of them away from any data."""
    import osmquadtree_bin_spark.quadtree as qtk

    pdf = engine.spark.read.parquet(engine.store_path).select("qt", "minx", "miny").toPandas()
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        r = pdf.iloc[int(rng.integers(len(pdf)))]
        if i % 2:
            key = qtk.round_to(np.array([int(r["qt"])]), int(rng.integers(3, 15)))
            tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(key))
            out.append(("tile", (tz, tx, ty + int(rng.integers(0, 2)))))
        else:
            w = int(rng.integers(100_000, 30_000_000))
            x, y = int(r["minx"]) + int(rng.integers(-w, w)), int(r["miny"])
            out.append(("bbox", (x - w, y - w, x + w, y + w)))
    return out


def _both_arms(engine, requests, monkeypatch, limit: int | None = None) -> tuple[list, list]:
    """Each request's response from the reader's driver arm and, with its
    driver read raising, from its Spark arm (fresh caches). The driver read
    is failed whole, not per file, so a request whose tiles have no files
    left is still served by the Spark arm."""
    import pyarrow as pa

    from osmquadtree_bin_spark.server import DEFAULT_LIMIT, TileServer

    def unreadable(*a, **k):
        raise pa.ArrowInvalid("driver read disabled")

    def answers(expect_arm: str):
        ts = TileServer(engine, limit=limit or DEFAULT_LIMIT)
        before = engine.tiles.reads[expect_arm]
        got = [getattr(ts, f"page_{route}")(*args) for route, args in requests]
        assert engine.tiles.reads[expect_arm] == before + len(set(requests))
        return got

    driver = answers("driver")
    with monkeypatch.context() as m:
        m.setattr(engine.tiles, "_driver_rows", unreadable)
        spark_arm = answers("spark")
    return driver, spark_arm


def test_driver_and_spark_arms_answer_byte_for_byte(served, monkeypatch):
    """The Spark arm is the oracle: 48 seeded /tile and /bbox requests get
    the same bytes from the driver read, and so does a request with more
    hits than a small limit, which pins the (tile_idx, id) truncation
    order."""
    _, _, engine = served
    south_atlantic = ("bbox", (0, -600_000_000, 1_000_000, -599_000_000))
    requests = [*_parity_requests(engine, 48, seed=16), south_atlantic]
    driver, spark_arm = _both_arms(engine, requests, monkeypatch)
    hits = [len(json.loads(body)["features"]) for body in spark_arm]
    assert sum(h > 0 for h in hits) >= 30 and hits[-1] == 0
    assert driver == spark_arm
    wide = [("bbox", (-4500000, 510000000, 2500000, 520000000))]
    driver, spark_arm = _both_arms(engine, wide, monkeypatch, limit=7)
    assert len(json.loads(spark_arm[0])["features"]) == 7 and driver == spark_arm
    assert engine.tiles.last_fallback == "ArrowInvalid: driver read disabled"


def test_extract_miss_at_most_two_spark_jobs(served):
    """An /extract runs the PIP match and the id-set semi join in one plan
    with its bounded collect: no separate ``distinct`` job over the matched
    ids (a semi join already has set semantics). It ran 3 jobs with it."""
    _, ts, engine = served
    out, jobs = _spark_jobs(
        engine.spark, lambda: ts.page_extract(-4500000, 510000000, 2500000, 520000000)
    )
    assert json.loads(out)["features"] and jobs <= 2


def test_query_serves_its_own_views_after_register_tables(served, spark):
    """The planet_osm names are global to the session: after another caller
    registers different definitions over another frame (relation rows
    unioned into the polygon view, no parent_highway join), the engine's
    next /query re-creates its own views and answers byte for byte as
    before."""
    from osmquadtree_bin_spark.datagen import gen_docs, gen_multipolygon
    from osmquadtree_bin_spark.plans.tables import register_tables
    from osmquadtree_bin_spark.spans import explode_geoms

    base, _, _ = served
    bb = "-4500000,510000000,2500000,520000000"
    queries = [
        "SELECT osm_id, way_area FROM planet_osm_polygon ORDER BY osm_id, way_area",
        "SELECT osm_id, parent_highway FROM planet_osm_point ORDER BY osm_id, parent_highway",
        "SELECT osm_id, z_order FROM planet_osm_roads ORDER BY osm_id, z_order",
    ]

    def answers():
        return [
            _get(f"{base}/query?sql={urllib.parse.quote(q)}&bbox={bb}")[1] for q in queries
        ]

    before = answers()
    nodes, ways, rels = gen_multipolygon(spark, n_rels=7)
    other = register_tables(
        spark, explode_geoms(gen_docs(spark, n_docs=50, seed=7)), parent_highway=False,
        relations=rels, ways=ways, nodes=nodes,
    )
    assert other["planet_osm_polygon"].filter("osm_id < 0").count() >= 7
    assert answers() == before
    assert json.loads(before[0])["n"] > 0


def test_query_creates_only_the_views_it_references(served, spark, monkeypatch):
    """A view is created the first time a query names it, after the views
    it reads from (roads reads line and polygon); a later query over
    another bbox only re-points the slice."""
    from osmquadtree_bin_spark.plans.tables import BASE_VIEW, SERVED, VIEWS_CONF

    _, ts, engine = served
    spark.conf.unset(VIEWS_CONF)
    for name in (*SERVED, BASE_VIEW):
        spark.catalog.dropTempView(name)

    def live():
        return {n for n in (*SERVED, BASE_VIEW) if spark.catalog.tableExists(n)}

    ts.page_query("SELECT count(*) AS n FROM planet_osm_polygon", (0, 0, 1, 1))
    assert live() == {"planet_osm_polygon", BASE_VIEW}
    ts.page_query("SELECT osm_id FROM planet_osm_roads", (0, 0, 1, 1))
    assert live() == {"planet_osm_polygon", "planet_osm_line", "planet_osm_roads", BASE_VIEW}
    made = []
    orig = engine.spark.sql
    monkeypatch.setattr(engine.spark, "sql", lambda q, *a, **k: made.append(q) or orig(q, *a, **k))
    body = ts.page_query(
        "SELECT count(*) AS n FROM planet_osm_polygon", (-4500000, 510000000, 2500000, 520000000)
    )
    assert not [q for q in made if q.startswith("CREATE")]
    assert json.loads(body)["rows"][0]["n"] > 0


def test_read_tiles_past_32_directories_one_spark_job(spark, tmp_path):
    """Reading more tile directories than Spark's parallel partition
    discovery threshold (32) lists them on the driver: no listing job, so a
    bounded collect over the reader's Spark arm for 40 tiles is one job (2
    with the listing job)."""
    import pandas as pd

    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.tuning import collect_limited

    store = str(tmp_path / "tiles")
    spark.range(80).selectExpr("id", "CAST(id % 40 AS INT) AS tile_idx").write.partitionBy(
        "tile_idx"
    ).parquet(store)
    engine = TileQueryEngine(spark, store, pd.DataFrame({"tile_idx": [], "tile_qt": []}))
    rows, jobs = _spark_jobs(spark, lambda: collect_limited(engine.tiles.frame(range(40)), 1000))
    assert len(rows) == 80 and jobs == 1


def test_traced_engine_names_importable():
    """perfbench's tracer wraps these engine names; they stay importable."""
    from osmquadtree_bin_spark.plans import store
    from perfbench.trace import _targets

    assert callable(store.register_tables)
    for m in ("pruned_tiles", "scan_bbox", "tables_for_bbox", "sql", "rawtile", "extract"):
        assert callable(getattr(store.TileQueryEngine, m))
    for owner, attr, *_ in _targets():
        assert callable(getattr(owner, attr)), attr


def test_extract_region_frame_is_driver_local(served, monkeypatch):
    """/extract's region frame is collected twice (tile pruning, pip_join's
    broadcast side); it is driver-local, so neither collect runs a job."""
    _, ts, engine = served
    seen = []
    orig = engine.extract
    monkeypatch.setattr(engine, "extract", lambda regions: seen.append(regions) or orig(regions))
    ts.page_extract(-4500000, 510000000, 2500000, 520000000)
    (regions,) = seen
    rows, jobs = _spark_jobs(engine.spark, lambda: (regions.collect(), regions.collect()))
    assert jobs == 0 and rows[0][0]["region_id"] == "req"


@pytest.fixture()
def diffed(spark, docs, tmp_path):
    """An engine and server built over a TiledStore, THEN a diff that
    rewrites tile ``a`` (every row's doc_id changed) and empties every tile
    that the centre of tile ``b``'s cell prunes to (every row deleted), so a
    request there has no tile directory left to read."""
    from osmquadtree_bin_spark import quadtree as qtk
    from osmquadtree_bin_spark.plans.store import MAX_BBOX_UNITS, TileQueryEngine
    from osmquadtree_bin_spark.server import serve
    from osmquadtree_bin_spark.spans import explode_geoms
    from osmquadtree_bin_spark.streaming.update import TiledStore
    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups

    elements = explode_geoms(docs)
    counts = count_tree(elements)
    groups = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 200, 100
    )
    st = TiledStore(spark, str(tmp_path / "store"))
    st.write_initial(assign_tiles(elements, groups, counts=counts).drop("tile_qt"))
    engine = TileQueryEngine(spark, st.data_path, groups)
    httpd, ts = serve(engine)

    def centre(key):
        x0, y0, x1, y1 = (int(v[0]) for v in qtk.bounds(np.array([key])))
        return (x0 + x1) // 2, (y0 + y1) // 2

    # tiles nest (a group's key can be an ancestor of others' keys), so
    # emptying a request's pruned set means emptying every tile it prunes to
    b_qt = min(groups.tile_qt, key=lambda k: len(engine.pruned_tiles(*centre(k), *centre(k))))
    gone = engine.pruned_tiles(*centre(b_qt), *centre(b_qt))
    ext = (
        st.read().groupBy("tile_idx")
        .agg(*(F.min(c).alias(c) for c in ("minx", "miny")),
             *(F.max(c).alias(c) for c in ("maxx", "maxy")))
        .filter(~F.col("tile_idx").isin(gone)
                & (F.col("maxx") - F.col("minx") < MAX_BBOX_UNITS)
                & (F.col("maxy") - F.col("miny") < MAX_BBOX_UNITS))
        .orderBy("tile_idx").first()
    )
    a = ext["tile_idx"]
    rows = st.read().filter(F.col("tile_idx").isin(a, *gone))
    diff = (
        rows.withColumn("doc_id", F.concat(F.lit("MOD:"), F.col("doc_id")))
        .withColumn("changetype", F.when(F.col("tile_idx") == a, "modify").otherwise("delete"))
        .withColumn("version", F.lit(1))
    )
    st.apply_diff(diff, state=1)
    for t in gone:
        assert not os.path.isdir(os.path.join(st.data_path, f"tile_idx={t}"))
    yield {
        "base": f"http://127.0.0.1:{httpd.server_address[1]}", "store": st, "ts": ts,
        "a_bbox": tuple(ext[c] for c in ("minx", "miny", "maxx", "maxy")),
        "a_qt": int(groups.set_index("tile_idx").tile_qt[a]), "b_qt": int(b_qt),
        "b_centre": centre(b_qt),
    }
    httpd.shutdown()


def _feature_ids(body: str) -> list:
    gj = json.loads(body)
    assert gj["type"] == "FeatureCollection"
    return sorted((f["properties"]["id"], f["properties"]["doc_id"]) for f in gj["features"])


def _store_ids(df) -> list:
    return sorted((r["id"], r["doc_id"]) for r in df.select("id", "doc_id").collect())


def test_bbox_and_tile_see_rows_rewritten_after_engine_built(diffed):
    """The engine lists the pruned tile directories per request: a diff
    applied after it was built is served, with no 500 for the files the
    diff replaced or for the emptied tile's removed directory."""
    from osmquadtree_bin_spark import quadtree as qtk
    from osmquadtree_bin_spark.tiling import qt_round_expr

    store = diffed["store"].read()
    minx, miny, maxx, maxy = diffed["a_bbox"]
    status, body = _get(f"{diffed['base']}/bbox?minx={minx}&miny={miny}&maxx={maxx}&maxy={maxy}")
    want = store.filter(
        (F.col("minx") <= maxx) & (F.col("maxx") >= minx)
        & (F.col("miny") <= maxy) & (F.col("maxy") >= miny)
    )
    got = _feature_ids(body)
    assert status == 200 and got == _store_ids(want)
    assert any(d.startswith("MOD:") for _, d in got)
    for key in (diffed["a_qt"], diffed["b_qt"]):
        tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(np.array([key])))
        status, body = _get(f"{diffed['base']}/tile/{tz}/{tx}/{ty}")
        want = store.filter(
            ((F.col("qt").bitwiseAND(F.lit(31))) >= tz) & (qt_round_expr("qt", tz) == key)
        )
        assert status == 200 and _feature_ids(body) == _store_ids(want)
    # /status reads the applied state from the store's ledger on the driver
    status, jobs = _spark_jobs(diffed["store"].spark, diffed["ts"].page_status)
    assert json.loads(status)["ledger_state"] == 1 and jobs == 0


def test_request_on_emptied_tile_returns_empty_collection(diffed):
    x, y = diffed["b_centre"]
    status, body = _get(f"{diffed['base']}/bbox?minx={x}&miny={y}&maxx={x}&maxy={y}")
    assert status == 200
    assert json.loads(body) == {"type": "FeatureCollection", "features": []}


def test_driver_and_spark_arms_agree_after_apply_diff(diffed, monkeypatch):
    """After a diff rewrote one tile and emptied others, the driver read
    serves the rewritten rows and the emptied tiles' missing directories
    byte for byte as the Spark arm does."""
    from osmquadtree_bin_spark import quadtree as qtk

    engine = diffed["ts"].engine
    x, y = diffed["b_centre"]
    requests = [("bbox", diffed["a_bbox"]), ("bbox", (x, y, x, y))]
    for key in (diffed["a_qt"], diffed["b_qt"]):
        tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(np.array([key])))
        requests += [("tile", (tz, tx, ty)), ("tile", (tz + 1, 2 * tx + 1, 2 * ty))]
    driver, spark_arm = _both_arms(engine, requests, monkeypatch)
    assert driver == spark_arm
    assert "MOD:" in driver[0] and json.loads(driver[1])["features"] == []


def test_serve_rejects_non_loopback_without_optin():
    """/query executes arbitrary SQL with the driver's filesystem access —
    non-loopback binds need the explicit allow_remote opt-in."""
    from osmquadtree_bin_spark.server import serve

    with pytest.raises(ValueError, match="allow_remote"):
        serve(None, host="0.0.0.0")
