"""TileQueryEngine.rawtile (J8 over the store) and the extract path (§3 filter)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_bin_spark import quadtree as qtk
from osmquadtree_bin_spark.datagen import gen_regions
from osmquadtree_bin_spark.plans.store import TileQueryEngine
from osmquadtree_bin_spark.spans import explode_geoms
from osmquadtree_bin_spark.tiling import tiling_pipeline, write_tiled


@pytest.fixture(scope="module")
def engine(spark, docs, tmp_path_factory):
    assigned, counts, groups = tiling_pipeline(docs, target=200, minimum=100)
    path = str(tmp_path_factory.mktemp("store") / "tiles")
    write_tiled(assigned, path)
    return TileQueryEngine(spark, path, groups)


@pytest.mark.parametrize(
    "lon, lat, z, nonempty",
    [
        (int(-0.13e7), int(51.5e7), 0, True),  # the root cell: every element
        (int(-0.13e7), int(51.5e7), 10, True),  # over the London cluster
        (-302111, 516188881, 18, True),  # a max-depth cell holding one point
        (0, int(-60e7), 10, False),  # open South Atlantic: no elements
    ],
    ids=["z0", "z10", "z18", "empty"],
)
def test_rawtile_matches_oracle(spark, docs, engine, lon, lat, z, nonempty):
    """Descendant-or-equal fetch: every element at depth >= z whose qt
    rounds to the requested cell, and nothing else."""
    el = explode_geoms(docs).toPandas()
    key = qtk.point_quadtree(np.array([lon]), np.array([lat]), z)
    tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(key))
    got = set(engine.rawtile(tx, ty, tz).toPandas()["id"])
    deep = el[(el.qt & 31) >= tz]
    want = set(deep.id[qtk.round_to(deep.qt.to_numpy(np.int64), tz) == int(key[0])])
    assert got == want
    assert bool(got) == nonempty


def test_extract_sorted_and_trimmed(spark, engine):
    regions = gen_regions(spark)
    res = engine.extract(regions)
    pdf = res.toPandas()
    assert len(pdf) > 0
    assert (np.diff(pdf["id"].to_numpy()) >= 0).all()  # O2 global id sort
    assert pdf["id"].is_unique  # P4 trim dedups multi-region matches


def test_extract_job_on_prepared_store(spark, tmp_path, monkeypatch):
    """jobs/extract_job.py runs on the store prepare writes (slim elements,
    no ``tile_qt`` column, groups in the lineage table). Its rows are
    exactly the stored elements whose bbox overlaps the requested one."""
    import os
    import sys

    from jobs import extract_job
    from jobs.prepare_job import prepare_pipeline
    from osmquadtree_bin_spark.datagen import gen_docs_dist

    work = str(tmp_path / "prep")
    docs = gen_docs_dist(spark, n_docs=600, seed=3, partitions=2)
    _, arts = prepare_pipeline(spark, docs, work, target=300, minimum=150)
    store = spark.read.parquet(arts["tiled_path"])
    # a bbox around the middle half of the elements' x and y ranges
    q = store.selectExpr(
        "percentile(minx, array(0.25, 0.75)) x", "percentile(miny, array(0.25, 0.75)) y"
    ).first()
    deg = [round(v / qtk.COORD_SCALE, 4) for v in (q.x[0], q.y[0], q.x[1], q.y[1])]
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "extract_job.py", "--store", work, "--output", out,
        "--bbox=" + ",".join(map(str, deg)),  # '=': the value may start with '-'
    ])
    extract_job.main()

    minx, miny, maxx, maxy = (int(v * qtk.COORD_SCALE) for v in deg)
    want = store.filter(
        (F.col("minx") <= maxx) & (F.col("maxx") >= minx)
        & (F.col("miny") <= maxy) & (F.col("maxy") >= miny)
    )
    got = spark.read.parquet(os.path.join(out, "extract"))
    cols = sorted(store.columns)
    assert sorted(got.columns) == cols
    want_rows = sorted(tuple(r) for r in want.select(cols).collect())
    assert 0 < len(want_rows) < store.count()
    assert sorted(tuple(r) for r in got.select(cols).collect()) == want_rows
