"""A6 parent_highway cell equi-join — must equal the exact containment
theta-join semantics (numpy oracle) and never plan a broadcast nested loop."""

import numpy as np
import pandas as pd

from osmquadtree_bin_spark.plans.tables import _parent_highway_ctes, served_views


def _parent_highway(pts, hwy_lines):
    """The point view's parent-highway join (``_parent_highway_ctes``, the
    same SQL text) over two frames: ``pts`` (id, minx, miny) and
    ``hwy_lines`` (lminx, lminy, lmaxx, lmaxy, l_osm_id, l_highway)."""
    return pts.sparkSession.sql(
        "WITH ph_pts AS (SELECT id, minx, miny FROM {pts}), "
        "ph_lines AS (SELECT * FROM {lines}), "
        f"{_parent_highway_ctes()} SELECT id, parent_highway FROM ph_parent",
        pts=pts, lines=hwy_lines,
    )


def _fixture(nl=300, npts=2000, seed=3):
    rng = np.random.default_rng(seed)
    lminx = rng.integers(-1_700_000_000, 1_700_000_000, nl)
    lminy = rng.integers(-800_000_000, 800_000_000, nl)
    # mostly street-sized bboxes, a few continent-sized (the skew case the
    # old broadcast theta join choked on)
    w = np.where(rng.random(nl) < 0.02, rng.integers(5_000_000, 2_000_000_000, nl),
                 rng.integers(1000, 2_000_000, nl))
    h = np.where(rng.random(nl) < 0.02, rng.integers(5_000_000, 1_000_000_000, nl),
                 rng.integers(1000, 2_000_000, nl))
    lines = pd.DataFrame({
        "lminx": lminx, "lminy": lminy,
        "lmaxx": np.minimum(lminx + w, 1_800_000_000),
        "lmaxy": np.minimum(lminy + h, 900_000_000),
        "l_osm_id": np.arange(nl), "l_highway": [f"hw{i % 7}" for i in range(nl)]})
    half = npts // 2
    pxr = rng.integers(-1_800_000_000, 1_800_000_000, half)
    pyr = rng.integers(-900_000_000, 900_000_000, half)
    li = rng.integers(0, nl, npts - half)
    t, u = rng.random(npts - half), rng.random(npts - half)
    pxi = (lines.lminx.values[li] * (1 - t) + lines.lmaxx.values[li] * t).astype(np.int64)
    pyi = (lines.lminy.values[li] * (1 - u) + lines.lmaxy.values[li] * u).astype(np.int64)
    pts = pd.DataFrame({"id": np.arange(npts),
                        "minx": np.concatenate([pxr, pxi]),
                        "miny": np.concatenate([pyr, pyi])})
    return lines, pts


def test_parent_highway_matches_theta_oracle(spark):
    lines, pts = _fixture()
    got = _parent_highway(
        spark.createDataFrame(pts), spark.createDataFrame(lines)
    ).toPandas()
    exp = {}
    for pid, x, y in pts.itertuples(index=False):
        m = ((lines.lminx.values <= x) & (x <= lines.lmaxx.values)
             & (lines.lminy.values <= y) & (y <= lines.lmaxy.values))
        if m.any():
            exp[pid] = lines.l_highway.values[np.argmax(m)]  # min l_osm_id
    gotd = dict(zip(got.id, got.parent_highway))
    assert gotd == exp and len(exp) > 100


def test_parent_highway_plan_is_equi_join(spark):
    lines, pts = _fixture(nl=50, npts=100)
    plan = (
        _parent_highway(spark.createDataFrame(pts), spark.createDataFrame(lines))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_point_view_runs_the_tested_join():
    """The served point view embeds the same join text these tests run."""
    assert _parent_highway_ctes() in served_views().text["planet_osm_point"]
