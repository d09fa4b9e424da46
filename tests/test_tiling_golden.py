"""Golden tiling fixtures (SURVEY.md §5 item 2, FIXTURES.md F6).

The qt tree and group dumps are byte-compared against checked-in goldens in
the reference's ``"%6d %s"`` text format (``osmquadtree-prepare.go:179-209``).
Goldens are (re)generated by ``python tests/make_goldens.py`` — regeneration
must be a deliberate act, never automatic.
"""

import os

import numpy as np
import pandas as pd
import pytest

from osmquadtree_bin_spark import quadtree as qtk
from osmquadtree_bin_spark.sources import write_groups_dump, write_tree_dump
from osmquadtree_bin_spark.tiling import (
    assign_tiles,
    count_tree,
    find_groups,
    make_tile_assigner,
)
from tests.helpers import is_ancestor
from tests.independent_oracles import _find_groups_reference, assign_tiles_arrow

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def _synth_counts():
    """Small hand-seeded count table (deterministic)."""
    rng = np.random.default_rng(123)
    tz = np.full(400, 17)
    tx = rng.integers(0, 1 << 17, 400)
    ty = rng.integers(0, 1 << 17, 400)
    cells = np.unique(qtk.from_tuple(tx, ty, tz))
    counts = rng.integers(1, 900, cells.size)
    # one hot cell to force splitting
    counts[0] = 15000
    return cells, counts


def test_group_walk_small_tree():
    """Hand-checkable case: root with two children, counts 5000/3000 + 100 at root."""
    cells = np.array(
        [qtk.from_string("A"), qtk.from_string("B"), 0], dtype=np.int64
    )
    counts = np.array([5000, 3000, 100], dtype=np.int64)
    g = find_groups(cells, counts, target=8000, minimum=4000)
    # total 8100 > target → walk children: A=5000 → group; B=3000 bubbles;
    # root leftover 3100 < min → bubbles → root remainder group 3100
    assert len(g) == 2
    strs = qtk.to_string(g["tile_qt"].to_numpy(np.int64))
    assert list(strs) == ["", "A"]
    assert sorted(g["cnt"]) == [3100, 5000]


def test_group_walk_everything_fits_one_group():
    cells = np.array([qtk.from_string("ABC")], dtype=np.int64)
    counts = np.array([4500], dtype=np.int64)
    g = find_groups(cells, counts, target=8000, minimum=4000)
    assert len(g) == 1
    assert qtk.to_string(g["tile_qt"].to_numpy(np.int64))[0] == "ABC"
    assert g["cnt"][0] == 4500


def test_group_counts_are_partition():
    """Every input element is counted in exactly one group."""
    cells, counts = _synth_counts()
    g = find_groups(cells, counts, target=8000, minimum=4000)
    assert g["cnt"].sum() == counts.sum()
    # group tiles must be unique, sorted
    tq = g["tile_qt"].to_numpy()
    assert (np.diff(tq) > 0).all()
    # minimum holds for all but possibly the root remainder
    non_root = g[g["tile_qt"] != 0]
    assert (non_root["cnt"] >= 4000).all() or len(non_root) == 0
    assert (g["cnt"] <= 15000 + 8000).all()


def test_assigner_matches_walk_semantics():
    """Assignment = deepest emitted group that is ancestor-of-or-equal."""
    cells, counts = _synth_counts()
    g = find_groups(cells, counts, target=8000, minimum=4000)
    assign = make_tile_assigner(g)
    tiles = assign(cells)
    assert (tiles >= 0).all()
    gk = g.set_index("tile_idx")["tile_qt"]
    tile_keys = gk.loc[tiles].to_numpy(np.int64)
    # each assigned tile is ancestor-of-or-equal of the cell
    assert is_ancestor(tile_keys, cells).all()
    # and per-group assigned counts reproduce the group counts exactly
    got = pd.DataFrame({"tile_qt": tile_keys, "cnt": counts}).groupby("tile_qt")["cnt"].sum()
    want = g.set_index("tile_qt")["cnt"]
    pd.testing.assert_series_equal(got.sort_index(), want.sort_index(), check_names=False)


def test_golden_tree_and_groups(tmp_path):
    """The S12 text dumpers write byte-identical qts.txt / groups.txt."""
    cells, counts = _synth_counts()
    g = find_groups(cells, counts, target=8000, minimum=4000)
    tree_path = os.path.join(GOLDEN, "qts.txt")
    grp_path = os.path.join(GOLDEN, "groups.txt")
    if not os.path.exists(tree_path):
        pytest.skip("goldens not generated yet (run tests/make_goldens.py)")
    write_tree_dump(str(tmp_path / "qts.txt"), cells, counts)
    write_groups_dump(str(tmp_path / "groups.txt"), g)
    for name, golden in (("qts.txt", tree_path), ("groups.txt", grp_path)):
        with open(golden, "rb") as want, open(tmp_path / name, "rb") as got:
            assert got.read() == want.read()


def test_end_to_end_tiling_on_docs(spark, docs):
    """Full pipeline on the interleaved docs — distributed path."""
    from osmquadtree_bin_spark.spans import explode_geoms

    elements = explode_geoms(docs).cache()
    counts = count_tree(elements)
    n_elements = elements.count()
    assert counts["cnt"].sum() == n_elements
    g = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64),
        target=200, minimum=100,
    )
    assigned = assign_tiles(elements, g)
    per_tile = assigned.groupBy("tile_idx").count().toPandas()
    assert per_tile["count"].sum() == n_elements
    got = per_tile.set_index("tile_idx")["count"].sort_index()
    want = g.set_index("tile_idx")["cnt"].sort_index()
    pd.testing.assert_series_equal(got, want, check_names=False, check_dtype=False)


def test_jvm_assigner_matches_arrow_assigner(spark, docs):
    """The production JVM assigner (per-depth broadcast hash joins + coalesce)
    is bit-identical to the independent Arrow assigner on every element, and
    its physical plan contains zero Python stages."""
    from pyspark.sql import functions as F

    from osmquadtree_bin_spark.spans import explode_geoms

    elements = explode_geoms(docs)
    counts = count_tree(elements)
    g = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64),
        target=200, minimum=100,
    )
    cols = ["id", "tile_idx", "tile_qt"]
    a = (
        assign_tiles(elements, g).select(*cols)
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    b = (
        assign_tiles_arrow(elements, g).select(*cols)
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    c = (
        assign_tiles(elements, g, counts=counts).select(*cols)
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, c)

    plan = (
        assign_tiles(elements, g)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    n_depths = len(set(int(k) & 31 for k in g["tile_qt"]))
    assert plan.count("BroadcastHashJoin") >= n_depths


def test_jvm_assigner_overflow_and_shallow_elements(spark):
    """Elements with NO ancestor group land in the overflow tile (tile_qt 0),
    matching the independent Arrow assigner; elements shallower than every
    group key too."""
    # groups only at depth 3 under one subtree; elements elsewhere overflow
    k3 = qtk.from_string("AAB")
    g = pd.DataFrame({"tile_idx": [0], "tile_qt": [k3], "cnt": [10]})
    qts = np.array(
        [qtk.from_string(s) for s in ("AABA", "AAB", "AA", "DDDD", "")],
        dtype=np.int64,
    )
    el = spark.createDataFrame(pd.DataFrame({"id": range(5), "qt": qts}))
    got = (
        assign_tiles(el, g).select("id", "tile_idx", "tile_qt")
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    want_arrow = (
        assign_tiles_arrow(el, g).select("id", "tile_idx", "tile_qt")
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want_arrow)
    # AABA and AAB match the group; AA (shallower), DDDD, ROOT overflow
    assert got["tile_idx"].tolist() == [0, 0, 1, 1, 1]
    assert got["tile_qt"].tolist() == [k3, k3, 0, 0, 0]


def test_find_groups_vectorized_parity():
    """r06: the vectorized find_groups must be bit-identical to the
    reference patricia-walk implementation across random cell sets of
    varying density, depth mixes and parameters (including the degenerate
    empty / single-cell / everything-below-minimum cases)."""
    from osmquadtree_bin_spark.tiling import find_groups

    rng = np.random.default_rng(7)
    cases = []
    for n, max_depth in [(0, 17), (1, 17), (5, 3), (500, 17), (5000, 17),
                         (20000, 12), (8000, 17)]:
        if n == 0:
            cells = np.empty(0, np.int64)
        else:
            depths = rng.integers(1, max_depth + 1, n).astype(np.int64)
            paths = rng.integers(0, 4 ** 17, n).astype(np.int64) << np.int64(29)
            cells = np.unique(qtk.round_to(paths | np.int64(17), depths))
        counts = rng.integers(1, 40, len(cells)).astype(np.int64)
        cases.append((cells, counts))
    # clustered case: many cells sharing deep common prefixes
    base = np.int64(0b0110) << np.int64(59)
    sub = rng.integers(0, 4 ** 10, 4000).astype(np.int64) << np.int64(29 + 14)
    cells = np.unique(qtk.round_to(base | sub | np.int64(17),
                                   rng.integers(5, 18, 4000).astype(np.int64)))
    cases.append((cells, rng.integers(1, 10, len(cells)).astype(np.int64)))

    for target, minimum in [(8000, 4000), (500, 250), (50, 25), (10**9, 1), (1, 0)]:
        for cells, counts in cases:
            got = find_groups(cells, counts, target, minimum)
            want = _find_groups_reference(cells, counts, target, minimum)
            pd.testing.assert_frame_equal(
                got.astype("int64"), want.astype("int64"),
                check_dtype=False,
            ), (target, minimum, len(cells))


def test_general_assigner_without_groups(spark):
    """No groups at all: every element lands in overflow tile 0 (tile_qt 0)."""
    g = pd.DataFrame({c: np.array([], np.int64) for c in ("tile_idx", "tile_qt", "cnt")})
    el = spark.createDataFrame([(1, qtk.from_string("AB")), (2, 0)], "id long, qt long")
    got = assign_tiles(el, g).orderBy("id").collect()
    assert [(r["tile_idx"], r["tile_qt"]) for r in got] == [(0, 0), (0, 0)]
