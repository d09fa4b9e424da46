"""Unit tests for the quadtree key algebra (SURVEY.md §5 item 1)."""

import numpy as np
import pytest

from osmquadtree_bin_spark import quadtree as qt
from tests.helpers import is_ancestor


def fp(deg: float) -> int:
    return int(round(deg * qt.COORD_SCALE))


def test_pack_roundtrip_tuple():
    tx = np.array([0, 1, 5, 131071, 262143], dtype=np.int64)
    ty = np.array([0, 1, 9, 131071, 0], dtype=np.int64)
    tz = np.array([0, 1, 4, 17, 18], dtype=np.int64)
    # x,y must fit in 2^z
    tx = np.minimum(tx, (1 << tz) - 1)
    ty = np.minimum(ty, (1 << tz) - 1)
    key = qt.from_tuple(tx, ty, tz)
    rx, ry, rz = qt.to_tuple(key)
    np.testing.assert_array_equal(rx, tx)
    np.testing.assert_array_equal(ry, ty)
    np.testing.assert_array_equal(rz, tz)


def test_string_roundtrip():
    for s in ["", "A", "D", "ABCD", "DDDDDDDDDDDDDDDDDD", "BCA"]:
        key = qt.from_string(s)
        assert qt.to_string(np.array([key]))[0] == s
        assert qt.depth_of(np.array([key]))[0] == len(s)


def test_preorder_sorting():
    """Parent sorts before descendants; descendants before next sibling."""
    parent = qt.from_string("AB")
    child0 = qt.from_string("ABA")
    child3 = qt.from_string("ABD")
    deep = qt.from_string("ABDDDD")
    sibling = qt.from_string("AC")
    assert parent < child0 < child3 < deep < sibling


def test_point_quadtree_quadrants():
    # NW quadrant of the world at depth 1 → x=0,y=0 → digit A
    lon = np.array([fp(-90), fp(90), fp(-90), fp(90)])
    lat = np.array([fp(45), fp(45), fp(-45), fp(-45)])
    keys = qt.point_quadtree(lon, lat, 1)
    assert list(qt.to_string(keys)) == ["A", "B", "C", "D"]


def test_common():
    a = qt.from_string("ABCA")
    b = qt.from_string("ABCD")
    c = qt.from_string("ABC")
    got = qt.common(np.array([a, a, a]), np.array([b, c, a]))
    assert list(qt.to_string(got)) == ["ABC", "ABC", "ABCA"]
    # totally disjoint → root
    assert qt.common(np.array([qt.from_string("A")]), np.array([qt.from_string("D")]))[0] == 0


def test_common_reduce_matches_pairwise():
    rng = np.random.default_rng(7)
    tz = rng.integers(0, 19, 50)
    tx = rng.integers(0, 1 << 18, 50) % (1 << tz)
    ty = rng.integers(0, 1 << 18, 50) % (1 << tz)
    keys = qt.from_tuple(tx, ty, tz)
    acc = keys[0]
    for k in keys[1:]:
        acc = qt.common(np.array([acc]), np.array([k]))[0]
    assert qt.common_reduce(keys) == acc


def test_round_to():
    k = qt.from_string("ABCDAB")
    assert qt.to_string(np.array([qt.round_to(k, 3)]))[0] == "ABC"
    assert qt.round_to(k, 17) == k  # shallower than level → unchanged


def test_is_ancestor():
    anc = qt.from_string("AB")
    assert is_ancestor(np.array([anc]), np.array([qt.from_string("ABCD")]))[0]
    assert is_ancestor(np.array([anc]), np.array([anc]))[0]
    assert not is_ancestor(np.array([anc]), np.array([qt.from_string("AC")]))[0]
    assert not is_ancestor(np.array([qt.from_string("ABCD")]), np.array([anc]))[0]


def test_bounds_contains_cell_points():
    key = np.array([qt.from_string("B")])  # NE quadrant: lon 0..180, lat 0..85
    minx, miny, maxx, maxy = qt.bounds(key, 0.0)
    assert minx[0] == 0 and maxx[0] == fp(180)
    assert miny[0] == 0
    assert maxy[0] == pytest.approx(fp(qt.MAX_LAT), abs=20)


def test_bounds_buffer_expands():
    key = np.array([qt.from_string("BCA")])  # interior cell, away from world edges
    m0 = qt.bounds(key, 0.0)
    m5 = qt.bounds(key, 0.05)
    assert m5[0][0] < m0[0][0] and m5[2][0] > m0[2][0]
    assert m5[1][0] < m0[1][0] and m5[3][0] > m0[3][0]


def test_calculate_point_bbox_hits_maxdepth():
    x, y = fp(13.40), fp(52.52)  # Berlin-ish
    key = qt.calculate(np.array([x]), np.array([y]), np.array([x]), np.array([y]))
    assert qt.depth_of(key)[0] == qt.MAX_DEPTH
    # the cell must contain the point
    minx, miny, maxx, maxy = qt.bounds(key, 0.0)
    assert minx[0] <= x <= maxx[0] and miny[0] <= y <= maxy[0]


def test_calculate_buffer_keeps_depth_near_edge():
    """A bbox slightly crossing a cell edge stays deep thanks to the 5% buffer."""
    # straddle the lon=0 meridian by a tiny amount: without buffer the only
    # containing cell is the root; with 0.05 buffer a deep cell still contains it
    eps = 200  # 2e-5 degrees
    key_buf = qt.calculate(
        np.array([-eps]), np.array([fp(50.0)]), np.array([eps]), np.array([fp(50.0001)]),
        buffer=0.05,
    )
    key_nobuf = qt.calculate(
        np.array([-eps]), np.array([fp(50.0)]), np.array([eps]), np.array([fp(50.0001)]),
        buffer=0.0,
    )
    assert qt.depth_of(key_nobuf)[0] == 0
    assert qt.depth_of(key_buf)[0] > 10


def test_calculate_large_bbox_shallow():
    key = qt.calculate(
        np.array([fp(-10)]), np.array([fp(40)]), np.array([fp(30)]), np.array([fp(60)])
    )
    assert qt.depth_of(key)[0] <= 3


def test_calculate_clamps_depth():
    x, y = fp(1.0), fp(1.0)
    key = qt.calculate(np.array([x]), np.array([y]), np.array([x]), np.array([y]), maxdepth=5)
    assert qt.depth_of(key)[0] == 5


def test_calculate_cell_buffered_contains_bbox():
    rng = np.random.default_rng(11)
    minx = rng.integers(fp(-170), fp(160), 200)
    miny = rng.integers(fp(-80), fp(75), 200)
    w = rng.integers(0, fp(0.5), 200)
    h = rng.integers(0, fp(0.5), 200)
    maxx, maxy = minx + w, miny + h
    keys = qt.calculate(minx, miny, maxx, maxy)
    bminx, bminy, bmaxx, bmaxy = qt.bounds(keys, 0.05)
    # allow 1-unit fixed-point rounding slack from bounds()'s round()
    assert np.all(bminx <= minx + 1) and np.all(bmaxx >= maxx - 1)
    assert np.all(bminy <= miny + 1) and np.all(bmaxy >= maxy - 1)
