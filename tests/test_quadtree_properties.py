"""Property-based tests for the quadtree key algebra (hypothesis)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from osmquadtree_bin_spark import quadtree as qt
from tests.helpers import is_ancestor

lon_fp = st.integers(-1_790_000_000, 1_790_000_000)
lat_fp = st.integers(-830_000_000, 830_000_000)
depth = st.integers(0, 18)


@settings(max_examples=200, deadline=None)
@given(lon_fp, lat_fp, depth)
def test_point_key_tuple_roundtrip(lon, lat, d):
    key = int(qt.point_quadtree(np.array([lon]), np.array([lat]), d)[0])
    tx, ty, tz = qt.to_tuple(np.array([key]))
    assert tz[0] == d
    assert 0 <= tx[0] < (1 << d) and 0 <= ty[0] < (1 << d)
    back = int(qt.from_tuple(tx, ty, tz)[0])
    assert back == key
    # string codec roundtrip
    s = qt.to_string(np.array([key]))[0]
    assert qt.from_string(s) == key


@settings(max_examples=200, deadline=None)
@given(lon_fp, lat_fp)
def test_point_cell_contains_point(lon, lat):
    key = qt.point_quadtree(np.array([lon]), np.array([lat]), 18)
    minx, miny, maxx, maxy = qt.bounds(key, 0.0)
    # 1-unit slack: bounds() rounds to fixed-point ints
    assert minx[0] - 1 <= lon <= maxx[0] + 1
    # mercator clamp makes extreme latitudes saturate
    clat = max(min(lat, int(qt.MAX_LAT * qt.COORD_SCALE)), -int(qt.MAX_LAT * qt.COORD_SCALE))
    assert miny[0] - 1 <= clat <= maxy[0] + 1


@settings(max_examples=200, deadline=None)
@given(lon_fp, lat_fp, lon_fp, lat_fp)
def test_common_is_ancestor_of_both(lon1, lat1, lon2, lat2):
    a = qt.point_quadtree(np.array([lon1]), np.array([lat1]), 18)
    b = qt.point_quadtree(np.array([lon2]), np.array([lat2]), 18)
    c = qt.common(a, b)
    assert is_ancestor(c, a)[0] and is_ancestor(c, b)[0]
    # deepest: one level deeper fails for at least one side
    d = int(qt.depth_of(c)[0])
    if d < 18:
        ra = qt.round_to(a, d + 1)
        rb = qt.round_to(b, d + 1)
        assert ra[0] != rb[0]


@settings(max_examples=100, deadline=None)
@given(lon_fp, lat_fp, lon_fp, lat_fp, lon_fp, lat_fp)
def test_common_associative_commutative(x1, y1, x2, y2, x3, y3):
    ks = [
        qt.point_quadtree(np.array([x]), np.array([y]), 18)
        for x, y in ((x1, y1), (x2, y2), (x3, y3))
    ]
    ab_c = qt.common(qt.common(ks[0], ks[1]), ks[2])
    a_bc = qt.common(ks[0], qt.common(ks[1], ks[2]))
    ba_c = qt.common(qt.common(ks[1], ks[0]), ks[2])
    assert ab_c[0] == a_bc[0] == ba_c[0]


@settings(max_examples=100, deadline=None)
@given(lon_fp, lat_fp, lon_fp, lat_fp)
def test_calculate_contains_bbox_with_buffer(lon1, lat1, lon2, lat2):
    minx, maxx = sorted((lon1, lon2))
    miny, maxy = sorted((lat1, lat2))
    key = qt.calculate(np.array([minx]), np.array([miny]), np.array([maxx]), np.array([maxy]))
    bminx, bminy, bmaxx, bmaxy = qt.bounds(key, 0.05)
    assert bminx[0] <= minx + 1 and bmaxx[0] >= maxx - 1
    clamp = int(qt.MAX_LAT * qt.COORD_SCALE)
    assert bminy[0] <= max(min(miny, clamp), -clamp) + 1
    assert bmaxy[0] >= min(max(maxy, -clamp), clamp) - 1


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lon_fp, lat_fp), min_size=1, max_size=20))
def test_preorder_parent_before_children(points):
    keys = np.sort(
        np.concatenate(
            [qt.point_quadtree(np.array([x]), np.array([y]), 18) for x, y in points]
        )
    )
    # every prefix-ancestor of any key sorts before it
    for k in keys:
        for d in range(int(k & 31)):
            anc = qt.round_to(np.array([k]), d)[0]
            assert anc <= k
