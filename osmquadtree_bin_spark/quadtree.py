"""Vectorized quadtree kernels (numpy) — the engine's central spatial index.

Re-creates, from its observable contract, the quadtree key algebra of the
reference library used by osmquadtree-bin (call sites:
``/root/reference/osmquadtree-rebase.go:109`` ``quadtree.Calculate(bbox, 0.05, 18)``,
``/root/reference/osmquadtree-geometry.go:361-370,436-453`` tuple/string codecs and
``Bounds(buffer)``, ``/root/reference/osmquadtree-rebase.go:230`` ``Common``).
This is a brand-new implementation: semantics are pinned HERE (and unit-tested),
not copied from the reference's library internals.

Key format (int64, sorts in depth-first pre-order):

    key = (path << (63 - 2*depth)) | depth        depth in [0, 18], 5 low bits

``path`` is the sequence of quad digits from the root, most-significant pair
first, so the first digit always occupies bits 62-61. A parent key is strictly
less than all of its descendants and all descendants sort before the parent's
next sibling — this makes range pruning and group assignment a binary search.

Quad digit convention (Bing-style quadkey): digit = 2*y_bit + x_bit where x is
the web-mercator column (west→east) and y the row (north→south). String form
maps digits 0..3 to letters ``A B C D``.

Coordinates are fixed-point integer degrees ×10⁷ (the reference convention,
``osmquadtree-geometry.go:422`` ``quadtree.ToInt``).

Everything here is numpy-vectorized: these kernels run inside pandas/Arrow
UDFs on executors — no per-row Python (BASELINE.json ``input_hint``).
"""

from __future__ import annotations

import numpy as np

COORD_SCALE = 10_000_000  # fixed-point: degrees * 1e7
MAX_DEPTH = 18
MAX_LAT = 85.05112877980659  # web-mercator clamp
DEPTH_MASK = np.int64(31)

__all__ = [
    "COORD_SCALE",
    "MAX_DEPTH",
    "bounds",
    "calculate",
    "common",
    "depth_of",
    "from_string",
    "from_tuple",
    "lat_to_unit",
    "lon_to_unit",
    "point_quadtree",
    "round_to",
    "to_string",
    "to_tuple",
    "unit_to_lat",
    "unit_to_lon",
]


# ---------------------------------------------------------------- projections
def lon_to_unit(lon_fp: np.ndarray) -> np.ndarray:
    """Fixed-point lon → web-mercator unit x in [0, 1)."""
    lon = np.asarray(lon_fp, dtype=np.float64) / COORD_SCALE
    return (lon + 180.0) / 360.0


def lat_to_unit(lat_fp: np.ndarray) -> np.ndarray:
    """Fixed-point lat → web-mercator unit y in [0, 1) (0 = north)."""
    lat = np.asarray(lat_fp, dtype=np.float64) / COORD_SCALE
    lat = np.clip(lat, -MAX_LAT, MAX_LAT)
    s = np.sin(np.radians(lat))
    y = 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)
    return np.clip(y, 0.0, np.nextafter(1.0, 0.0))


def unit_to_lon(ux: np.ndarray) -> np.ndarray:
    """Unit x → float degrees."""
    return np.asarray(ux, dtype=np.float64) * 360.0 - 180.0


def unit_to_lat(uy: np.ndarray) -> np.ndarray:
    """Unit y → float degrees (inverse mercator)."""
    n = np.pi * (1.0 - 2.0 * np.asarray(uy, dtype=np.float64))
    return np.degrees(np.arctan(np.sinh(n)))


# ------------------------------------------------------------- bit utilities
_SPREAD_MASKS = (
    (np.uint64(16), np.uint64(0x0000FFFF0000FFFF)),
    (np.uint64(8), np.uint64(0x00FF00FF00FF00FF)),
    (np.uint64(4), np.uint64(0x0F0F0F0F0F0F0F0F)),
    (np.uint64(2), np.uint64(0x3333333333333333)),
    (np.uint64(1), np.uint64(0x5555555555555555)),
)


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 32 bits of each uint64 lane."""
    v = v.astype(np.uint64)
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & mask
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_spread_bits` (keep even-position bits)."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def _pack(path: np.ndarray, depth: np.ndarray) -> np.ndarray:
    """(path, depth) → int64 key."""
    path = path.astype(np.uint64)
    depth = np.asarray(depth, dtype=np.uint64)
    return ((path << (np.uint64(63) - np.uint64(2) * depth)) | depth).astype(np.int64)


def depth_of(key: np.ndarray) -> np.ndarray:
    return (np.asarray(key, dtype=np.int64) & DEPTH_MASK).astype(np.int64)


def _path_of(key: np.ndarray) -> np.ndarray:
    """Right-aligned path digits (2*depth bits)."""
    key = np.asarray(key, dtype=np.int64)
    d = depth_of(key).astype(np.uint64)
    return (key.astype(np.uint64) >> (np.uint64(63) - np.uint64(2) * d)) & (
        (np.uint64(1) << (np.uint64(2) * d)) - np.uint64(1)
    )


def _pathfield(key: np.ndarray) -> np.ndarray:
    """Left-aligned path bits with depth bits cleared (for prefix compare)."""
    return np.asarray(key, dtype=np.int64) & ~DEPTH_MASK


# ------------------------------------------------------------------- codecs
def from_tuple(tx: np.ndarray, ty: np.ndarray, tz: np.ndarray) -> np.ndarray:
    """(x, y, zoom) tile tuple → key. Mirrors ``quadtree.FromTuple``
    (``osmquadtree-geometry.go:442``)."""
    tx = np.asarray(tx, dtype=np.uint64)
    ty = np.asarray(ty, dtype=np.uint64)
    tz = np.asarray(tz, dtype=np.int64)
    path = _spread_bits(tx) | (_spread_bits(ty) << np.uint64(1))
    return _pack(path, tz)


def to_tuple(key: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """key → (x, y, zoom). Mirrors ``Tuple()`` (``osmquadtree-geometry.go:361``)."""
    path = _path_of(key)
    d = depth_of(key)
    tx = _compact_bits(path).astype(np.int64)
    ty = _compact_bits(path >> np.uint64(1)).astype(np.int64)
    return tx, ty, d


def to_string(key: np.ndarray) -> np.ndarray:
    """key → letter string, one of A/B/C/D per level; root = ''."""
    key = np.atleast_1d(np.asarray(key, dtype=np.int64))
    path = _path_of(key).astype(np.int64)
    d = depth_of(key)
    out = np.full(key.shape, "", dtype=object)
    letters = np.array(list("ABCD"), dtype=object)
    maxd = int(d.max()) if key.size else 0
    for lvl in range(maxd):
        mask = d > lvl
        shift = (2 * (d[mask] - lvl - 1)).astype(np.int64)
        digit = (path[mask] >> shift) & 3
        out[mask] = out[mask] + letters[digit]
    return out


def from_string(s: str) -> int:
    """Scalar inverse of :func:`to_string` (driver-side convenience)."""
    path = 0
    for ch in s:
        path = (path << 2) | "ABCD".index(ch)
    return int(_pack(np.array([path], dtype=np.uint64), np.array([len(s)]))[0])


# --------------------------------------------------------------- point encode
def point_quadtree(
    lon_fp: np.ndarray, lat_fp: np.ndarray, depth: int = MAX_DEPTH
) -> np.ndarray:
    """Quadtree key of a point at fixed depth."""
    n = np.uint64(1) << np.uint64(depth)
    xs = np.minimum(
        (lon_to_unit(lon_fp) * float(1 << depth)).astype(np.uint64), n - np.uint64(1)
    )
    ys = np.minimum(
        (lat_to_unit(lat_fp) * float(1 << depth)).astype(np.uint64), n - np.uint64(1)
    )
    return from_tuple(xs, ys, np.full(np.shape(xs), depth, dtype=np.int64))


# --------------------------------------------------------------------- common
def common(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Lowest common ancestor of two keys (``rr[r].Common(q)``,
    ``osmquadtree-rebase.go:230``)."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    x = (_pathfield(a) ^ _pathfield(b)).astype(np.uint64)
    # exact bit_length via unrolled binary search (vectorized, branch-free)
    v = x.copy()
    bl = np.zeros(x.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(shift))
        bl[m] += shift
        v[m] >>= np.uint64(shift)
    bl += (v > 0).astype(np.int64)
    prefix_pairs = np.where(x == 0, MAX_DEPTH, (63 - bl) // 2)
    d = np.minimum(np.minimum(depth_of(a), depth_of(b)), prefix_pairs)
    return round_to(a, d)


def round_to(key: np.ndarray, level: np.ndarray | int) -> np.ndarray:
    """Truncate key to min(depth, level) — A3's level-17 rounding."""
    key = np.asarray(key, dtype=np.int64)
    d = np.minimum(depth_of(key), np.asarray(level, dtype=np.int64))
    du = d.astype(np.uint64)
    shift = np.uint64(63) - np.uint64(2) * du
    path = (_pathfield(key).astype(np.uint64) >> shift) << shift
    return (path | du).astype(np.int64)


def common_reduce(keys: np.ndarray) -> int:
    """LCA of a whole set (associative/commutative — shuffle-safe)."""
    keys = np.asarray(keys, dtype=np.int64)
    out = keys[0:1]
    # pairwise tree-reduce in numpy (log passes)
    cur = keys
    while cur.size > 1:
        half = cur.size // 2
        merged = common(cur[:half], cur[half : 2 * half])
        if cur.size % 2:
            merged = np.concatenate([merged, cur[-1:]])
        cur = merged
    return int(cur[0]) if cur.size else 0


# --------------------------------------------------------------------- bounds
def bounds(key: np.ndarray, buffer: float = 0.0) -> tuple[np.ndarray, ...]:
    """Cell bounds as fixed-point (minx, miny, maxx, maxy), expanded by
    ``buffer`` × cell size (``k.Bounds(buffer)``, ``osmquadtree-geometry.go:366``)."""
    tx, ty, d = to_tuple(key)
    inv = 1.0 / np.power(2.0, d.astype(np.float64))
    ux0 = tx.astype(np.float64) * inv - buffer * inv
    ux1 = (tx.astype(np.float64) + 1.0) * inv + buffer * inv
    uy0 = ty.astype(np.float64) * inv - buffer * inv
    uy1 = (ty.astype(np.float64) + 1.0) * inv + buffer * inv
    minx = np.round(unit_to_lon(ux0) * COORD_SCALE).astype(np.int64)
    maxx = np.round(unit_to_lon(ux1) * COORD_SCALE).astype(np.int64)
    # y axis inverted: uy0 (north) is max lat
    maxy = np.round(unit_to_lat(np.clip(uy0, 0.0, 1.0)) * COORD_SCALE).astype(np.int64)
    miny = np.round(unit_to_lat(np.clip(uy1, 0.0, 1.0)) * COORD_SCALE).astype(np.int64)
    return minx, miny, maxx, maxy


# ------------------------------------------------------------------ calculate
def calculate(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    buffer: float = 0.05,
    maxdepth: int = MAX_DEPTH,
) -> np.ndarray:
    """Deepest cell (≤ maxdepth) whose ``buffer``-expanded bounds contain the
    bbox — the reference split rule ``quadtree.Calculate(bbox, 0.05, 18)``
    (``osmquadtree-rebase.go:109``).

    Inputs are fixed-point int bbox corners. Fully vectorized midpoint
    descent: at each level, the candidate child is the one containing the
    bbox midpoint; descend while the ``buffer``-expanded child still contains
    the whole bbox (this is what lets a bbox slightly crossing a cell edge
    stay deep instead of rolling up to a huge ancestor). ≤ maxdepth
    iterations of pure numpy ops over all rows.
    """
    ux0 = lon_to_unit(np.asarray(minx, dtype=np.int64))
    ux1 = lon_to_unit(np.asarray(maxx, dtype=np.int64))
    # y inverted: maxy (north) → smaller unit y
    uy0 = lat_to_unit(np.asarray(maxy, dtype=np.int64))
    uy1 = lat_to_unit(np.asarray(miny, dtype=np.int64))

    cx = (ux0 + ux1) * 0.5
    cy = (uy0 + uy1) * 0.5
    shape = np.shape(ux0)
    tx = np.zeros(shape, dtype=np.int64)
    ty = np.zeros(shape, dtype=np.int64)
    d = np.zeros(shape, dtype=np.int64)
    active = np.ones(shape, dtype=bool)

    for level in range(maxdepth):
        inv = 1.0 / float(1 << (level + 1))
        xbit = (cx >= (tx * 2 + 1) * inv).astype(np.int64)
        ybit = (cy >= (ty * 2 + 1) * inv).astype(np.int64)
        ntx = tx * 2 + xbit
        nty = ty * 2 + ybit
        fits = (
            ((ntx - buffer) * inv <= ux0)
            & (ux1 <= (ntx + 1 + buffer) * inv)
            & ((nty - buffer) * inv <= uy0)
            & (uy1 <= (nty + 1 + buffer) * inv)
        )
        step = active & fits
        if not np.any(step):
            break
        tx = np.where(step, ntx, tx)
        ty = np.where(step, nty, ty)
        d = d + step.astype(np.int64)
        active = step
    return from_tuple(tx, ty, d)
