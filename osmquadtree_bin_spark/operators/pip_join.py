"""Spatial region joins: bbox containment and point-in-polygon (P2, P3, J7).

Reference contract: ``filter.MakeLocTestPolygon`` / ``filter.AsLocTest``
(``/root/reference/osmquadtree-filter.go:245-300``), region filtering with the
5% tile buffer (``osmquadtree-postgis.go:699``) and the two-pass trim
(``osmquadtree-filter.go:160-175``).

Spark-first design for 100 TB:
  1. **Tile pruning** (P1): the region's covering tile set is computed on the
     driver by a quadtree walk; the elements scan is filtered with
     ``tile_idx IN (...)`` → partition pruning at the source, no full scan.
  2. **Broadcast** the (small) region table — never shuffle the big side.
  3. **No salting**: bbox regions match through a per-row WHEN array, or,
     above ``PIP_BBOX_JOIN_CROSSOVER`` regions, a grid-cell broadcast
     equi-join; the only skew handling is AQE's skew-join splitting.
  4. Exact test runs as a vectorized numpy kernel inside one pandas UDF
     (bbox compare / ray-casting PIP) — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .. import quadtree as qtk


# ------------------------------------------------------------- tile pruning
def region_tiles(
    minx: int, miny: int, maxx: int, maxy: int, tile_keys: np.ndarray, buffer: float = 0.05
) -> np.ndarray:
    """Driver-side P1 generator: which tiles (cells) intersect the region bbox,
    testing each tile's ``buffer``-expanded bounds (``MakePassQt``,
    ``osmquadtree-filter.go:132-143``)."""
    bminx, bminy, bmaxx, bmaxy = qtk.bounds(np.asarray(tile_keys, np.int64), buffer)
    hit = (bminx <= maxx) & (bmaxx >= minx) & (bminy <= maxy) & (bmaxy >= miny)
    return np.asarray(tile_keys)[hit]


# ------------------------------------------------------- vectorized PIP core
def _point_in_rings(px: np.ndarray, py: np.ndarray, lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
    """Ray-casting: points (px,py) vs ONE polygon ring (lons,lats) — fully
    vectorized over points × edges."""
    x0, y0 = lons, lats
    x1 = np.roll(lons, -1)
    y1 = np.roll(lats, -1)
    px = px[:, None].astype(np.float64)
    py = py[:, None].astype(np.float64)
    cond = (y0[None, :] > py) != (y1[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x0[None, :] + (py - y0[None, :]) / (y1[None, :] - y0[None, :]) * (
            x1[None, :] - x0[None, :]
        )
    crossings = (cond & (px < xs)).sum(axis=1)
    return (crossings % 2).astype(bool)


# bbox-region count above which the grid-cell join arm replaces the WHEN array
PIP_BBOX_JOIN_CROSSOVER = 256
_MAX_GRID_CELLS_PER_AXIS = 4096


def _pip_bbox_many(elements: DataFrame, bbox_rows: list) -> DataFrame:
    """Bbox arm for LARGE region counts: broadcast equi-join on a grid-cell
    key instead of one codegen WHEN per region (r05 verdict #3 — the WHEN
    array is unbeatable at tens of regions but its generated code and plan
    grow linearly with the region count and cannot survive 100× more).

    Grid: driver-side, sized from the median region extent (so a region
    covers O(1) cells) and capped at 4096 cells/axis. The region side
    explodes to its covering cells driver-side (numpy) and broadcasts; the
    element side explodes to its covering cells with sequence()+explode in
    codegen — elements outside the union of region bounds are pre-filtered
    before the explode. After the BroadcastHashJoin on the cell key the
    exact inclusive bbox-intersect predicate runs, and each matching
    (element, region) pair is emitted EXACTLY once without a dedup
    shuffle: only in the grid cell that contains the intersection's
    top-left corner. Result rows are identical to the WHEN-array arm
    (pinned by test_pip_bbox_many_matches_when_arm)."""
    spark = elements.sparkSession
    rids = np.array([r["region_id"] for r in bbox_rows])
    rminx = np.array([int(r["minx"]) for r in bbox_rows], dtype=np.int64)
    rminy = np.array([int(r["miny"]) for r in bbox_rows], dtype=np.int64)
    rmaxx = np.array([int(r["maxx"]) for r in bbox_rows], dtype=np.int64)
    rmaxy = np.array([int(r["maxy"]) for r in bbox_rows], dtype=np.int64)
    gminx, gmaxx = int(rminx.min()), int(rmaxx.max())
    gminy, gmaxy = int(rminy.min()), int(rmaxy.max())
    cellw = max(1, int(np.median(rmaxx - rminx)),
                (gmaxx - gminx) // _MAX_GRID_CELLS_PER_AXIS)
    cellh = max(1, int(np.median(rmaxy - rminy)),
                (gmaxy - gminy) // _MAX_GRID_CELLS_PER_AXIS)
    ny = (gmaxy - gminy) // cellh + 1

    def cell_x_np(v):
        return np.clip((v - gminx) // cellw, 0, (gmaxx - gminx) // cellw)

    def cell_y_np(v):
        return np.clip((v - gminy) // cellh, 0, (gmaxy - gminy) // cellh)

    # region covering cells, exploded driver-side (few cells per region by
    # construction of the cell size)
    cx0, cx1 = cell_x_np(rminx), cell_x_np(rmaxx)
    cy0, cy1 = cell_y_np(rminy), cell_y_np(rmaxy)
    nx_r = (cx1 - cx0 + 1).astype(np.int64)
    ny_r = (cy1 - cy0 + 1).astype(np.int64)
    rep = (nx_r * ny_r).astype(np.int64)
    ridx = np.repeat(np.arange(len(bbox_rows)), rep)
    # per-region meshgrid flattened: cell offsets within the region's range
    off = np.concatenate([np.arange(k) for k in rep]) if len(rep) else np.empty(0, np.int64)
    rcx = cx0[ridx] + off // ny_r[ridx]
    rcy = cy0[ridx] + off % ny_r[ridx]
    grid_pdf = pd.DataFrame(
        {
            "__cell": rcx * ny + rcy,
            "__rid": rids[ridx],
            "__rminx": rminx[ridx], "__rminy": rminy[ridx],
            "__rmaxx": rmaxx[ridx], "__rmaxy": rmaxy[ridx],
        }
    )
    gdf = spark.createDataFrame(grid_pdf)

    def idiv(c, k: int):
        # exact floor division in codegen: subtract the (nonnegative) pmod
        # remainder first so the double division is of an exact multiple —
        # bit-identical to numpy's // for every int in range (a bare
        # cast-after-divide truncates toward zero and misplaces negatives)
        c = c.cast("long")
        return ((c - F.pmod(c, F.lit(k))) / F.lit(k)).cast("long")

    cxe = lambda v: F.greatest(  # noqa: E731 — clipped cell index, codegen
        F.lit(0),
        F.least(F.lit((gmaxx - gminx) // cellw), idiv(v - F.lit(gminx), cellw)),
    )
    cye = lambda v: F.greatest(  # noqa: E731
        F.lit(0),
        F.least(F.lit((gmaxy - gminy) // cellh), idiv(v - F.lit(gminy), cellh)),
    )
    e = (
        elements
        # outside the union of region bounds → cannot intersect any region
        .filter(
            (F.col("maxx") >= gminx) & (F.col("minx") <= gmaxx)
            & (F.col("maxy") >= gminy) & (F.col("miny") <= gmaxy)
        )
        .select(
            "id", "doc_id", "span_idx",
            F.col("minx").cast("long").alias("__eminx"),
            F.col("miny").cast("long").alias("__eminy"),
            F.col("maxx").cast("long").alias("__emaxx"),
            F.col("maxy").cast("long").alias("__emaxy"),
        )
        .withColumn("__cx", F.explode(F.sequence(cxe(F.col("__eminx")),
                                                 cxe(F.col("__emaxx")))))
        .withColumn("__cy", F.explode(F.sequence(cye(F.col("__eminy")),
                                                 cye(F.col("__emaxy")))))
        .withColumn("__cell", F.col("__cx") * ny + F.col("__cy"))
    )
    j = e.join(F.broadcast(gdf), "__cell")
    exact = (
        (F.col("__eminx") <= F.col("__rmaxx")) & (F.col("__emaxx") >= F.col("__rminx"))
        & (F.col("__eminy") <= F.col("__rmaxy")) & (F.col("__emaxy") >= F.col("__rminy"))
    )
    # one emit per pair: only the cell holding the intersection's top-left
    canonical = (
        (F.col("__cx") == cxe(F.greatest("__eminx", "__rminx")))
        & (F.col("__cy") == cye(F.greatest("__eminy", "__rminy")))
    )
    return j.filter(exact & canonical).select(
        F.col("__rid").alias("region_id"), "id", "doc_id", "span_idx"
    )


def pip_join(elements: DataFrame, regions: DataFrame) -> DataFrame:
    """J7: (region_id, id, doc_id, span_idx) pairs — every element whose
    geometry bbox intersects a bbox region, or whose bbox center falls inside
    a polygon region.

    Semantics pinned (and golden-tested): for ``kind='bbox'`` regions the
    element matches when its bbox intersects the region bbox (the reference's
    extract semantics — bbox overlap, ``osmquadtree-filter.go:50-69``); for
    ``kind='polygon'`` the element matches when its bbox center is inside the
    ring (point-in-poly, ``MakeLocTestPolygon``).
    """
    regs = regions.collect()  # small side — stays broadcast
    bbox_rows = [r for r in regs if r["kind"] == "bbox"]
    poly_rows = [r for r in regs if r["kind"] == "polygon"]

    out = []
    if bbox_rows and len(bbox_rows) > PIP_BBOX_JOIN_CROSSOVER:
        # large region counts: grid-cell broadcast equi-join — bounded plan
        # size regardless of region count (the WHEN array below grows its
        # generated code linearly and cannot survive 100× more regions)
        out.append(_pip_bbox_many(elements, bbox_rows))
    elif bbox_rows:
        # per-region WHEN exprs compacted into an array: one pass per row,
        # fully inside whole-stage codegen — higher-order functions
        # (F.filter over a literal struct array) run interpreted and
        # measured ~2x slower at tens of regions. (Above the crossover the
        # grid-cell broadcast join arm takes over.)
        matches = F.array_compact(
            F.array(
                *[
                    F.when(
                        (F.col("minx") <= F.lit(r["maxx"]))
                        & (F.col("maxx") >= F.lit(r["minx"]))
                        & (F.col("miny") <= F.lit(r["maxy"]))
                        & (F.col("maxy") >= F.lit(r["miny"])),
                        F.lit(r["region_id"]),
                    )
                    for r in sorted(bbox_rows, key=lambda r: r["region_id"])
                ]
            )
        )
        out.append(
            elements.withColumn("_m", matches)
            .filter(F.size("_m") > 0)
            .select(F.explode("_m").alias("region_id"), "id", "doc_id", "span_idx")
        )

    if poly_rows:
        # ONE vectorized pass over every polygon ring. Ring arrays are
        # closure-captured (broadcast with the UDF); per ring we test only
        # points inside its bbox (numpy mask). Hole rings (hole=true, .poly
        # '!' sections) subtract: a point matches a region iff inside >=1
        # outer ring and inside 0 hole rings.
        #
        # The UDF returns a packed BITMASK (one long per 64 regions), not an
        # array<string> of matched ids: the mask is pure numpy bit-or (zero
        # per-row Python, no Arrow string-array allocation — the previous
        # list-of-ids return looped Python over every matching row), and the
        # mask→region_id decode is JVM-side codegen (same array_compact
        # pattern as the bbox arm). Scales to any region count via chunks.
        rings = sorted(
            (
                (
                    r["region_id"],
                    np.asarray(r["lons"], dtype=np.float64),
                    np.asarray(r["lats"], dtype=np.float64),
                    bool(r.asDict().get("hole") or False),
                )
                for r in poly_rows
            ),
            key=lambda t: (t[0], t[3]),
        )
        region_ids = sorted({rid for rid, _, _, _ in rings})
        rid_bit = {rid: j for j, rid in enumerate(region_ids)}
        n_chunks = (len(region_ids) + 63) // 64

        def _masks(cx: pd.Series, cy: pd.Series) -> np.ndarray:
            px = cx.to_numpy(np.int64).astype(np.float64)
            py = cy.to_numpy(np.int64).astype(np.float64)
            n = len(px)
            outer = {rid: np.zeros(n, dtype=bool) for rid in region_ids}
            holes = {rid: np.zeros(n, dtype=bool) for rid in region_ids}
            for rid, lons, lats, is_hole in rings:
                box = (
                    (px >= lons.min()) & (px <= lons.max())
                    & (py >= lats.min()) & (py <= lats.max())
                )
                if not box.any():
                    continue
                idx = np.nonzero(box)[0]
                hit = _point_in_rings(px[idx], py[idx], lons, lats)
                (holes if is_hole else outer)[rid][idx[hit]] = True
            mask = np.zeros((n, n_chunks), dtype=np.uint64)
            for rid in region_ids:
                j = rid_bit[rid]
                mask[:, j >> 6] |= (outer[rid] & ~holes[rid]).astype(
                    np.uint64
                ) << np.uint64(j & 63)
            return mask.astype(np.int64)

        if n_chunks == 1:
            # flat long column: ZERO per-row Python objects in the transfer

            @pandas_udf(LongType())
            def _pip_all(cx: pd.Series, cy: pd.Series) -> pd.Series:
                return pd.Series(_masks(cx, cy)[:, 0])

        else:

            @pandas_udf(ArrayType(LongType()))
            def _pip_all(cx: pd.Series, cy: pd.Series) -> pd.Series:
                return pd.Series(list(_masks(cx, cy)))

        # asNondeterministic: stops the size(_rids)>0 filter from being
        # pushed through this projection with the UDF call (and its bbox-
        # center args, which inline the span-parse alias chain) substituted
        # into it — the same exponential plan-size bomb as tiling._assign.
        _pip_all = _pip_all.asNondeterministic()

        # explicit long upcast BEFORE the add: the stored bbox may be int32
        # (fixed-point degrees ×1e7 fit 32 bits — the reference's storage
        # convention) and int32+int32 would overflow on the sum
        cx = ((F.col("minx").cast("long") + F.col("maxx").cast("long")) / 2).cast("long")
        cy = ((F.col("miny").cast("long") + F.col("maxy").cast("long")) / 2).cast("long")
        # JVM-side bbox pre-filter before the Arrow UDF: a center outside
        # every polygon's bbox cannot match any ring, and the polygons cover
        # a small fraction of the plane — this cuts the Python transfer to
        # the candidate set (codegen OR-chain, same trick as tile pruning)
        pre = None
        for rid, lons, lats, _hole in rings:
            p = (
                (cx >= float(lons.min())) & (cx <= float(lons.max()))
                & (cy >= float(lats.min())) & (cy <= float(lats.max()))
            )
            pre = p if pre is None else (pre | p)
        # JVM-side mask→region_id decode (codegen): bit test per region,
        # array_compact + explode — mirrors the bbox arm exactly
        if n_chunks == 1:
            nonzero = F.col("_mask") != 0
            bit = lambda j: (  # noqa: E731
                F.col("_mask").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), j)) != 0
            )
        else:
            nonzero = F.expr("exists(_mask, m -> m != 0)")
            bit = lambda j: (  # noqa: E731
                F.get("_mask", j >> 6).bitwiseAND(
                    F.shiftleft(F.lit(1).cast("long"), j & 63)
                )
                != 0
            )
        matches_poly = F.array_compact(
            F.array(
                *[F.when(bit(rid_bit[rid]), F.lit(rid)) for rid in region_ids]
            )
        )
        out.append(
            elements.filter(pre)
            .withColumn("_mask", _pip_all(cx, cy))
            .filter(nonzero)
            .select(
                F.explode(matches_poly).alias("region_id"), "id", "doc_id", "span_idx"
            )
        )

    if not out:
        return elements.sparkSession.createDataFrame(
            [], "region_id string, id long, doc_id string, span_idx int"
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def idset_trim(elements: DataFrame, matched: DataFrame) -> DataFrame:
    """P4 two-pass trim: re-read ALL columns of elements whose id matched a
    region (LEFT SEMI JOIN — Spark broadcasts the id set when small, same as
    the reference's ``isBig`` switch, ``osmquadtree-filter.go:145``). The
    semi join has set semantics, so an id matched by several regions needs
    no ``distinct`` first (which would cost its own Spark job)."""
    return elements.join(matched.select("id"), "id", "left_semi")
