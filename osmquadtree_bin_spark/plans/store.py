"""Tiled-store query engine — the geometry server's read path (§3.2, P1+P6).

Reference: the server materializes SQL-queryable tables for one bbox/tile by
a pruned scan of the packed tile store (``pds.Filter``/``FilterTile``,
``osmquadtree-geometry.go:593-635``), pruning tiles against the region first
(``MakePassQt``, :766-777), with a guard rejecting oversized bboxes
(:600-602).

Every request is the pruned tile list, computed on the driver (a numpy pass
over the group keys — the P1 generator), and an exact predicate
(``BBoxOverlap`` for a bbox, ``InCell`` for a raw tile), read through the
store's one tile-set reader (``streaming.update.TileSet``). The bbox guard
rejects an oversized request before anything is read. The reader has two
arms:

* the driver arm (``bbox_rows``, ``tile_rows``: the server's /bbox and
  /tile) reads the pruned ``tile_idx=N`` files of a local store with
  pyarrow, skips row groups whose footer min/max miss the predicate and
  stops at the response limit: no Spark job. Where a pyarrow read raises
  it falls back to the Spark arm and records why;
* the Spark arm (``read_tiles``, ``scan_bbox``, ``rawtile``) returns a lazy
  DataFrame over only the pruned directories, with the store schema read
  once at construction, so a request neither lists the whole store nor runs
  a schema-inference job. The ``tile_idx IN (...)`` filter stays
  (``.explain`` → PartitionFilters).

The same predicate value renders the SQL text and the Arrow mask, and both
arms return rows in the stored ``(tile_idx, id)`` order.

``sql`` serves the planet_osm views over the Spark arm's bbox slice. The
views are SQL text (``plans.tables``) that read one slice view by name, so a
request only re-points the slice (``tables_for_bbox``: one
``createOrReplaceTempView``); a view is created the first time a query
references it, after the views it reads from, and again only when the
session's live definition of its name is not the engine's
(``register_tables`` elsewhere in the session replaced it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.pip_join import region_tiles
from ..streaming.update import BBoxOverlap, InCell, TileSet
from .tables import SLICE_VIEW, referenced_views, served_views
from .tables import register_tables  # noqa: F401 — perfbench's tracer wraps it by name

MAX_BBOX_UNITS = 200_000_000  # reference guard: reject bboxes > 20M units (×10 margin)


class TileQueryEngine:
    def __init__(self, spark: SparkSession, store_path: str, groups: pd.DataFrame):
        self.spark = spark
        self.store_path = store_path
        self.groups = groups
        self.tiles = TileSet(spark, store_path)
        self.views = served_views()

    def read_tiles(self, tiles: list[int], where: str | None = None) -> DataFrame:
        """The store restricted to ``tiles`` and to the SQL predicate
        ``where``: the reader's Spark arm (``TileSet.frame``)."""
        return self.tiles.frame(tiles, where)

    def pruned_tiles(self, minx: int, miny: int, maxx: int, maxy: int) -> list[int]:
        """P1 generator: tile_idx list whose buffered tile bounds intersect."""
        keys = self.groups["tile_qt"].to_numpy(np.int64)
        hit_keys = region_tiles(minx, miny, maxx, maxy, keys, buffer=0.05)
        sel = self.groups[self.groups["tile_qt"].isin(hit_keys)]
        return [int(t) for t in sel["tile_idx"]]

    def _bbox(self, minx: int, miny: int, maxx: int, maxy: int):
        """P6: the pruned tiles and the exact predicate of a bbox request."""
        if (maxx - minx) > MAX_BBOX_UNITS or (maxy - miny) > MAX_BBOX_UNITS:
            raise ValueError("bbox too large (reference guard, geometry.go:600-602)")
        return self.pruned_tiles(minx, miny, maxx, maxy), BBoxOverlap(minx, miny, maxx, maxy)

    def _cell(self, tx: int, ty: int, tz: int):
        """J8 (``tq.rawtile``, ``osmquadtree-geometry.go:283-314``): every
        stored element whose qt is a descendant-or-equal of the raster cell —
        the tiles its buffered bounds prune to, then the rounded-key test."""
        from .. import quadtree as qtk

        req = int(qtk.from_tuple(np.array([tx]), np.array([ty]), np.array([tz]))[0])
        minx, miny, maxx, maxy = (int(v[0]) for v in qtk.bounds(np.array([req]), 0.05))
        return self.pruned_tiles(minx, miny, maxx, maxy), InCell(req, tz)

    def scan_bbox(
        self, minx: int, miny: int, maxx: int, maxy: int, columns: list[str] | None = None
    ) -> DataFrame:
        """P6: pruned + exact-filtered scan of the tiled store (Spark arm)."""
        tiles, pred = self._bbox(minx, miny, maxx, maxy)
        df = self.read_tiles(tiles, pred.sql())
        return df.select(*columns) if columns else df

    def bbox_rows(self, minx: int, miny: int, maxx: int, maxy: int, limit: int) -> list[dict]:
        """The rows of ``scan_bbox``, at most ``limit``, read on the driver."""
        return self.tiles.rows(*self._bbox(minx, miny, maxx, maxy), limit)

    def rawtile(self, tx: int, ty: int, tz: int) -> DataFrame:
        """J8 raw-tile fetch over the Spark arm."""
        tiles, pred = self._cell(tx, ty, tz)
        return self.read_tiles(tiles, pred.sql())

    def tile_rows(self, tx: int, ty: int, tz: int, limit: int) -> list[dict]:
        """The rows of ``rawtile``, at most ``limit``, read on the driver."""
        return self.tiles.rows(*self._cell(tx, ty, tz), limit)

    def tables_for_bbox(self, minx: int, miny: int, maxx: int, maxy: int, views) -> None:
        """Point the planet_osm views at the bbox slice, creating those of
        ``views`` (and the views they read from) whose live definition is
        not the engine's."""
        self.scan_bbox(minx, miny, maxx, maxy).createOrReplaceTempView(SLICE_VIEW)
        self.views.ensure(self.spark, views)

    def sql(self, query: str, bbox: tuple[int, int, int, int]) -> DataFrame:
        from ..functions.dialect import translate

        text = translate(query)
        self.tables_for_bbox(*bbox, views=referenced_views(text))
        return self.spark.sql(text)

    def extract(
        self,
        regions: DataFrame,
        sort_by_id: bool = True,
    ) -> DataFrame:
        """The osmquadtree-filter extract (§3, ``osmquadtree-filter.go:122-225``):
        PIP-match elements against regions, two-pass id-set trim (P4), global
        (type,id) sort (O2)."""
        from ..operators.pip_join import idset_trim, pip_join

        # prune tiles PER REGION (a union bbox over scattered regions would
        # cover the world and defeat pruning — and trip the size guard)
        tiles: set[int] = set()
        for r in regions.collect():
            if r["minx"] is not None:
                bb = (r["minx"], r["miny"], r["maxx"], r["maxy"])
            else:
                bb = (min(r["lons"]), min(r["lats"]), max(r["lons"]), max(r["lats"]))
            tiles.update(self.pruned_tiles(*(int(v) for v in bb)))
        elements = self.read_tiles(sorted(tiles))
        # the id-set trim keeps only the matched ids, so the match reads id
        # and the bbox; pip_join's lineage columns are nulls (prepare stores none)
        probe = elements.select(
            "id", "minx", "miny", "maxx", "maxy",
            F.lit(None).cast("string").alias("doc_id"), F.lit(None).cast("int").alias("span_idx"),
        )
        matched = pip_join(probe, regions)
        trimmed = idset_trim(elements, matched)
        return trimmed.orderBy("id") if sort_by_id else trimmed
