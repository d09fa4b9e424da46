"""Tiled-store query engine — the geometry server's read path (§3.2, P1+P6).

Reference: the server materializes SQL-queryable tables for one bbox/tile by
a pruned scan of the packed tile store (``pds.Filter``/``FilterTile``,
``osmquadtree-geometry.go:593-635``), pruning tiles against the region first
(``MakePassQt``, :766-777), with a guard rejecting oversized bboxes
(:600-602).

Spark shape: the store is tile-partitioned parquet (Iceberg in production).
``scan_bbox`` computes the pruned tile list on the driver (a numpy pass over
the group keys — the P1 generator) and reads ONLY those hive partitions: the
scan is built over the pruned ``tile_idx=N`` directories with the store
schema read once at construction, so a request neither lists the whole store
nor runs a schema-inference job. The ``tile_idx IN (...)`` filter stays
(``.explain`` → PartitionFilters). It applies the exact bbox predicate.

``sql`` serves the planet_osm views over that slice. The views are SQL text
(``plans.tables``) that read one slice view by name, so a request only
re-points the slice (``tables_for_bbox``: one ``createOrReplaceTempView``);
a view is created the first time a query references it, after the views it
reads from, and again only when the session's live definition of its name
is not the engine's (``register_tables`` elsewhere in the session replaced
it).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..footers import tile_dir
from ..operators.pip_join import region_tiles
from ..tuning import scoped_conf
from .tables import SLICE_VIEW, referenced_views, served_views
from .tables import register_tables  # noqa: F401 — perfbench's tracer wraps it by name

MAX_BBOX_UNITS = 200_000_000  # reference guard: reject bboxes > 20M units (×10 margin)
_DISCOVERY_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


class TileQueryEngine:
    def __init__(self, spark: SparkSession, store_path: str, groups: pd.DataFrame):
        self.spark = spark
        self.store_path = store_path
        self.groups = groups
        self.schema = spark.read.parquet(store_path).schema
        self.views = served_views()

    def read_tiles(self, tiles: list[int], where: str | None = None) -> DataFrame:
        """The store restricted to ``tiles`` and to the SQL predicate
        ``where``: a pinned-schema read of just their ``tile_idx=N``
        directories. The directories are listed per call, so files that
        ``TiledStore.apply_diff`` rewrote since the engine was built are
        seen; a tile without a directory (emptied by a diff) is skipped, and
        no directory at all gives an empty frame. The predicate is one SQL
        string in one filter: built from Column objects it costs a py4j
        round trip per literal (~20 ms on a 4-vCPU Xeon for a 9-tile
        ``isin`` and a bbox). The directories are listed on the driver: past
        ``parallelPartitionDiscovery.threshold`` paths (32 by default) Spark
        would run a listing job, so the threshold is scoped to their
        count."""
        dirs = [
            d for t in sorted(set(tiles)) if os.path.isdir(d := tile_dir(self.store_path, t))
        ]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        cond = f"tile_idx IN ({', '.join(str(int(t)) for t in tiles)})"  # → PartitionFilters
        with scoped_conf(self.spark, _DISCOVERY_KEY, str(len(dirs))):
            df = self.spark.read.schema(self.schema).option("basePath", self.store_path)
            df = df.parquet(*dirs)
        return df.filter(cond if where is None else f"{cond} AND {where}")

    def pruned_tiles(self, minx: int, miny: int, maxx: int, maxy: int) -> list[int]:
        """P1 generator: tile_idx list whose buffered tile bounds intersect."""
        keys = self.groups["tile_qt"].to_numpy(np.int64)
        hit_keys = region_tiles(minx, miny, maxx, maxy, keys, buffer=0.05)
        sel = self.groups[self.groups["tile_qt"].isin(hit_keys)]
        return [int(t) for t in sel["tile_idx"]]

    def scan_bbox(
        self, minx: int, miny: int, maxx: int, maxy: int, columns: list[str] | None = None
    ) -> DataFrame:
        """P6: pruned + exact-filtered scan of the tiled store."""
        if (maxx - minx) > MAX_BBOX_UNITS or (maxy - miny) > MAX_BBOX_UNITS:
            raise ValueError("bbox too large (reference guard, geometry.go:600-602)")
        df = self.read_tiles(
            self.pruned_tiles(minx, miny, maxx, maxy),
            f"minx <= {int(maxx)} AND maxx >= {int(minx)} "
            f"AND miny <= {int(maxy)} AND maxy >= {int(miny)}",
        )
        return df.select(*columns) if columns else df

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

    def rawtile(self, tx: int, ty: int, tz: int) -> DataFrame:
        """J8 raw-tile fetch (``tq.rawtile``, ``osmquadtree-geometry.go:283-314``):
        every stored element whose qt is a descendant-or-equal of the raster
        cell — tile partitions pruned first, then the rounded-key equi-filter."""
        from .. import quadtree as qtk
        from ..tiling import qt_round_sql

        req = int(qtk.from_tuple(np.array([tx]), np.array([ty]), np.array([tz]))[0])
        minx, miny, maxx, maxy = (int(v[0]) for v in qtk.bounds(np.array([req]), 0.05))
        return self.read_tiles(
            self.pruned_tiles(minx, miny, maxx, maxy),
            f"(qt & 31) >= {int(tz)} AND {qt_round_sql('qt', tz)} = {req}",
        )

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
