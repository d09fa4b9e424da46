"""Parquet-footer metadata reads for hive-partitioned tile stores, and the
store's ``tile_idx=N`` directory names (:func:`tile_dir`).

Per-tile row counts from file footers — the driver-side metadata path that
replaces full distributed count scans for write audits, diff ledgers and
overflow monitoring (guide §1.2: don't compute things a metadata read
already knows). :func:`tile_rows` is the one per-tile count those callers
use: the footer walk, or one distributed count when the walk declines. On
Iceberg the same numbers come from one manifest-summary scan; on HDFS/S3
the footers stream through the FS API. Callers of the walks themselves must
treat ``None`` as "fall back", never as zero.
"""

from __future__ import annotations

import glob
import logging
import os

log = logging.getLogger(__name__)


def tile_dir(tiled_path: str, tile: int) -> str:
    """The hive partition directory of ``tile`` in a tiled store — the one
    place the ``tile_idx=N`` path format is spelled."""
    return os.path.join(tiled_path, f"tile_idx={int(tile)}")


def tile_files(tiled_path: str, tiles: list[int] | None = None) -> dict[int, list[str]]:
    """Sorted ``*.parquet`` files per tile partition of a local
    hive-partitioned layout (tile_idx=N/ dirs). ``tiles`` limits the listing
    to those partitions; a tile without a directory is left out."""
    if tiles is None:
        dirs = glob.glob(os.path.join(tiled_path, "tile_idx=*"))
    else:
        dirs = [d for t in tiles if os.path.isdir(d := tile_dir(tiled_path, t))]
    return {
        int(os.path.basename(d).split("=", 1)[1]): sorted(
            glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in dirs
    }


def _guarded_walk(path: str, walk, fallback: str = "a distributed count", on_fail=None):
    """``walk(pq)`` with pyarrow's parquet module, or None (logged, and the
    reason passed to ``on_fail``) when pyarrow is missing or the walk fails.
    The except clause is narrow on purpose: a corrupt-footer signal must
    surface in the log, not silently vanish into the fallback (r05 ADVICE)."""
    try:
        import pyarrow.parquet as pq
        from pyarrow import ArrowException
    except ImportError as e:
        reason = f"no pyarrow ({e})"
    else:
        try:
            return walk(pq)
        except (OSError, ValueError, KeyError, ArrowException) as e:
            reason = f"{type(e).__name__}: {e}"
    log.warning(
        "footer walk of %s failed (%s) — falling back to %s; if this is a "
        "corrupt-footer signal it needs attention, not silence",
        path,
        reason,
        fallback,
    )
    if on_fail is not None:
        on_fail(reason)
    return None


def parquet_rows(path: str) -> int | None:
    """Exact row count of a flat parquet directory from its file footers — a
    driver-side metadata read replacing a full-scan ``count()`` job. None →
    caller falls back to the Spark count (no pyarrow, no ``*.parquet`` files,
    non-local fs, corrupt footer)."""

    def walk(pq):
        files = glob.glob(os.path.join(path, "*.parquet"))
        return sum(pq.read_metadata(f).num_rows for f in files) if files else None

    return _guarded_walk(path, walk)


def tile_rows_from_footers(
    tiled_path: str,
    max_files: int = 50_000,
    tiles: list[int] | None = None,
) -> dict[int, int] | None:
    """Per-tile written row counts from the parquet footers of a local
    hive-partitioned layout (tile_idx=N/ dirs) — a driver-side metadata
    read replacing a full distributed scan of the store. ``tiles`` limits
    the walk to those partitions (diff ledgers only touch a few tiles; the
    full-store walk is for the post-prepare audit). None → caller falls
    back to the Spark count (no pyarrow, non-partitioned layout, non-local
    fs, corrupt footer, or more files than a serial driver walk should
    touch)."""

    def walk(pq):
        per_dir = tile_files(tiled_path, tiles)
        if not per_dir:
            return {} if tiles is not None else None
        if sum(len(fs) for fs in per_dir.values()) > max_files:
            return None
        return {
            t: sum(pq.read_metadata(f).num_rows for f in fs)
            for t, fs in per_dir.items()
        }

    return _guarded_walk(tiled_path, walk)


def tile_rows(spark, tiled_path: str, tiles: list[int] | None = None) -> dict[int, int]:
    """Per-tile row counts of a tiled store, ``tiles`` limiting them to those
    partitions (a tile without a partition is left out). The footer walk
    (:func:`tile_rows_from_footers`) answers on a local hive layout with no
    Spark job; otherwise one ``groupBy(tile_idx).count()`` collect does,
    its scan split-sized for the session (``tuning.scan_splits_for``)."""
    from pyspark.sql import functions as F

    from .tuning import scan_splits_for

    got = tile_rows_from_footers(tiled_path, tiles=tiles)
    if got is not None:
        return got
    store = spark.read.parquet(tiled_path)
    if tiles is not None:
        store = store.filter(F.col("tile_idx").isin(list(tiles)))
    with scan_splits_for(store):
        return {
            int(r["tile_idx"]): int(r["count"])
            for r in store.groupBy("tile_idx").count().collect()
        }
