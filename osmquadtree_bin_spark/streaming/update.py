"""Incremental update pipeline (S6/S7, J6, T1-T5) with a lineage ledger.

Reference contract (``/root/reference/osmquadtree-update.go``):
  * state ledger: append-only (state, timestamp) log, re-fetch avoidance
    (:157-229 ``getState`` over state.csv).
  * catch-up loop: apply every diff from last-applied+1 to head (:315-370).
  * per diff: newest version of each element wins, only touched tiles are
    recomputed, untouched tiles pass through (:382-396
    ``update.CalcUpdateTiles``).
  * timestamp rounding: round up to day boundary, <7200 s grace rounds down
    (:354-360).

Spark shape: the tiled table is hive-partitioned parquet (Iceberg in
production — MERGE INTO + overwrite-by-partition-filter). Each ``apply_diff``
runs as few Spark jobs as its work needs:
  1. evaluates the assigned diff ONCE (``localCheckpoint``: the parquet read
     and the assigner's broadcast join run one time), then one collect finds
     the touched tiles — the diff's new tiles plus the tiles its ids live in
     now (partition pruning: only those partitions are read below),
  2. merges newest-wins via row_number over (id) ordered by version desc and
     writes the result straight into a dynamic partition overwrite of ONLY
     the touched tiles — one write job, no persist. The write goes through
     ``tiling.write_tiled``, the store's one writer, which owns the stored
     schema: a tile rewritten here has the same file schema as one prepare,
     ``write_initial`` or a rebase wrote. The overwrite commits after every
     task has read its base partitions; a touched tile whose ``*.parquet``
     files are the same after the write got no output rows and is dropped,
  3. reads the per-tile row counts before and after (``footers.tile_rows``:
     parquet footers on a local hive store),
  4. writes a lineage row per touched partition on the driver with pyarrow:
     (state, tile_idx, rows_in, rows_out, ts) — the resumable-checkpoint
     contract of the north rule. The file appears atomically (hidden temp
     file + ``os.replace``).

``resume_state`` reads the ledger's ``state`` column on the driver once per
store instance, so a killed run restarts idempotently (T1's re-fetch
avoidance). One writer per store, as the dynamic overwrite already requires.

``TiledStore.tile`` is the bulk tiling path: prepare and ``rebase`` (prepare
over the ``merge_newest`` result) both run it.

``TileSet`` reads a tile set of a store's ``data_path`` for the serving
engine (``plans.store``): a Spark arm that returns a DataFrame, and a driver
arm that answers a bounded request with pyarrow and no Spark job, falling
back to the Spark arm where pyarrow cannot read the store. The predicate
classes (``BBoxOverlap``, ``InCell``) render both arms' filters from one
value.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

LEDGER_SCHEMA = (
    "state long, tile_idx long, rows_in long, rows_out long, applied_at long, "
    "span_digest_ok boolean"
)


def round_to_day(ts_col, grace_seconds: int = 7200):
    """T2 (``osmquadtree-update.go:354-360``): round a timestamp to a day
    boundary. The reference source *appears* to round down within a 7200 s
    grace window, but its ``< 7200`` branch lacks an else and is immediately
    overridden by the unconditional ``(ts/day + 1) * day`` — so the observable
    behavior of the reference binary is: exactly-on-boundary timestamps pass
    through, everything else rounds UP to the next boundary. We match the
    binary, not the apparent intent; ``grace_seconds`` is kept in the
    signature for API compatibility but, like the reference's, has no effect.
    """
    del grace_seconds  # dead in the reference too — see docstring
    day = F.date_trunc("day", ts_col)
    secs_past = F.unix_timestamp(ts_col) - F.unix_timestamp(day)
    return F.when(secs_past == 0, day).otherwise(F.date_add(day, 1).cast("timestamp"))


def merge_newest(base: DataFrame, diff: DataFrame, version_col: str = "version") -> DataFrame:
    """J6 newest-wins merge: base rows carry implicit version 0, diff rows
    their ``version_col``; highest version per id wins, ``changetype =
    'delete'`` drops the row (T5). Shared by the incremental ``apply_diff``
    (touched tiles only) and the full ``rebase`` (whole table)."""
    base_v = base.withColumn("_v", F.lit(0)).withColumn("_ct", F.lit("base"))
    diff_v = (
        diff.withColumn("_v", F.col(version_col).cast("long"))
        .withColumn("_ct", F.col("changetype"))
        .drop(version_col, "changetype")
    )
    merged = base_v.unionByName(diff_v, allowMissingColumns=True)
    w = Window.partitionBy("id").orderBy(F.col("_v").desc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("_ct") != "delete")
        .drop("_rn", "_v", "_ct")
    )


def committed(path: str) -> bool:
    """A parquet phase output is a checkpoint iff Spark committed it
    (_SUCCESS marker — partial output from a killed run has none). Local-fs
    check here; on HDFS/S3 the same marker is probed through the Hadoop FS
    API."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class TiledStore:
    """A store root on disk: staged elements, tiles, the lineage audit and
    the state ledger. Their directory names are spelled here only."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.elements_path = os.path.join(root, "elements")
        self.data_path = os.path.join(root, "tiles")
        self.lineage_path = os.path.join(root, "lineage")
        self.ledger_path = os.path.join(root, "ledger")
        self._last_state: int | None = None  # read once by resume_state

    # ------------------------------------------------------------- bootstrap
    def write_initial(self, assigned: DataFrame) -> None:
        from ..tiling import write_tiled

        write_tiled(assigned, self.data_path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    def groups(self):
        """The (tile_idx, tile_qt, cnt) groups ``tile`` found, read on the
        driver from the lineage table (exact int64 tile_qt; cnt is
        expected_rows). The audit's anomaly rows (null tile_qt) are no group."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.lineage_path, columns=["tile_idx", "tile_qt", "expected_rows"])
        t = t.filter(t["tile_qt"].is_valid()).rename_columns(["tile_idx", "tile_qt", "cnt"])
        return t.to_pandas().sort_values("tile_idx", ignore_index=True)

    # ---------------------------------------------------------- bulk tiling
    def tile(self, stages: dict, target: int, minimum: int,
             partition_by_tile: bool = True, resume: bool = False) -> dict:
        """The bulk tiling tail of prepare and ``rebase``, the phases the
        reference runs in both (``osmquadtree-prepare.go:179-209``,
        ``osmquadtree-rebase.go:597-627``), over the staged elements. Each
        phase's ``hostmetrics.stage`` record is added to ``stages``:

          count_tree          distributed per-cell agg, capped driver
                              collect; its row hint is the elements' footer
                              row count (one Spark count off a local fs)
          find_groups         serial group walk over the collected tree
          assign_write_tiled  counts-backed ONE-broadcast-join assignment →
                              ``tiling.write_tiled``. With ``resume``, skipped
                              when tiles/ committed (_SUCCESS)
          lineage             per-tile audit table (tile_idx, tile_qt, rows,
                              expected_rows): actual written row counts vs
                              the group walk's expected counts — the north
                              rule's per-partition lineage + row-count
                              metrics. The counts are ``footers.tile_rows``
                              (a footer walk of the hive layout, one Spark
                              count of the flat one); the table is merged in
                              pandas and written on the driver with pyarrow

        Returns the artifacts: elements/tiled/lineage paths, the
        counts/groups frames, n_elements and ``resumed_phases``."""
        import shutil

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .. import tiling
        from ..footers import parquet_rows, tile_rows
        from ..hostmetrics import stage
        from ..tuning import scan_splits_for

        resumed: list[str] = []
        elements = self.spark.read.parquet(self.elements_path)
        n_elements = parquet_rows(self.elements_path)
        if n_elements is None:  # non-local fs fallback: one Spark count job
            n_elements = elements.count()
        with stage(stages, "count_tree"):
            counts = tiling.count_tree(elements, n_rows_hint=n_elements)
        stages.update({f"count_tree_{k}": v for k, v in counts.attrs.items()})
        with stage(stages, "find_groups"):
            groups = tiling.find_groups(
                counts["cell"].to_numpy(np.int64),
                counts["cnt"].to_numpy(np.int64),
                target,
                minimum,
            )
        if resume and committed(self.data_path):
            stages["assign_write_tiled"] = 0.0
            resumed.append("assign_write_tiled")
        else:
            assigned = tiling.assign_tiles(elements, groups, counts=counts)
            # the map side reads the staged elements
            with stage(stages, "assign_write_tiled"), scan_splits_for(elements):
                tiling.write_tiled(assigned, self.data_path, partition_by_tile=partition_by_tile)

        with stage(stages, "lineage"):
            actual = tile_rows(self.spark, self.data_path)
            exp = groups.rename(columns={"cnt": "expected_rows"})[
                ["tile_idx", "tile_qt", "expected_rows"]
            ]
            adf = pd.DataFrame(
                {"tile_idx": list(actual.keys()), "rows": list(actual.values())},
                dtype="int64",
            )
            # nullable Int64 BEFORE the merge: an outer merge that adds a
            # written-but-ungrouped tile (the anomaly the audit exists to
            # expose) would otherwise coerce tile_qt to float64 and destroy
            # the low bits of every key >= 2^53 — quadtree keys pack the
            # path in the high bits, so that is all of them
            exp = exp.astype({"tile_qt": "Int64"})
            lin = exp.merge(adf, on="tile_idx", how="outer")
            lin["rows"] = lin["rows"].fillna(0).astype("int64")
            lin["expected_rows"] = lin["expected_rows"].fillna(0).astype("int64")
            lin["tile_idx"] = lin["tile_idx"].astype("int64")
            # true overwrite: a prior run's part files (or an uncommitted
            # kill's) must not be unioned into the audit table
            if os.path.isdir(self.lineage_path):
                shutil.rmtree(self.lineage_path)
            os.makedirs(self.lineage_path)
            pq.write_table(
                pa.Table.from_pandas(lin, preserve_index=False),
                os.path.join(self.lineage_path, "part-00000.parquet"),
            )
            open(os.path.join(self.lineage_path, "_SUCCESS"), "w").close()

        return {
            "elements_path": self.elements_path,
            "tiled_path": self.data_path,
            "lineage_path": self.lineage_path,
            "counts": counts,
            "groups": groups,
            "n_elements": n_elements,
            "resumed_phases": resumed,
        }

    # --------------------------------------------------------------- ledger
    def _ledger_files(self) -> list[str]:
        # glob skips the hidden temp files of an interrupted append
        return glob.glob(os.path.join(self.ledger_path, "*.parquet"))

    def ledger(self) -> DataFrame:
        """The ledger as a Spark frame. Empty only while the ledger has no
        published file (the files ``resume_state`` reads); a file that
        cannot be read raises, as it does in ``resume_state``."""
        if not self._ledger_files():
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        return self.spark.read.parquet(self.ledger_path)

    def resume_state(self) -> int:
        """Last fully-applied state (S7 re-fetch avoidance); 0 if none. The
        ledger's ``state`` column is read on the driver once per instance;
        after that this store's own appends keep the value current."""
        if self._last_state is None:
            import pyarrow.parquet as pq

            states = [
                s
                for f in self._ledger_files()
                for s in pq.read_table(f, columns=["state"])["state"].to_pylist()
            ]
            self._last_state = max(states, default=0)
        return self._last_state

    # ----------------------------------------------------------- apply diff
    def apply_diff(self, diff: DataFrame, state: int, version_col: str = "version") -> list[int]:
        """J6/T3: newest-wins merge of a change set, rewriting only touched
        tile partitions. ``diff`` needs (id, changetype, version, <element
        cols>, tile_idx precomputed by the caller via the assigner); the
        assigner's ``tile_qt`` may ride along, ``write_tiled`` drops it.
        Returns the touched tile list. Idempotent per state (skips if the
        ledger already has it). Steps 1-4 of the module docstring; the merged
        result is never persisted or collected."""
        if self.resume_state() >= state:
            return []
        from ..footers import tile_files, tile_rows
        from ..tiling import write_tiled

        # the diff lineage (a parquet read plus the assigner's broadcast
        # join, or even a lazy read of this store) runs once, here
        diff = diff.localCheckpoint()
        # Touched = tiles the diff assigns rows to, PLUS the tiles the same
        # ids currently live in (the reference resolves old tiles via its
        # locations cache, CalcUpdateTiles): a moved element must vanish from
        # its previous partition and a delete must clear the row where it
        # actually is, not where the assigner would now place it. Parquet
        # column pruning makes the old-tile lookup an (id, tile_idx)-only scan.
        # The broadcast hint keeps the store side unshuffled: a change set is
        # small next to the store, but Spark cannot see that through the
        # checkpoint (its size estimate of the assigner's left joins is the
        # product of their sides).
        store = self.read()
        old_tiles = store.join(F.broadcast(diff.select("id")), "id", "left_semi")
        touched = sorted(
            r["tile_idx"]
            for r in diff.select("tile_idx")
            .unionByName(old_tiles.select("tile_idx"))
            .distinct()
            .collect()
        )
        if not touched:
            self._append_ledger([], state, {}, {})
            return []

        rows_in = tile_rows(self.spark, self.data_path, touched)
        files_in = tile_files(self.data_path, touched)
        base = store.filter(F.col("tile_idx").isin(touched))
        newest = merge_newest(base, diff, version_col)  # T5: deletes drop
        # dynamic partition overwrite: only the touched tiles are rewritten,
        # in the store's one format (write_tiled drops the assigner's
        # tile_qt and casts tile_idx). Spark stages the output and commits
        # it after every task has read its base partitions, so newest may
        # read the partitions it replaces.
        write_tiled(newest, self.data_path, dynamic=True)
        # Dynamic overwrite only replaces partitions PRESENT in the output,
        # each with newly named files: a touched tile whose files did not
        # change got no rows (all deleted or moved away), and its stale
        # partition must be cleared explicitly. (On Iceberg this is a single
        # overwrite-by-partition-filter / MERGE and needs no FS ops.)
        files_out = tile_files(self.data_path, touched)
        self._drop_partitions([t for t, fs in files_in.items() if files_out.get(t) == fs])
        rows_out = tile_rows(self.spark, self.data_path, touched)
        self._append_ledger(touched, state, rows_in, rows_out)
        return touched

    def _drop_partitions(self, tiles: list[int]) -> None:
        """Remove now-empty tile partitions from the hive layout."""
        import shutil

        from ..footers import tile_dir

        for t in tiles:
            p = tile_dir(self.data_path, t)
            if os.path.isdir(p):
                shutil.rmtree(p)

    def _append_ledger(self, touched: list[int], state: int, rows_in: dict, rows_out: dict):
        """One ledger file per state, written on the driver with exactly
        ``LEDGER_SCHEMA`` and published atomically: a ``.``-prefixed temp
        file (which Spark's reader and ``resume_state`` skip) is renamed into
        place, so a killed append leaves no half-written ledger row set."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = int(time.time())
        rows = [
            (state, int(t), int(rows_in.get(t, 0)), int(rows_out.get(t, 0)), now, True)
            for t in touched
        ] or [(state, -1, 0, 0, now, True)]
        arrow_types = {"long": pa.int64(), "boolean": pa.bool_()}
        schema = pa.schema(
            [(n, arrow_types[t]) for n, t in (f.split() for f in LEDGER_SCHEMA.split(","))]
        )
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        os.makedirs(self.ledger_path, exist_ok=True)
        name = f"state-{state}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.ledger_path, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.ledger_path, name))
        self._last_state = max(self.resume_state(), state)

    # -------------------------------------------------- overflow monitoring
    def overflow_pressure(self, overflow_idx: int) -> dict:
        """Incremental-contract escape hatch, promoted to a monitored metric:
        elements arriving via ``apply_diff`` whose qt has no ancestor group
        land in the overflow tile (``make_tile_assigner.overflow_idx`` —
        tiling.py). Its growth is the signal that the fixed grouping has
        drifted from the data and a rebase is due. The per-tile counts are
        ``footers.tile_rows``: a footer walk on a local hive store (no Spark
        job), one count job otherwise."""
        from ..footers import tile_rows

        rows = tile_rows(self.spark, self.data_path)
        total = sum(rows.values())
        ov = rows.get(overflow_idx, 0)
        return {
            "overflow_rows": int(ov),
            "total_rows": int(total),
            "fraction": (ov / total) if total else 0.0,
        }

    def needs_rebase(
        self,
        overflow_idx: int,
        max_fraction: float = 0.02,
        max_rows: int | None = None,
    ) -> bool:
        """True when the overflow tile holds more than ``max_fraction`` of
        the store (or ``max_rows`` absolute). The operational contract:
        ``apply_diff`` keeps landing unmatched elements in the overflow tile
        (every one ledgered like any touched tile); when this trips, run
        ``jobs/rebase_job.py`` — the fresh count tree covers the overflow
        cells, so the re-grouping absorbs the tile (pinned by
        test_overflow_tile_monitored_and_rebase_absorbs)."""
        p = self.overflow_pressure(overflow_idx)
        if max_rows is not None and p["overflow_rows"] > max_rows:
            return True
        return p["fraction"] > max_fraction

    # ------------------------------------------------------------- rebase
    def rebase(
        self,
        diff: DataFrame,
        out_root: str,
        target: int = 8000,
        minimum: int = 4000,
    ) -> tuple[dict, dict]:
        """Full re-tile on merged base+diffs — the ``osmquadtree-rebase.go``
        job shape, vs ``apply_diff`` which keeps the existing grouping and
        rewrites only touched partitions. It is prepare over the merge: the
        ``merge_newest`` result is written once to the new root's elements
        (stage ``merge``), then ``tile`` gives it a FRESH count tree / group
        walk / assignment (groups re-balance after heavy churn) and a
        lineage table. Returns (stages, artifacts) as ``prepare_pipeline``
        does; the stages are the ``osmquadtree-rebase.go:730-734`` metric
        shape."""
        from ..hostmetrics import stage

        stages: dict[str, float] = {}
        out = TiledStore(self.spark, out_root)
        with stage(stages, "merge"):
            merged = merge_newest(self.read().drop("tile_idx"), diff.drop("tile_idx", "tile_qt"))
            merged.write.mode("overwrite").parquet(out.elements_path)
        return stages, out.tile(stages, target, minimum)

    # ---------------------------------------------------------- catch-up T1
    def catch_up(self, diffs_by_state: dict[int, DataFrame]) -> list[int]:
        """Apply every pending state in order (``osmquadtree-update.go:315-370``)."""
        applied = []
        last = self.resume_state()
        for state in sorted(diffs_by_state):
            if state <= last:
                continue
            self.apply_diff(diffs_by_state[state], state)
            applied.append(state)
        return applied


# ------------------------------------------------------------ tile-set read
class ColumnRanges:
    """A request's row predicate over a tile set, as one value: each column
    of ``ranges`` lies in its closed ``(lo, hi)`` range (``None`` is open).
    ``sql()`` renders it for the Spark arm of :class:`TileSet`;
    ``may_match`` tests a row group's footer min/max and ``keep`` masks an
    Arrow table for its driver arm, so the two arms cannot drift. A null
    value matches nothing, as in SQL."""

    def __init__(self, ranges: dict[str, tuple[int | None, int | None]]):
        self.ranges = ranges

    def sql(self) -> str:
        return " AND ".join(
            f"{c} {op} {int(v)}"
            for c, (lo, hi) in self.ranges.items()
            for op, v in (("<=", hi), (">=", lo))
            if v is not None
        )

    def may_match(self, row_group) -> bool:
        for j in range(row_group.num_columns):
            col = row_group.column(j)
            if col.path_in_schema not in self.ranges:
                continue
            lo, hi = self.ranges[col.path_in_schema]
            st = col.statistics if col.is_stats_set else None
            if st is None or not st.has_min_max:
                continue
            if (hi is not None and st.min > hi) or (lo is not None and st.max < lo):
                return False
        return True

    @staticmethod
    def _values(table, col: str):
        """(int64 values, valid mask) of ``col``; nulls read as 0."""
        import pyarrow.compute as pc

        arr = table[col]
        return pc.fill_null(arr, 0).to_numpy(), arr.is_valid().to_numpy(zero_copy_only=False)

    def keep(self, table):
        import numpy as np

        mask = np.ones(table.num_rows, dtype=bool)
        for c, (lo, hi) in self.ranges.items():
            v, valid = self._values(table, c)
            mask &= valid
            if lo is not None:
                mask &= v >= lo
            if hi is not None:
                mask &= v <= hi
        return mask


class BBoxOverlap(ColumnRanges):
    """Elements whose bbox meets ``(minx, miny, maxx, maxy)``."""

    def __init__(self, minx: int, miny: int, maxx: int, maxy: int):
        super().__init__({
            "minx": (None, int(maxx)), "maxx": (int(minx), None),
            "miny": (None, int(maxy)), "maxy": (int(miny), None),
        })


class InCell(ColumnRanges):
    """Elements whose qt is the quadtree cell ``key`` (zoom ``tz``) or a
    descendant of it. The descendants' keys are one contiguous range, which
    prunes footers; the exact test is the rounded-key equality."""

    def __init__(self, key: int, tz: int):
        lo = int(key) & ~31
        super().__init__({"qt": (lo, lo | ((1 << (63 - 2 * int(tz))) - 1))})
        self.key, self.tz = int(key), int(tz)

    def sql(self) -> str:
        from ..tiling import qt_round_sql

        return f"(qt & 31) >= {self.tz} AND {qt_round_sql('qt', self.tz)} = {self.key}"

    def keep(self, table):
        from ..quadtree import depth_of, round_to

        qt, valid = self._values(table, "qt")
        return valid & (depth_of(qt) >= self.tz) & (round_to(qt, self.tz) == self.key)


class TileSet:
    """The one reader of a tile set of a tiled store: the ``tile_idx=N``
    directories of ``data_path`` (a ``TiledStore``'s, or any directory
    ``tiling.write_tiled`` wrote), restricted to a request's predicate.

    Two arms. ``frame`` is the Spark arm: a pinned-schema read of just the
    listed tiles' directories, a lazy DataFrame for callers that go on in
    Spark. ``rows`` answers a bounded request on the driver: it reads the
    tiles' files with pyarrow, skips row groups whose footer min/max miss
    the predicate, masks the rest and stops once ``limit`` rows are in, with
    no Spark job. When pyarrow fails (``footers._guarded_walk``: logged,
    never silent), it runs the Spark arm instead and keeps the reason in
    ``last_fallback``. Both arms list the tile directories on the local
    filesystem, and both give rows in ``(tile_idx, id)`` order, the order
    ``write_tiled`` stores them, as dicts in the pinned schema's column
    order with map columns as dicts: the same rows whichever arm served
    them. ``reads`` counts the reads each arm served."""

    def __init__(self, spark: SparkSession, data_path: str):
        self.spark = spark
        self.data_path = data_path
        self.schema = spark.read.parquet(data_path).schema
        self.reads = {"driver": 0, "spark": 0}
        self.last_fallback: str | None = None

    def frame(self, tiles, where: str | None = None) -> DataFrame:
        """The tile set ``tiles`` filtered by the SQL predicate ``where``.
        The directories are listed per call, so files ``apply_diff``
        rewrote since this reader was built are seen; a tile without a
        directory (emptied by a diff) is skipped, and no directory at all
        gives an empty frame. The predicate is one SQL string in one filter:
        built from Column objects it costs a py4j round trip per literal
        (~20 ms on a 4-vCPU Xeon for a 9-tile ``isin`` and a bbox). Past
        ``parallelPartitionDiscovery.threshold`` paths (32 by default) Spark
        would list them in a job, so the threshold is scoped to their
        count."""
        from ..footers import tile_dir
        from ..tuning import scoped_conf

        self.reads["spark"] += 1
        tiles = [int(t) for t in tiles]
        dirs = [d for t in sorted(set(tiles)) if os.path.isdir(d := tile_dir(self.data_path, t))]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        cond = f"tile_idx IN ({', '.join(map(str, tiles))})"  # → PartitionFilters
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        with scoped_conf(self.spark, key, str(len(dirs))):
            df = self.spark.read.schema(self.schema).option("basePath", self.data_path)
            df = df.parquet(*dirs)
        return df.filter(cond if where is None else f"{cond} AND {where}")

    def rows(self, tiles, pred: ColumnRanges, limit: int) -> list[dict]:
        """At most ``limit`` rows of ``tiles`` that match ``pred``, in
        ``(tile_idx, id)`` order: the driver arm, or the Spark arm with the
        reason recorded."""
        from ..footers import _guarded_walk
        from ..tuning import collect_limited

        failed: list[str] = []
        got = _guarded_walk(
            self.data_path, lambda pq: self._driver_rows(pq, tiles, pred, limit),
            fallback="the Spark read", on_fail=failed.append,
        )
        if got is not None:
            self.reads["driver"] += 1
            return got
        self.last_fallback = failed[0]
        df = self.frame(tiles, pred.sql()).orderBy("tile_idx", "id")
        return [r.asDict() for r in collect_limited(df, limit)]

    def _driver_rows(self, pq, tiles, pred: ColumnRanges, limit: int) -> list[dict]:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.types import MapType

        from ..footers import tile_files

        cols = [f.name for f in self.schema.fields if f.name != "tile_idx"]
        maps = [f.name for f in self.schema.fields if isinstance(f.dataType, MapType)]
        out: list[dict] = []
        for tile, files in tile_files(self.data_path, sorted(set(tiles))).items():
            parts = []
            for path in files:
                pf = pq.ParquetFile(path)
                md = pf.metadata
                groups = [i for i in range(md.num_row_groups) if pred.may_match(md.row_group(i))]
                if groups:
                    t = pf.read_row_groups(groups, columns=cols).select(cols)
                    parts.append(t.filter(pred.keep(t)))
            if not parts:
                continue
            t = pa.concat_tables(parts)
            order = pc.sort_indices(t, sort_keys=[("id", "ascending")], null_placement="at_start")
            for r in t.take(order).slice(0, limit - len(out)).to_pylist():
                for c in maps:
                    if r[c] is not None:
                        r[c] = dict(r[c])
                r["tile_idx"] = tile
                out.append(r)
            if len(out) >= limit:
                break
        return out
