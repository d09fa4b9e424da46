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
     the touched tiles — one write job, no persist. The overwrite commits
     after every task has read its base partitions; a touched tile whose
     ``*.parquet`` files are the same after the write got no output rows and
     is dropped,
  3. reads the per-tile row counts before and after from parquet footers,
  4. writes a lineage row per touched partition on the driver with pyarrow:
     (state, tile_idx, rows_in, rows_out, ts) — the resumable-checkpoint
     contract of the north rule. The file appears atomically (hidden temp
     file + ``os.replace``).

``resume_state`` reads the ledger's ``state`` column on the driver once per
store instance, so a killed run restarts idempotently (T1's re-fetch
avoidance). One writer per store, as the dynamic overwrite already requires.
"""

from __future__ import annotations

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
    (touched tiles only) and the full ``rebase_store`` (whole table)."""
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


class TiledStore:
    """A tiled element table + its state/lineage ledger on disk."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data_path = os.path.join(root, "tiles")
        self.ledger_path = os.path.join(root, "ledger")
        self._last_state: int | None = None  # read once by resume_state

    # ------------------------------------------------------------- bootstrap
    def write_initial(self, assigned: DataFrame) -> None:
        from ..tiling import write_tiled

        write_tiled(assigned, self.data_path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    # --------------------------------------------------------------- ledger
    def ledger(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self.ledger_path)
        except Exception:  # noqa: BLE001 — first run: empty ledger
            return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def resume_state(self) -> int:
        """Last fully-applied state (S7 re-fetch avoidance); 0 if none. The
        ledger's ``state`` column is read on the driver once per instance;
        after that this store's own appends keep the value current."""
        if self._last_state is None:
            import glob

            import pyarrow.parquet as pq

            # glob skips the hidden temp files of an interrupted append
            states = [
                s
                for f in glob.glob(os.path.join(self.ledger_path, "*.parquet"))
                for s in pq.read_table(f, columns=["state"])["state"].to_pylist()
            ]
            self._last_state = max(states, default=0)
        return self._last_state

    # ----------------------------------------------------------- apply diff
    def apply_diff(self, diff: DataFrame, state: int, version_col: str = "version") -> list[int]:
        """J6/T3: newest-wins merge of a change set, rewriting only touched
        tile partitions. ``diff`` needs (id, changetype, version, <element
        cols>, tile_idx precomputed by the caller via the assigner).
        Returns the touched tile list. Idempotent per state (skips if the
        ledger already has it). Steps 1-4 of the module docstring; the merged
        result is never persisted or collected."""
        if self.resume_state() >= state:
            return []
        from ..footers import tile_files
        from ..tuning import shuffle_partitions_for

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

        rows_in = self._touched_counts(touched)
        files_in = tile_files(self.data_path, touched)
        base = store.filter(F.col("tile_idx").isin(touched))
        newest = merge_newest(base, diff, version_col)  # T5: deletes drop
        # dynamic partition overwrite: only the touched tiles are rewritten.
        # Spark stages the output and commits it after every task has read
        # its base partitions, so newest may read the partitions it replaces.
        # Scoped to THIS write via the DataFrameWriter option — a
        # session-level conf.set here would leak "dynamic" into every later
        # partitioned overwrite (no top-level _SUCCESS, stale partitions
        # surviving a same-session re-tile).
        (
            newest.repartition(shuffle_partitions_for(newest), F.col("tile_idx"))
            .sortWithinPartitions("tile_idx", "id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("tile_idx")
            .parquet(self.data_path)
        )
        # Dynamic overwrite only replaces partitions PRESENT in the output,
        # each with newly named files: a touched tile whose files did not
        # change got no rows (all deleted or moved away), and its stale
        # partition must be cleared explicitly. (On Iceberg this is a single
        # overwrite-by-partition-filter / MERGE and needs no FS ops.)
        files_out = tile_files(self.data_path, touched)
        self._drop_partitions([t for t, fs in files_in.items() if files_out.get(t) == fs])
        rows_out = self._touched_counts(touched)
        self._append_ledger(touched, state, rows_in, rows_out)
        return touched

    def _touched_counts(self, touched: list[int]) -> dict[int, int]:
        """Per-tile row counts for the touched partitions. Footer-walk fast
        path (r05 verdict #5: the ledger's rows_in/rows_out were two full
        distributed count scans per diff batch — the parquet-footer metadata
        read built for the prepare lineage audit serves here too, zero Spark
        jobs); distributed count fallback when the store is not a local
        hive-partitioned layout."""
        from ..footers import tile_rows_from_footers

        got = tile_rows_from_footers(self.data_path, tiles=touched)
        if got is not None:
            return got
        return {
            r["tile_idx"]: r["n"]
            for r in self.read()
            .filter(F.col("tile_idx").isin(touched))
            .groupBy("tile_idx")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    def _drop_partitions(self, tiles: list[int]) -> None:
        """Remove now-empty tile partitions from the hive layout."""
        import shutil

        for t in tiles:
            p = os.path.join(self.data_path, f"tile_idx={t}")
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
        drifted from the data and a rebase is due. One zero-column scan
        (tile_idx is the partition column)."""
        rows = {
            r["tile_idx"]: r["n"]
            for r in self.read()
            .groupBy("tile_idx")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
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
        version_col: str = "version",
    ):
        """Full re-tile on merged base+diffs — the ``osmquadtree-rebase.go``
        job shape, vs ``apply_diff`` which keeps the existing grouping and
        rewrites only touched partitions. The merged element set gets a
        FRESH count tree / group walk / assignment (groups re-balance after
        heavy churn), written as a new tiled store at ``out_root``.

        Returns (new_store, counts_pdf, groups_pdf); per-phase wall times
        (the ``osmquadtree-rebase.go:730-734`` metric shape) are stashed on
        the returned store as ``new_store.rebase_phases``: each phase
        (merge_count, count_tree, find_groups, assign_write) is one
        ``hostmetrics.stage`` record, as in ``prepare_pipeline``, plus
        count_tree's ``count_tree_*`` sub-timings."""
        import numpy as np

        from ..hostmetrics import stage
        from ..tiling import assign_tiles, count_tree, find_groups

        phases: dict[str, float] = {}
        merged = merge_newest(
            self.read().drop("tile_idx", "tile_qt"), diff, version_col
        )
        with stage(phases, "merge_count"):
            n = merged.count()
        with stage(phases, "count_tree"):
            counts = count_tree(merged, n_rows_hint=n)
        phases.update({f"count_tree_{k}": v for k, v in counts.attrs.items()})
        with stage(phases, "find_groups"):
            groups = find_groups(
                counts["cell"].to_numpy(np.int64),
                counts["cnt"].to_numpy(np.int64),
                target,
                minimum,
            )
        assigned = assign_tiles(merged, groups, counts=counts)
        out = TiledStore(self.spark, out_root)
        with stage(phases, "assign_write"):
            out.write_initial(assigned)
        out.rebase_phases = phases
        return out, counts, groups

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
