"""Incremental update: newest-wins merge, touched-tile rewrite, ledger resume
(FIXTURES.md F5, SURVEY.md §2.10)."""

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_bin_spark.spans import explode_geoms
from osmquadtree_bin_spark.streaming.update import TiledStore, round_to_day
from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups


@pytest.fixture()
def store(spark, docs, tmp_path):
    elements = explode_geoms(docs)
    counts = count_tree(elements)
    groups = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 200, 100
    )
    assigned = assign_tiles(elements, groups).select(
        "id", "doc_id", "span_idx", "wkt", "qt", "tile_idx"
    )
    st = TiledStore(spark, str(tmp_path / "store"))
    st.write_initial(assigned)
    return st, assigned, groups


def _mk_diff(spark, assigned, changetype, version, n=5):
    rows = assigned.limit(n).withColumn("changetype", F.lit(changetype)).withColumn(
        "version", F.lit(version)
    )
    if changetype == "modify":
        rows = rows.withColumn("wkt", F.concat(F.lit("MOD:"), F.col("wkt")))
    return rows


def test_modify_newest_wins(spark, store):
    st, assigned, _ = store
    n0 = st.read().count()
    diff = _mk_diff(spark, assigned, "modify", version=1, n=5)
    touched = st.apply_diff(diff, state=1)
    assert touched
    assert st.read().count() == n0  # modify keeps cardinality
    modded = st.read().filter(F.col("wkt").startswith("MOD:")).count()
    assert modded == 5


def test_delete_removes_rows_and_untouched_tiles_intact(spark, store):
    st, assigned, _ = store
    n0 = st.read().count()
    per_tile_before = {
        r["tile_idx"]: r["n"]
        for r in st.read().groupBy("tile_idx").agg(F.count("*").alias("n")).collect()
    }
    diff = _mk_diff(spark, assigned, "delete", version=1, n=3)
    touched = st.apply_diff(diff, state=1)
    assert st.read().count() == n0 - 3
    after = {
        r["tile_idx"]: r["n"]
        for r in st.read().groupBy("tile_idx").agg(F.count("*").alias("n")).collect()
    }
    for t, n in per_tile_before.items():
        if t not in touched:
            assert after[t] == n  # untouched tiles byte-identical pass-through


def test_ledger_resume_idempotent(spark, store):
    st, assigned, _ = store
    diff = _mk_diff(spark, assigned, "modify", version=1, n=4)
    st.apply_diff(diff, state=1)
    assert st.resume_state() == 1
    # re-applying the same state is a no-op
    again = st.apply_diff(diff, state=1)
    assert again == []
    # ledger carries per-partition lineage with row counts
    led = st.ledger().filter(F.col("state") == 1)
    rows = led.collect()
    assert all(r["rows_in"] >= 0 and r["rows_out"] >= 0 for r in rows)
    assert {r["tile_idx"] for r in rows} != set()


def test_catch_up_applies_in_order(spark, store):
    st, assigned, _ = store
    d1 = _mk_diff(spark, assigned, "modify", version=1, n=2)
    d2 = _mk_diff(spark, assigned, "delete", version=2, n=2)
    applied = st.catch_up({1: d1, 2: d2})
    assert applied == [1, 2]
    assert st.resume_state() == 2
    # the deleted ids (same 2 rows modified then deleted) are gone
    assert st.read().filter(F.col("wkt").startswith("MOD:")).count() == 0


def test_cold_restart_resume(spark, store, tmp_path):
    """§5.6 resumability: a NEW TiledStore instance (simulating a restarted
    process) picks up from the ledger and skips already-applied states."""
    st, assigned, _ = store
    d1 = _mk_diff(spark, assigned, "modify", version=1, n=3)
    st.apply_diff(d1, state=1)
    n_after_1 = st.read().count()

    st2 = TiledStore(spark, st.root)  # fresh instance, same storage
    assert st2.resume_state() == 1
    d2 = _mk_diff(spark, assigned, "delete", version=2, n=1)
    applied = st2.catch_up({1: d1, 2: d2})
    assert applied == [2]  # state 1 skipped, state 2 applied
    assert st2.read().count() == n_after_1 - 1


def test_round_to_day(spark):
    df = spark.createDataFrame(
        [("2024-03-05 01:30:00",), ("2024-03-05 13:00:00",), ("2024-03-05 00:00:00",)],
        "ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [str(r["r"]) for r in df.select(round_to_day(F.col("ts")).alias("r")).collect()]
    # matches the reference BINARY (osmquadtree-update.go:354-360): the <7200s
    # grace branch there is dead code — every off-boundary ts rounds UP
    assert got == ["2024-03-06 00:00:00", "2024-03-06 00:00:00", "2024-03-05 00:00:00"]


def test_moved_element_leaves_old_tile(spark, store):
    """An element whose tile assignment changed must vanish from its previous
    partition (reference: CalcUpdateTiles resolves old tiles via locations)."""
    st, assigned, _ = store
    row = assigned.orderBy("id").limit(1).collect()[0]
    all_tiles = sorted(r["tile_idx"] for r in assigned.select("tile_idx").distinct().collect())
    new_tile = next(t for t in all_tiles if t != row["tile_idx"])
    diff = (
        assigned.orderBy("id").limit(1)
        .withColumn("tile_idx", F.lit(new_tile))
        .withColumn("changetype", F.lit("modify"))
        .withColumn("version", F.lit(1))
    )
    touched = st.apply_diff(diff, state=1)
    assert row["tile_idx"] in touched and new_tile in touched
    got = st.read().filter(F.col("id") == row["id"]).collect()
    assert len(got) == 1  # no stale duplicate in the old partition
    assert got[0]["tile_idx"] == new_tile


def test_emptied_tile_partition_is_cleared(spark, store):
    """Deleting every row of a tile must remove its partition from disk, not
    leave a stale one that dynamic overwrite never rewrites."""
    st, assigned, _ = store
    counts = st.read().groupBy("tile_idx").agg(F.count("*").alias("n")).collect()
    victim = min(counts, key=lambda r: r["n"])["tile_idx"]
    diff = (
        assigned.filter(F.col("tile_idx") == victim)
        .withColumn("changetype", F.lit("delete"))
        .withColumn("version", F.lit(1))
    )
    st.apply_diff(diff, state=1)
    assert st.read().filter(F.col("tile_idx") == victim).count() == 0
    import os
    assert not os.path.isdir(os.path.join(st.data_path, f"tile_idx={victim}"))


def test_overflow_tile_monitored_and_rebase_absorbs(spark, tmp_path):
    """The incremental contract's escape hatch, end to end: new elements
    whose qt has no ancestor group land in the overflow tile; the ledger
    carries its counts like any touched tile; overflow_pressure/needs_rebase
    monitor its growth; and a rebase (fresh count tree covers the overflow
    cells) re-absorbs it — the new grouping leaves the overflow tile empty."""
    import pandas as pd

    from osmquadtree_bin_spark.tiling import assign_tiles, make_tile_assigner

    k = lambda c: (c << 61) | 1  # depth-1 quadrant key (path<<61 | depth)
    # groups cover quadrants A and B only — NO root group, so quadrant C
    # has no ancestor group (the shape left behind after heavy churn)
    groups = pd.DataFrame(
        {"tile_idx": [0, 1], "tile_qt": [k(0), k(1)], "cnt": [40, 40]}
    )
    base = spark.createDataFrame(
        [(i, k(i % 2)) for i in range(80)], "id long, qt long"
    )
    st = TiledStore(spark, str(tmp_path / "ovf"))
    st.write_initial(assign_tiles(base, groups))

    asg = make_tile_assigner(groups)
    ovf = asg.overflow_idx
    assert ovf == 2
    c_tile = int(asg(np.array([k(2)]))[0])
    assert c_tile == ovf  # quadrant C resolves to the overflow tile
    diff = spark.createDataFrame(
        [(1000 + i, k(2), "create", 1, ovf) for i in range(3)],
        "id long, qt long, changetype string, version long, tile_idx long",
    )
    touched = st.apply_diff(diff, state=1)
    assert ovf in touched
    led = {r["tile_idx"]: r for r in st.ledger().filter(F.col("state") == 1).collect()}
    assert led[ovf]["rows_out"] == 3  # overflow tile ledgered like any tile

    p = st.overflow_pressure(ovf)
    assert p["overflow_rows"] == 3 and p["total_rows"] == 83
    assert not st.needs_rebase(ovf, max_fraction=0.5)
    assert st.needs_rebase(ovf, max_fraction=0.01)  # 3/83 > 1%
    assert st.needs_rebase(ovf, max_fraction=0.5, max_rows=2)

    # rebase re-absorbs: the fresh count tree sees quadrant C, the group
    # walk emits a root remainder group, and nothing overflows anymore
    empty = spark.createDataFrame([], "id long, qt long, changetype string, version long")
    out, _counts2, groups2 = st.rebase(empty, str(tmp_path / "ovf_rebased"), 40, 20)
    asg2 = make_tile_assigner(groups2)
    new_tiles = {r["tile_idx"] for r in out.read().select("tile_idx").distinct().collect()}
    assert asg2.overflow_idx not in new_tiles
    assert out.read().count() == 83


def test_replication_url_and_state_parse():
    """S6 offline half: URL sharding + state.txt parse (no network needed)."""
    from osmquadtree_bin_spark.streaming.replication import (
        make_diff_url, make_state_fn, parse_state_txt, plan_catch_up,
    )

    assert make_diff_url("https://r/hour", 4270123) == "https://r/hour/004/270/123"
    assert make_diff_url("p", 7) == "p/000/000/007"
    assert make_state_fn("d/", 42) == "d/042.osc.gz"
    assert make_state_fn("d/", 4270123) == "d/4270123.osc.gz"

    body = "#Sat Aug 16 00:00:00 UTC 2026\nsequenceNumber=4270123\ntimestamp=2026-08-16T00\\:00\\:00Z\n"
    sn, ts = parse_state_txt(body)
    assert sn == 4270123
    import datetime
    assert datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).isoformat() == "2026-08-16T00:00:00+00:00"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_state_txt("no=data\n")

    plan = plan_catch_up("p", 10, 13)
    assert [s for s, _ in plan] == [11, 12, 13]
    assert plan[0][1] == "p/000/000/011"


def test_rebase_reproduces_fresh_tiling_on_merged_input(spark, store, tmp_path):
    """Rebase (merged base+diffs -> re-tile from scratch,
    osmquadtree-rebase.go shape) must equal running the prepare pipeline
    directly on the merged element set: same groups, same per-tile contents."""
    st, assigned, _ = store
    # churn: 5 modified (version wins), 3 deleted, 4 moved to a new location
    mod = _mk_diff(spark, assigned, "modify", version=1, n=5)
    dele = (
        assigned.orderBy(F.col("id").desc()).limit(3)
        .withColumn("changetype", F.lit("delete")).withColumn("version", F.lit(1))
    )
    moved = (
        assigned.orderBy("id").limit(9).orderBy(F.col("id").desc()).limit(4)
        .withColumn("qt", F.lit(0).cast("long"))  # forced to root cell
        .withColumn("changetype", F.lit("modify")).withColumn("version", F.lit(2))
    )
    diff = mod.unionByName(dele).unionByName(moved)

    out, counts, groups = st.rebase(diff, str(tmp_path / "rebased"), 200, 100)

    # independent expectation: merge in-memory, re-run the tiling phases
    from osmquadtree_bin_spark.streaming.update import merge_newest
    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups

    merged = merge_newest(st.read().drop("tile_idx"), diff)
    c2 = count_tree(merged)
    g2 = find_groups(
        c2["cell"].to_numpy(np.int64), c2["cnt"].to_numpy(np.int64), 200, 100
    )
    assert groups.equals(g2)
    want = assign_tiles(merged, g2)
    got_rows = {(r["id"], r["tile_idx"]) for r in out.read().collect()}
    want_rows = {(r["id"], r["tile_idx"]) for r in want.collect()}
    assert got_rows == want_rows
    # the moved elements live in the root-ancestor group now, and deletes are gone
    assert out.read().count() == assigned.count() - 3
    # per-phase stage records (the osmquadtree-rebase.go:730-734 walls, in
    # prepare's per-stage schema) plus count_tree's sub-timings
    walls = {"merge_count", "count_tree", "find_groups", "assign_write"}
    want = set(walls) | {"count_tree_cells_out"}
    if sys.platform == "linux":
        want |= {
            f"{w}{suffix}" for w in walls
            for suffix in ("_pg_cpu_s", "_steal_cores", "_busy_cores")
        }
    assert want <= set(out.rebase_phases)
    assert all(v >= 0 for v in out.rebase_phases.values())


def test_ledger_counts_via_footers(spark, store, monkeypatch):
    """r06: apply_diff's ledger rows_in/rows_out come from the parquet-footer
    metadata walk (zero Spark count jobs per diff), and they must equal the
    distributed per-tile counts exactly. The footer path must actually be
    taken — the spy asserts it — and its numbers must match what a
    distributed count of the touched tiles reports."""
    from osmquadtree_bin_spark import footers

    st, assigned, _ = store
    before = {
        r["tile_idx"]: r["n"]
        for r in st.read().groupBy("tile_idx").agg(F.count("*").alias("n")).collect()
    }
    calls = []
    real = footers.tile_rows_from_footers

    def spy(path, max_files=50_000, tiles=None):
        got = real(path, max_files, tiles)
        calls.append((tiles, got))
        return got

    monkeypatch.setattr(footers, "tile_rows_from_footers", spy)
    diff = _mk_diff(spark, assigned, "delete", version=1, n=3)
    touched = st.apply_diff(diff, state=1)
    assert touched and len(calls) == 2  # rows_in + rows_out, both via footers
    rows_in = calls[0][1]
    rows_out = calls[1][1]
    assert rows_in == {t: before[t] for t in touched}
    after = {
        r["tile_idx"]: r["n"]
        for r in st.read().groupBy("tile_idx").agg(F.count("*").alias("n")).collect()
    }
    assert rows_out == {t: after.get(t, 0) for t in touched if t in after} | {
        t: 0 for t in touched if t not in after
    }
    led = st.ledger().filter(F.col("state") == 1).collect()
    assert {r["tile_idx"]: (r["rows_in"], r["rows_out"]) for r in led} == {
        t: (rows_in.get(t, 0), rows_out.get(t, 0)) for t in touched
    }


def _clustered_diff(spark, st, groups, tmp_path, state):
    """A clustered diff like the update benchmark's: rows of one tile, read
    back from parquet and assigned by the general (no ``counts``) arm."""
    t = st.read().groupBy("tile_idx").count().orderBy(F.desc("count")).first()["tile_idx"]
    src = str(tmp_path / f"diff-{state}")
    (
        st.read().filter(F.col("tile_idx") == t).orderBy("id").limit(6)
        .drop("tile_idx")
        .withColumn("wkt", F.concat(F.lit(f"S{state}:"), F.col("wkt")))
        .withColumn("changetype", F.lit("modify"))
        .withColumn("version", F.lit(state))
        .write.parquet(src)
    )
    return assign_tiles(spark.read.parquet(src), groups)


def test_clustered_apply_diff_spark_jobs(spark, store, tmp_path):
    """One diff batch runs few Spark jobs: the diff lineage is evaluated once,
    the merge goes straight into one write, and the ledger is written on the
    driver. The same batch ran 28 jobs when the diff lineage ran three times,
    the merge was persisted and collected before the write, and the ledger
    was read and appended through Spark; it runs 9 now."""
    st, _, groups = store
    st.apply_diff(_clustered_diff(spark, st, groups, tmp_path, 1), state=1)
    diff = _clustered_diff(spark, st, groups, tmp_path, 2)
    sc = spark.sparkContext
    sc.setJobGroup("apply-diff-jobs", "apply_diff job count")
    try:
        st.apply_diff(diff, state=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("apply-diff-jobs")
    assert 0 < len(jobs) <= 9, len(jobs)
    assert st.read().filter(F.col("wkt").startswith("S2:")).count() == 6


def test_driver_ledger_reads_back_with_ledger_schema(spark, store):
    from osmquadtree_bin_spark.streaming.update import LEDGER_SCHEMA

    st, assigned, _ = store
    st.apply_diff(_mk_diff(spark, assigned, "modify", version=1, n=3), state=1)
    got = spark.read.parquet(st.ledger_path)
    assert got.schema == spark.createDataFrame([], LEDGER_SCHEMA).schema
    assert {r["state"] for r in got.collect()} == {1}


def test_hidden_ledger_temp_file_ignored(spark, store):
    """A temp file left by a killed append is invisible to the ledger and to
    resume_state (hidden name, never renamed into place)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    st, assigned, _ = store
    st.apply_diff(_mk_diff(spark, assigned, "modify", version=1, n=2), state=1)
    leftover = pa.table({"state": pa.array([99], pa.int64())})
    pq.write_table(leftover, os.path.join(st.ledger_path, ".state-99-dead.parquet"))
    fresh = TiledStore(spark, st.root)
    assert fresh.resume_state() == 1
    assert {r["state"] for r in fresh.ledger().collect()} == {1}


def test_resume_over_mixed_spark_and_driver_ledger(spark, store):
    """A ledger holding Spark-written files (as older stores have) next to
    driver-written ones resumes at the max state, whichever writer wrote it."""
    import time

    from osmquadtree_bin_spark.streaming.update import LEDGER_SCHEMA

    st, assigned, _ = store

    def spark_append(state):
        spark.createDataFrame(
            [(state, -1, 0, 0, int(time.time()), True)], LEDGER_SCHEMA
        ).write.mode("append").parquet(st.ledger_path)

    spark_append(4)
    assert st.apply_diff(_mk_diff(spark, assigned, "modify", version=1, n=2), state=3) == []
    st.apply_diff(_mk_diff(spark, assigned, "modify", version=5, n=2), state=5)
    assert TiledStore(spark, st.root).resume_state() == 5
    spark_append(7)
    assert TiledStore(spark, st.root).resume_state() == 7
    assert sorted(
        r["state"] for r in TiledStore(spark, st.root).ledger().select("state").distinct().collect()
    ) == [4, 5, 7]


def test_diff_read_lazily_from_store(spark, store):
    """A diff that is a lazy read of the store itself (the store's rewritten
    partitions are its source) applies as if it had been materialized."""
    st, _, _ = store
    n0 = st.read().count()
    diff = (
        st.read().orderBy("id").limit(2)
        .withColumn("wkt", F.concat(F.lit("LAZY:"), F.col("wkt")))
        .withColumn("changetype", F.lit("modify"))
        .withColumn("version", F.lit(1))
    )
    ids = sorted(r["id"] for r in diff.select("id").collect())
    st.apply_diff(diff, state=1)
    assert st.read().count() == n0
    got = st.read().filter(F.col("wkt").startswith("LAZY:")).collect()
    assert sorted(r["id"] for r in got) == ids
    assert all(not r["wkt"].startswith("LAZY:LAZY:") for r in got)
