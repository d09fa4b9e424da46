"""Quadtree tiling: count tree (A3), group rollup (A4), tile assignment (O1).

Re-creates the reference pipeline phases 2-4 (``osmquadtree-prepare.go:170-292``):

  1. ``count_tree``       — groupBy(round(qt, 17)).count() — distributed agg,
                            result is small (≤ ~500k cells at planet scale:
                            ``osmquadtree-prepare.go:201``), collected to driver.
  2. ``find_groups``      — deterministic driver-side walk of the count tree,
                            emitting tile groups of target 8000 / minimum 4000
                            elements (``osmquadtree-prepare.go:88-89,192``).
  3. ``assign_tiles``     — each element gets the DEEPEST group that is
                            ancestor-of-or-equal of its (rounded) qt — one
                            broadcast hash join per occupied group depth
                            (≤ 18) + coalesce, fully JVM-side, zero Python.
  4. ``write_tiled``      — repartition by tile, sort within partitions by id,
                            write hive-partitioned parquet (Iceberg partition
                            transform in production).

Group-walk semantics (pinned here, golden-tested in tests/test_tiling_golden.py):
post-order DFS in quad-digit order (A,B,C,D). Each node bubbles up an
unassigned remainder; a node emits a group when its accumulated total is
``minimum <= total <= target``, or when total > target after its children have
been processed and the leftover is >= minimum. The root always emits any
remainder. Every cell therefore has exactly one ancestor-or-self group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import quadtree as qtk
from .quadtree import DEPTH_MASK, round_to

QT_TREE_MAX_LEVEL = 17  # osmquadtree-prepare.go:87
GROUP_TARGET = 8000  # osmquadtree-prepare.go:88
GROUP_MINIMUM = 4000  # osmquadtree-prepare.go:89


# --------------------------------------------------------------- A3 count tree
MAX_DRIVER_CELLS = 150_000  # cap on the driver-side tree (SURVEY.md §7 risk 6)


def qt_round_sql(col_name: str, level: int) -> str:
    """SQL text of :func:`qt_round_expr`."""
    d = f"least({col_name} & 31, {int(level)})"
    return f"(shiftleft(shiftrightunsigned({col_name} & -32, 63 - 2*{d}), 63 - 2*{d}) | {d})"


def qt_round_expr(col_name: str, level: int):
    """JVM-side round_to (same bit math as quadtree.round_to) — keeps the
    count-tree aggregation in whole-stage codegen, no Python round trip."""
    return F.expr(qt_round_sql(col_name, level))


def count_tree(
    elements: DataFrame,
    level: int = QT_TREE_MAX_LEVEL,
    max_cells: int = MAX_DRIVER_CELLS,
    n_rows_hint: int | None = None,
) -> pd.DataFrame:
    """Per-cell element counts at ``min(depth, level)`` (A3). Distributed agg,
    small driver-side result (sorted by key = DFS pre-order).

    If the occupied-cell count at ``level`` exceeds ``max_cells`` the result
    is rounded to a coarser level so the serial group walk never becomes the
    Amdahl bottleneck. The rounding happens DRIVER-SIDE in numpy on the
    already-aggregated counts (one distributed shuffle, one collect, zero
    caching — Spark's persist path measured 50-80× slower than the recompute
    at high thread counts). There is no distributed pre-shrink: the collect
    holds every occupied cell at ``level``, so at planet scale pass
    ``n_rows_hint`` (which caps ``level``) or a lower ``level``. The
    reference expects ~500k tiles at planet scale
    (``osmquadtree-prepare.go:201``).

    The result's ``attrs`` carry the call's sub-timings: ``agg_collect_s``
    (distributed agg + collect wall) vs ``driver_s`` (numpy coarsening
    wall) — the split that tells fixed driver cost apart from scan scaling
    — plus ``cells_collected``, ``cells_out`` and the final ``level``."""
    import math

    # ONE distributed pass: aggregate at the requested level and collect —
    # the coarsening to max_cells happens driver-side in numpy (micro-
    # seconds). When the caller knows the row count (``n_rows_hint``) the
    # level is capped so the worst-case collect stays ~max_cells even for
    # uniformly-scattered data; at true planet scale pass ``level`` lower
    # explicitly.
    import time as _time

    t0 = _time.perf_counter()
    if n_rows_hint and n_rows_hint > max_cells:
        cap = max(5, math.ceil(math.log(4 * max_cells, 4)))
        level = min(level, cap)
    agg = elements.groupBy(qt_round_expr("qt", level).alias("cell")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # split-size the scan for this session's cores (default 128 MB splits
    # give the map side fewer tasks than cores on GB-scale tables). Full-wave
    # splits even though more map tasks duplicate more partial-agg rows: a
    # clean 2→8-core pair measured a 32 MB split floor SLOWER at 8 cores
    # (1.6 s → 2.7 s; the ragged 1.5-wave scan loses more than the halved
    # shuffle gains).
    from .tuning import scan_splits_for

    with scan_splits_for(elements):
        pdf = agg.toPandas()
    t1 = _time.perf_counter()
    cells = pdf["cell"].to_numpy(np.int64)
    cnts = pdf["cnt"].to_numpy(np.int64)
    # clustering can beat the 4×/level shrink estimate — finish driver-side
    while len(cells) > max_cells and level > 5:
        level = max(5, level - max(2, math.ceil(math.log(len(cells) / max_cells, 4))))
        rounded = round_to(cells, level)
        g = pd.DataFrame({"cell": rounded, "cnt": cnts}).groupby("cell", sort=True)[
            "cnt"
        ].sum()
        cells = g.index.to_numpy(np.int64)
        cnts = g.to_numpy(np.int64)
    out = pd.DataFrame({"cell": cells, "cnt": cnts})
    out = out.sort_values("cell").reset_index(drop=True)
    out.attrs = {
        "agg_collect_s": round(t1 - t0, 3),
        "driver_s": round(_time.perf_counter() - t1, 3),
        "cells_collected": int(len(pdf)),
        "cells_out": int(len(out)),
        "level": int(level),
    }
    return out


# ------------------------------------------------------------- A4 group walk
def tree_lines(cells: np.ndarray, counts: np.ndarray) -> list[str]:
    """Golden qt-tree dump, reference format '%6d %s' per line
    (``osmquadtree-prepare.go:179-187``); node repr = '<qtstring>:<depth> <count>'."""
    strs = qtk.to_string(cells)
    depths = qtk.depth_of(cells)
    return [
        f"{i:6d} {s or 'ROOT'}:{int(d)} {int(c)}"
        for i, (s, d, c) in enumerate(zip(strs, depths, counts))
    ]


def find_groups(
    cells: np.ndarray,
    counts: np.ndarray,
    target: int = GROUP_TARGET,
    minimum: int = GROUP_MINIMUM,
) -> pd.DataFrame:
    """A4: deterministic walk → ordered (tile_idx, tile_qt, cnt) frame.

    Vectorized construction (r06): the serial driver walk is the pipeline's
    Amdahl term, and profiling showed >80% of it was the pure-Python
    patricia-tree build over the ~100k count-tree cells, not the group walk
    itself. The compressed-trie structure is reconstructed with numpy
    instead: node set = cells ∪ LCAs of adjacent sorted cells ∪ {root}
    (the classic compressed-trie identity), subtree totals = contiguous
    interval sums over the DFS-sorted leaf array (prefix-sum + two
    searchsorteds), parents = the deeper of each node's LCA with its sorted
    neighbours. The Python walk then only ever descends into nodes with
    total > target (a few hundred at 100k cells), so the serial part is
    O(groups), not O(cells). Semantics are bit-identical to the reference
    walk — pinned by the goldens in tests/test_tiling_golden.py and the
    exhaustive parity test against the reference patricia walk,
    ``tests/independent_oracles._find_groups_reference``."""
    cells = np.asarray(cells, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    order = np.argsort(cells, kind="stable")
    cs = cells[order]
    cn = counts[order]
    n = len(cs)
    lcas = qtk.common(cs[:-1], cs[1:]) if n > 1 else np.empty(0, np.int64)
    nodes = np.unique(np.concatenate([np.zeros(1, np.int64), cs, lcas]))
    m = len(nodes)
    own = np.zeros(m, dtype=np.int64)
    own[np.searchsorted(nodes, cs)] = cn
    # subtree totals: descendants-or-self of a node are the contiguous run
    # [node, next-path-prefix) in the integer-sorted leaf array (integer
    # order IS DFS pre-order for these keys; equal-path ancestors sort
    # before their descendants because depth lives in the low 5 bits)
    csum = np.concatenate([np.zeros(1, np.int64), np.cumsum(cn)])
    d = (nodes & 31).astype(np.uint64)
    step = np.uint64(1) << (np.uint64(63) - np.uint64(2) * d)
    hi_key = (nodes.astype(np.uint64) & np.uint64(~31 & (2**64 - 1))) + step
    cs_u = cs.astype(np.uint64)
    lo = np.searchsorted(cs_u, nodes.astype(np.uint64), side="left")
    hi = np.searchsorted(cs_u, hi_key, side="left")
    total = csum[hi] - csum[lo]
    # parents: for sorted trie nodes, parent(v) = the deeper of lca(pred, v)
    # and lca(v, succ) (excluding lca(v, succ) == v, i.e. v ancestor of succ)
    if m > 1:
        nl = qtk.common(nodes[:-1], nodes[1:])
        left_key = np.concatenate([np.zeros(1, np.int64), nl])
        right_key = np.concatenate([nl, np.zeros(1, np.int64)])
        # right candidate is valid when it is a PROPER ancestor of v
        rv = np.zeros(m, dtype=bool)
        rv[:-1] = nl != nodes[:-1]
        pick_right = rv & ((right_key & 31) > (left_key & 31))
        parent_key = np.where(pick_right, right_key, left_key)
        parent_idx = np.searchsorted(nodes, parent_key)
        parent_idx[0] = -1
    else:
        parent_idx = np.array([-1], dtype=np.int64)
    ord_ch = np.argsort(parent_idx, kind="stable")
    ps = parent_idx[ord_ch]
    rng = np.arange(m)
    child_start = np.searchsorted(ps, rng, side="left")
    child_end = np.searchsorted(ps, rng, side="right")

    groups: list[tuple[int, int]] = []

    def emit_at(j: int, tot: int) -> None:
        # descend count-less single-child chains to the deepest equivalent
        # node (reference semantics: the group lands at the subtree LCA)
        while own[j] == 0 and child_end[j] - child_start[j] == 1:
            j = ord_ch[child_start[j]]
        groups.append((int(nodes[j]), int(tot)))

    root_rem = 0
    t0 = int(total[0])
    if t0 <= target:
        if t0 >= minimum:
            emit_at(0, t0)
        else:
            root_rem = t0
    else:
        # frames: [node_idx, next_child_offset, accumulated_remainder]
        st = [[0, 0, 0]]
        while st:
            fr = st[-1]
            i = fr[0]
            cs0, ce0 = child_start[i], child_end[i]
            descended = False
            while cs0 + fr[1] < ce0:
                c = int(ord_ch[cs0 + fr[1]])
                fr[1] += 1
                t = int(total[c])
                if t <= target:
                    if t >= minimum:
                        emit_at(c, t)
                    else:
                        fr[2] += t
                else:
                    st.append([c, 0, 0])
                    descended = True
                    break
            if descended:
                continue
            leftover = int(own[i]) + fr[2]
            st.pop()
            if i == 0:
                root_rem = leftover
            elif leftover >= minimum:
                groups.append((int(nodes[i]), leftover))
            elif st:
                st[-1][2] += leftover
            else:  # non-root bottom frame cannot exist; defensive
                root_rem += leftover

    if root_rem > 0:
        groups.append((0, root_rem))
    out = pd.DataFrame(groups, columns=["tile_qt", "cnt"])
    out = out.sort_values("tile_qt").reset_index(drop=True)
    out.insert(0, "tile_idx", np.arange(len(out), dtype=np.int64))
    return out.astype({"tile_qt": "int64", "cnt": "int64"})


def group_lines(groups: pd.DataFrame) -> list[str]:
    """Golden groups dump, '%6d %s' (``osmquadtree-prepare.go:196-209``)."""
    strs = qtk.to_string(groups["tile_qt"].to_numpy(np.int64))
    return [
        f"{int(i):6d} {s or 'ROOT'}:{int(k) & 31} {int(c)}"
        for i, s, k, c in zip(groups["tile_idx"], strs, groups["tile_qt"], groups["cnt"])
    ]


# ---------------------------------------------------------- tile assignment
def make_tile_assigner(groups: pd.DataFrame, level: int = QT_TREE_MAX_LEVEL):
    """Vectorized (qt → tile_idx / tile_qt) lookup closure.

    The group key list is tiny (≤ ~500k) — broadcast by closure capture into
    the pandas UDF (Spark serializes it once per executor, the Arrow batches
    stream through numpy searchsorted). Deepest-ancestor match = loop depth
    from 18 down to 0, one sorted-array membership test per depth.
    """
    gkeys = groups["tile_qt"].to_numpy(np.int64)
    gidx = groups["tile_idx"].to_numpy(np.int64)
    order = np.argsort(gkeys)
    gkeys_sorted = gkeys[order]
    gidx_sorted = gidx[order]

    # Unmatched elements (no ancestor group — possible for NEW data arriving
    # through the incremental path after groups were fixed) land in an
    # explicit overflow tile instead of -1/NaN poisoning the int64 cast.
    overflow_idx = int(gidx.max()) + 1 if len(gidx) else 0

    def assign(qt: np.ndarray) -> np.ndarray:
        qt = qtk.round_to(np.asarray(qt, dtype=np.int64), level)
        out = np.full(qt.shape, overflow_idx, dtype=np.int64)
        if not len(gkeys_sorted):
            return out
        pending = np.ones(qt.shape, dtype=bool)
        for d in range(level, -1, -1):
            if not pending.any():
                break
            anc = qtk.round_to(qt, d)
            pos = np.searchsorted(gkeys_sorted, anc)
            idx = np.minimum(pos, len(gkeys_sorted) - 1)
            hit = pending & (pos < len(gkeys_sorted)) & (gkeys_sorted[idx] == anc)
            out[hit] = gidx_sorted[idx[hit]]
            pending &= ~hit
        return out

    assign.overflow_idx = overflow_idx
    return assign


def assign_tiles(
    elements: DataFrame,
    groups: pd.DataFrame,
    level: int = QT_TREE_MAX_LEVEL,
    counts: pd.DataFrame | None = None,
) -> DataFrame:
    """Deepest-ancestor tile assignment, fully JVM-side (no Python workers).

    Semantics (identical to :func:`make_tile_assigner`): round the element qt
    to ``level``, then take the DEEPEST group key that is ancestor-of-or-equal.

    Fast path (``counts`` given — every hot caller just computed the count
    tree over the SAME elements): each element's rounded qt is by construction
    one of the ≤150k count-tree cells, so the whole assignment is ONE
    broadcast hash join against the (cell → tile_idx, tile_qt) map, which the
    vectorized numpy assigner resolves driver-side in microseconds. One
    broadcast, one JVM hash probe per element, zero Python on executors.

    General path (no ``counts`` — e.g. incremental data arriving after the
    groups were fixed): the element probes ONE broadcast build side of all
    group keys once per occupied group depth, with its ancestor key at that
    depth; a ``coalesce`` picks the deepest hit. A key's low 5 bits are its
    depth, so the probe at depth d only meets depth-d keys (or, for an
    element shallower than d, its own key — the deepest possible hit
    anyway). The probes share one build side, so Spark broadcasts it once
    and reuses the exchange for every other depth. All probes stay in one
    whole-stage-codegen span; no shuffle of the big side, no Arrow
    round-trip."""
    if counts is not None and len(counts) and len(groups):
        return _assign_tiles_cellmap(elements, groups, counts, level)

    spark = elements.sparkSession
    gkeys = groups["tile_qt"].to_numpy(np.int64)
    gidx = groups["tile_idx"].to_numpy(np.int64)
    overflow_idx = int(gidx.max()) + 1 if len(gidx) else 0

    # group keys are unique (one emit per tree node) — the hash joins below
    # rely on it (a duplicate key would duplicate element rows)
    assert len(np.unique(gkeys)) == len(gkeys), "group keys must be unique"

    depths = sorted({int(d) for d in (gkeys & 31)}, reverse=True)
    # one Project computes every ancestor key (cheap bit math over the rounded
    # qt; qt arrives lineage-severed so nothing big gets inlined 18×)
    df = elements.withColumn("__qtr", qt_round_expr("qt", level))
    df = df.withColumns({f"__anc{d}": qt_round_expr("__qtr", d) for d in depths})
    gdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"__gk": gkeys, "__ti": gidx}), "__gk long, __ti long"
        )
    )
    for d in depths:
        side = gdf.select(F.col("__gk").alias(f"__gk{d}"), F.col("__ti").alias(f"__ti{d}"))
        df = df.join(side, F.col(f"__anc{d}") == F.col(f"__gk{d}"), "left")
    ti = F.coalesce(*[F.col(f"__ti{d}") for d in depths], F.lit(overflow_idx))
    tq = F.coalesce(*[F.col(f"__gk{d}") for d in depths], F.lit(0))
    df = df.withColumns({"tile_idx": ti.cast("long"), "tile_qt": tq.cast("long")})
    return df.drop(
        "__qtr", *(f"{c}{d}" for d in depths for c in ("__anc", "__gk", "__ti"))
    )


def _assign_tiles_cellmap(
    elements: DataFrame,
    groups: pd.DataFrame,
    counts: pd.DataFrame,
    level: int = QT_TREE_MAX_LEVEL,
) -> DataFrame:
    """counts-backed fast path: resolve (cell → tile) driver-side with the
    numpy assigner over the ≤150k count-tree cells, broadcast the map, ONE
    JVM hash join. ``counts`` must be the count tree computed over these
    same elements (their rounded qt is then guaranteed to be a map key);
    unseen cells still fall back to the overflow tile via the left join."""
    spark = elements.sparkSession
    cells = counts["cell"].to_numpy(np.int64)
    # Coarsen the probe to the DEEPEST GROUP depth, not the deepest cell
    # depth: assignment = deepest group ancestor-of-or-equal of round(qt,
    # level), and every group key has depth <= D := max group depth, so the
    # ancestor tests only ever inspect qt prefixes down to D. Rounding the
    # count-tree cells to D (and probing with round(qt, D)) therefore yields
    # the IDENTICAL assignment while shrinking the broadcast map from the
    # full level-17 cell set (~100k rows at sf0.1) to the occupied cells at
    # group depth (typically 10-30x fewer rows: smaller createDataFrame,
    # smaller broadcast, same single hash join). Equality with the general
    # per-depth-join path is pinned by test_tiling_golden.
    probe_level = int((cells & DEPTH_MASK).max()) if len(cells) else 0
    if len(groups):
        depth_cap = int((groups["tile_qt"].to_numpy(np.int64) & 31).max())
        if depth_cap < probe_level:
            probe_level = depth_cap
            cells = np.unique(round_to(cells, probe_level))
    assigner = make_tile_assigner(groups, level)
    tidx = assigner(cells)
    tqt = (
        groups.set_index("tile_idx")["tile_qt"]
        .reindex(tidx)
        .fillna(0)
        .to_numpy(np.int64)
    )
    gdf = spark.createDataFrame(
        pd.DataFrame({"__cell": cells, "__ti": tidx, "__tq": tqt})
    )
    return (
        elements.withColumn("__cell", qt_round_expr("qt", probe_level))
        .join(F.broadcast(gdf), "__cell", "left")
        .withColumn(
            "tile_idx",
            F.coalesce("__ti", F.lit(assigner.overflow_idx)).cast("long"),
        )
        .withColumn("tile_qt", F.coalesce("__tq", F.lit(0)).cast("long"))
        .drop("__cell", "__ti", "__tq")
    )


def write_tiled(elements_with_tiles: DataFrame, path: str) -> None:
    """O1: shuffle every element to its tile, write partitioned + sorted.

    ``repartition(tile_idx)`` + ``sortWithinPartitions(tile_idx, id)`` gives the
    reference's tiled, id-sorted layout; hive partitioning by tile_idx gives
    partition pruning on read (Iceberg partition transform in production).
    The partition count is explicit — wave-aligned for this session, byte-
    bounded at scale — so AQE cannot coalesce the sort+write into a sub-wave
    stage (tuning.py).
    """
    from .tuning import shuffle_partitions_for

    (
        elements_with_tiles.repartition(
            shuffle_partitions_for(elements_with_tiles), F.col("tile_idx")
        )
        .sortWithinPartitions("tile_idx", "id")
        .write.mode("overwrite")
        .partitionBy("tile_idx")
        .parquet(path)
    )


def tiling_pipeline(
    docs: DataFrame,
    target: int = GROUP_TARGET,
    minimum: int = GROUP_MINIMUM,
    level: int = QT_TREE_MAX_LEVEL,
):
    """End-to-end prepare pipeline (§3.1): docs → elements → counts → groups
    → assigned elements. Returns (elements_df, counts_pdf, groups_pdf)."""
    from .spans import explode_geoms

    # NO caching: the elements lineage is all-JVM + one numpy UDF and
    # recomputes in ~1s/10M rows; Spark's persist path measured 50-80× slower
    # than recompute at high thread counts (local-mode memory-manager
    # contention), so each consumer just re-evaluates the chain
    elements = explode_geoms(docs)
    counts = count_tree(elements, level)
    groups = find_groups(
        counts["cell"].to_numpy(np.int64),
        counts["cnt"].to_numpy(np.int64),
        target,
        minimum,
    )
    assigned = assign_tiles(elements, groups, level, counts=counts)
    return assigned, counts, groups
