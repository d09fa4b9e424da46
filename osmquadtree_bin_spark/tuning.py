"""Scan-split sizing: keep every file scan wide enough for the session.

Spark's default ``spark.sql.files.maxPartitionBytes`` (128 MB) is sized for
multi-TB cluster scans. The middle of this pipeline works on GB-scale
intermediate tables (the slim elements stage, the tiled store), where 128 MB
splits yield FEWER map tasks than the session has core-waves: a 1.1 GB docs
table coalesces to ~11 splits, which on 8 cores runs as one full wave plus a
3/8-full straggler wave — measured 0.71 scaling on the parse stage, and 0.44
on the count-tree stage whose ~0.3 GB input became 2-3 splits. The remedy is
standard cluster practice: bound the split size by
``total_bytes / (cores × target_waves)`` so every scan gets a few full waves,
floored (tiny tables shouldn't explode into thousands of splits) and capped
at Spark's default (at 100 TB the bound is far above 128 MB and the default
wins — this knob only ever helps the small end).

Scoped, never session-set: ``scan_splits_for`` saves/restores the conf around
the one action that needs it (the ``apply_diff`` partitionOverwriteMode leak
is the cautionary tale). Spark reads the conf at physical-planning time, i.e.
when the action runs, so wrapping the action is sufficient even for a
DataFrame built earlier. ``collect_limited`` scopes the bounded-take conf the
same way for the serving endpoints.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

MIN_SPLIT_BYTES = 4 * 1024 * 1024
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024
TARGET_WAVES = 4
_KEY = "spark.sql.files.maxPartitionBytes"
_LIMIT_PARTS_KEY = "spark.sql.limit.initialNumPartitions"
_ALL_PARTITIONS = 2**31 - 1  # first take job covers every partition


def input_bytes(df) -> int:
    """Total leaf-file bytes behind a file-sourced DataFrame; 0 if unknown
    (non-file source, or files not locally statable). Local-fs listing here;
    on HDFS/S3 the same sizes come from the FS listing Spark already did
    (and from manifests on Iceberg)."""
    total = 0
    for f in df.inputFiles():
        p = f[5:] if f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return 0
    return total


def split_bytes(df, waves: int = TARGET_WAVES, floor_bytes: int = MIN_SPLIT_BYTES) -> int:
    """Split size giving ``waves`` full task waves on the session's cores.

    ``floor_bytes``: never split finer than this. A scan that FEEDS A
    HIGH-CARDINALITY AGGREGATION should raise it (count_tree uses 32 MB):
    the shuffle's partial-aggregation output is ~(map tasks × occupied
    cells), so splitting a small table ever finer for parallelism inflates
    the shuffled rows linearly with the core count — the §2.2 anti-scaling
    term. The floor keeps map tasks few and large where the shuffle, not
    the scan, dominates."""
    total = input_bytes(df)
    if not total:
        return DEFAULT_SPLIT_BYTES
    cores = df.sparkSession.sparkContext.defaultParallelism
    return int(min(DEFAULT_SPLIT_BYTES, max(floor_bytes, total // (cores * waves))))


def shuffle_partitions_for(df, waves: int = TARGET_WAVES,
                           target_bytes: int = DEFAULT_SPLIT_BYTES) -> int:
    """Explicit partition count for a repartition(col) feeding a sorted
    write. Two bounds, take the max:

    * ``cores × waves`` — ``repartition(col)`` with NO explicit count is fair
      game for AQE partition coalescing, which targets 64 MB partitions and
      happily hands an 8-core session a 6-task sort+write stage (sub-wave:
      a quarter of the cores idle). Pinning the count keeps the reduce side
      wave-aligned.
    * ``input_bytes / target_bytes`` — at 100-TB scale the byte bound wins
      and keeps each sort+write partition near the parquet-friendly 128 MB,
      exactly what AQE would have aimed for, minus the sub-wave failure mode.

    ``df`` is the byte-size proxy (the table the shuffle payload derives
    from); non-file sources fall back to the wave bound alone.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = cores * waves
    total = input_bytes(df)
    if total:
        n = max(n, total // target_bytes)
    return int(n)


@contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set a session conf for the actions run inside this block only: save,
    set, then restore (or unset) it."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def scan_splits_for(df, waves: int = TARGET_WAVES, floor_bytes: int = MIN_SPLIT_BYTES):
    """Scope maxPartitionBytes to the actions run inside this block so the
    scan of ``df`` fills the session's cores for ``waves`` waves."""
    return scoped_conf(df.sparkSession, _KEY, str(split_bytes(df, waves, floor_bytes)))


def collect_limited(df, limit: int) -> list:
    """``df.limit(limit).collect()`` as ONE Spark job. Spark's bounded take
    scans ``spark.sql.limit.initialNumPartitions`` partitions (default 1)
    in a first job, then runs more jobs over the rest while it is short of
    ``limit`` rows. A served response is usually shorter than its limit, so
    the take ends up scanning every partition of its pruned scan anyway;
    here the first job takes them all. Meant for pruned, already-small
    plans (serving endpoints), not for sampling a bulk table."""
    with scoped_conf(df.sparkSession, _LIMIT_PARTS_KEY, str(_ALL_PARTITIONS)):
        return df.limit(limit).collect()
