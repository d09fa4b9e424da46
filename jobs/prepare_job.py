"""spark-submit entry point: the prepare pipeline (SURVEY.md §3.1) end to end.

    spark-submit --py-files dist/osmquadtree_bin_spark.zip jobs/prepare_job.py \
        --input  <interleaved-docs parquet/Iceberg path> \
        --output <output dir> [--target 8000] [--minimum 4000] [--gen-docs N]

Writes under --output:
    elements/         slim staged elements (id, qt, int32 bbox, int8 geom_type)
    tiles/            tile-partitioned, id-sorted elements (S8)
    assignments/      (id, qt, tile_idx) — the golden S9 output
    lineage/          per-tile audit: (tile_idx, tile_qt, rows,
                      expected_rows) — the north rule's per-partition
                      lineage + row-count metrics
    checkpoint.json   pinned job parameters for --resume param-safety
    qts.txt           count-tree dump, reference "%6d %s" format (S12)
    groups.txt        tile-group dump (S12)
    metrics.json      per-phase wall times (the reference's self-report,
                      osmquadtree-prepare.go:301-305): parse_qt, count_tree,
                      find_groups, assign_write_tiled, lineage — the SAME
                      phases bench.py's scaling measurement times, because
                      both run ``prepare_pipeline`` (the one shipped code
                      path). Each phase P also carries P_steal_cores,
                      P_busy_cores and P_pg_cpu_s (``hostmetrics.stage``;
                      Linux only), count_tree its count_tree_* sub-timings
                      (agg_collect_s, driver_s, cells_collected, cells_out,
                      level); plus resumed_phases, assignments_sec,
                      total_sec, n_elements, n_groups

``--gen-docs N`` generates a deterministic synthetic input instead of
--input (sandbox/demo mode). ``--resume`` re-enters a killed run, skipping
phases whose output committed (_SUCCESS): a 10^12-doc job that died after
the elements stage redoes only the cheap driver phases + the tiled write.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _phase_complete(path: str) -> bool:
    """A parquet phase output is a checkpoint iff Spark committed it
    (_SUCCESS marker — partial output from a killed run has none). Local-fs
    check here; on HDFS/S3 the same marker is probed through the Hadoop FS
    API."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def prepare_pipeline(
    spark,
    docs,
    work_dir: str,
    target: int = 8000,
    minimum: int = 4000,
    run_tag: str = "",
    partition_by_tile: bool = True,
    resume: bool = False,
    lineage: bool = True,
) -> tuple[dict, dict]:
    """THE prepare pipeline (§3.1) — the one code path both the shipped
    spark-submit job (``main`` below) and ``bench.py``'s north-rule scaling
    measurement run, so the measured pipeline is literally the shipped job.

    Phases (each phase's ``hostmetrics.stage`` record returned in
    ``stages``):
      parse_qt            span parse + JVM quadtree Calculate → slim elements
                          table staged to parquet (int32 bbox, int8 geom_type,
                          NO strings — the packed id encodes doc seq/span)
      count_tree          distributed per-cell agg, capped driver collect
      find_groups         serial group walk over the collected tree
      assign_write_tiled  counts-backed ONE-broadcast-join assignment →
                          repartition(tile_idx) → sorted tiled write
      lineage             per-tile audit table (tile_idx, tile_qt, rows,
                          expected_rows): actual written row counts vs the
                          group walk's expected counts — the north rule's
                          per-partition lineage + row-count metrics. The
                          counts are ``footers.tile_rows`` (a footer walk of
                          the hive layout, one Spark count of the flat one);
                          the table is merged in pandas and written on the
                          driver with pyarrow

    **Resumable** (``resume=True``): the two expensive phases checkpoint
    through their committed parquet output (_SUCCESS marker) — a killed
    10^12-doc run re-entered with ``--resume`` skips parse_qt and/or the
    tiled write if their outputs committed, recomputing only the cheap
    driver-side phases (count tree / group walk are deterministic over the
    staged elements, so the skipped phases' inputs are bit-identical).
    ``checkpoint.json`` pins (target, minimum, partition_by_tile); resuming
    with different parameters raises instead of silently mixing layouts.

    Returns (stages, artifacts): artifacts carries elements/tiled/lineage
    paths, the counts/groups frames, n_elements, and ``resumed_phases``."""
    import shutil

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from osmquadtree_bin_spark.footers import parquet_rows, tile_rows
    from osmquadtree_bin_spark.hostmetrics import stage
    from osmquadtree_bin_spark.spans import explode_geoms
    from osmquadtree_bin_spark.tiling import (
        assign_tiles, count_tree, find_groups, write_tiled,
    )
    from osmquadtree_bin_spark.tuning import scan_splits_for

    stages: dict[str, float] = {}
    resumed: list[str] = []

    params = {
        "target": target, "minimum": minimum,
        "partition_by_tile": partition_by_tile,
    }
    os.makedirs(work_dir, exist_ok=True)
    ckpt_path = os.path.join(work_dir, f"checkpoint{run_tag}.json")
    if resume and os.path.exists(ckpt_path):
        with open(ckpt_path) as f:
            prev = json.load(f)
        if prev != params:
            raise ValueError(
                f"resume with different parameters: checkpoint has {prev}, "
                f"caller passed {params} — rerun without resume or match them"
            )
    # Pin params BEFORE the first phase runs: a killed run leaves committed
    # _SUCCESS phase outputs behind, and the param-safety check above must be
    # able to see which parameters produced them. (Writing this only at the
    # end would let a resume with different target/minimum silently mix an
    # old-assignment tiles/ store with newly recomputed groups.)
    with open(ckpt_path, "w") as f:
        json.dump(params, f)

    el_path = os.path.join(work_dir, f"elements{run_tag}")
    if resume and _phase_complete(el_path):
        stages["parse_qt"] = 0.0
        resumed.append("parse_qt")
    else:
        # scan-split the docs input for this session's cores (a GB-scale
        # input at default 128 MB splits runs the parse as a ragged
        # 1.4-wave stage on 8 cores — tuning.py)
        with stage(stages, "parse_qt"), scan_splits_for(docs):
            explode_geoms(docs).select(
                "id",
                "qt",
                F.col("minx").cast("int").alias("minx"),
                F.col("miny").cast("int").alias("miny"),
                F.col("maxx").cast("int").alias("maxx"),
                F.col("maxy").cast("int").alias("maxy"),
                F.col("geom_type").cast("tinyint").alias("geom_type"),
            ).write.mode("overwrite").parquet(el_path)
    slim = spark.read.parquet(el_path)
    n_elements = parquet_rows(el_path)
    if n_elements is None:  # non-local fs fallback: one Spark count job
        n_elements = slim.count()
    with stage(stages, "count_tree"):
        counts = count_tree(slim, n_rows_hint=n_elements)
    stages.update({f"count_tree_{k}": v for k, v in counts.attrs.items()})
    with stage(stages, "find_groups"):
        groups = find_groups(
            counts["cell"].to_numpy(np.int64),
            counts["cnt"].to_numpy(np.int64),
            target,
            minimum,
        )
    tiled_path = os.path.join(work_dir, f"tiles{run_tag}")
    if resume and _phase_complete(tiled_path):
        stages["assign_write_tiled"] = 0.0
        resumed.append("assign_write_tiled")
    else:
        assigned = assign_tiles(slim, groups, counts=counts)
        # the map side reads the slim table
        with stage(stages, "assign_write_tiled"), scan_splits_for(slim):
            write_tiled(assigned, tiled_path, partition_by_tile=partition_by_tile)

    lineage_path = os.path.join(work_dir, f"lineage{run_tag}")
    if lineage:
        with stage(stages, "lineage"):
            actual = tile_rows(spark, tiled_path)
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
            if os.path.isdir(lineage_path):
                shutil.rmtree(lineage_path)
            os.makedirs(lineage_path)
            pq.write_table(
                pa.Table.from_pandas(lin, preserve_index=False),
                os.path.join(lineage_path, "part-00000.parquet"),
            )
            open(os.path.join(lineage_path, "_SUCCESS"), "w").close()

    artifacts = {
        "elements_path": el_path,
        "tiled_path": tiled_path,
        "lineage_path": lineage_path if lineage else None,
        "counts": counts,
        "groups": groups,
        "n_elements": n_elements,
        "resumed_phases": resumed,
    }
    return stages, artifacts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--target", type=int, default=8000)
    ap.add_argument("--minimum", type=int, default=4000)
    ap.add_argument("--gen-docs", type=int, default=0)
    ap.add_argument(
        "--resume", action="store_true",
        help="skip phases whose committed output already exists under "
        "--output (parse_qt / assign_write_tiled _SUCCESS checkpoints)",
    )
    ap.add_argument(
        "--no-lineage", action="store_true",
        help="skip the per-tile lineage audit table",
    )
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import SparkSession, functions as F

    from osmquadtree_bin_spark.datagen import gen_docs_dist
    from osmquadtree_bin_spark.sources import write_groups_dump, write_tree_dump

    spark = SparkSession.builder.appName("oqt-prepare").getOrCreate()
    metrics: dict[str, float] = {}

    t0 = time.perf_counter()
    if args.gen_docs:
        docs = gen_docs_dist(spark, args.gen_docs, seed=42)
    else:
        if not args.input:
            ap.error("--input or --gen-docs required")
        docs = spark.read.parquet(args.input)

    stages, arts = prepare_pipeline(
        spark, docs, args.output, args.target, args.minimum,
        resume=args.resume, lineage=not args.no_lineage,
    )
    metrics.update(stages)
    metrics["resumed_phases"] = arts["resumed_phases"]
    counts, groups, n_elements = arts["counts"], arts["groups"], arts["n_elements"]

    # golden S9 assignments table (id → qt → tile), id-sorted (O2)
    t1 = time.perf_counter()
    spark.read.parquet(arts["tiled_path"]).select(
        "id", "qt", F.col("tile_idx").cast("long").alias("tile_idx")
    ).orderBy("id").write.mode("overwrite").parquet(
        os.path.join(args.output, "assignments")
    )
    metrics["assignments_sec"] = round(time.perf_counter() - t1, 3)
    metrics["total_sec"] = round(time.perf_counter() - t0, 3)
    metrics["n_elements"] = n_elements
    metrics["n_groups"] = int(len(groups))

    os.makedirs(args.output, exist_ok=True)
    write_tree_dump(
        os.path.join(args.output, "qts.txt"),
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64),
    )
    write_groups_dump(os.path.join(args.output, "groups.txt"), groups)
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
