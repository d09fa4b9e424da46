"""spark-submit entry point: the prepare pipeline (SURVEY.md §3.1) end to end.

    spark-submit --py-files dist/osmquadtree_bin_spark.zip jobs/prepare_job.py \
        --input  <interleaved-docs parquet/Iceberg path> \
        --output <output dir> [--target 8000] [--minimum 4000] [--gen-docs N]

Writes under --output (the store root layout is ``TiledStore``'s):
    elements/         slim staged elements (id, qt, int32 bbox, int8 geom_type)
    tiles/            tile-partitioned, id-sorted elements (S8)
    assignments/      (id, qt, tile_idx) — the golden S9 output
    lineage/          per-tile audit: (tile_idx, tile_qt, rows,
                      expected_rows) — the north rule's per-partition
                      lineage + row-count metrics; it doubles as the groups
                      table (``TiledStore.groups``, which extract_job reads)
    checkpoint.json   pinned job parameters for --resume param-safety
    qts.txt           count-tree dump, reference "%6d %s" format (S12)
    groups.txt        tile-group dump (S12)
    metrics.json      per-phase wall times (the reference's self-report,
                      osmquadtree-prepare.go:301-305): parse_qt, count_tree,
                      find_groups, assign_write_tiled, lineage — the SAME
                      phases bench.py's scaling measurement times, because
                      both run ``prepare_pipeline`` (the one shipped code
                      path; rebase_job reports the same phases after its
                      merge). Each phase P also carries P_steal_cores,
                      P_busy_cores and P_pg_cpu_s (``hostmetrics.stage``;
                      Linux only), count_tree its count_tree_* sub-timings
                      (agg_collect_s, driver_s, cells_collected, cells_out,
                      level); plus resumed_phases, n_elements, n_groups,
                      n_cells, and two more ``hostmetrics.stage``
                      records: assignments (the S9 table write) and total
                      (the whole job before the reports)

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def prepare_pipeline(
    spark,
    docs,
    work_dir: str,
    target: int = 8000,
    minimum: int = 4000,
    partition_by_tile: bool = True,
    resume: bool = False,
) -> tuple[dict, dict]:
    """THE prepare pipeline (§3.1) — the one code path both the shipped
    spark-submit job (``main`` below) and ``bench.py``'s north-rule scaling
    measurement run, so the measured pipeline is literally the shipped job.

    Phases (each phase's ``hostmetrics.stage`` record returned in
    ``stages``):
      parse_qt            span parse + JVM quadtree Calculate → slim elements
                          table staged to parquet (int32 bbox, int8 geom_type,
                          NO strings — the packed id encodes doc seq/span)
      count_tree, find_groups, assign_write_tiled, lineage
                          ``TiledStore.tile`` over the staged elements, the
                          bulk tiling tail ``TiledStore.rebase`` runs too

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
    from pyspark.sql import functions as F

    from osmquadtree_bin_spark.hostmetrics import stage
    from osmquadtree_bin_spark.spans import explode_geoms
    from osmquadtree_bin_spark.streaming.update import TiledStore, committed
    from osmquadtree_bin_spark.tuning import scan_splits_for

    stages: dict[str, float] = {}
    resumed: list[str] = []

    params = {
        "target": target, "minimum": minimum,
        "partition_by_tile": partition_by_tile,
    }
    os.makedirs(work_dir, exist_ok=True)
    ckpt_path = os.path.join(work_dir, "checkpoint.json")
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

    store = TiledStore(spark, work_dir)
    if resume and committed(store.elements_path):
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
            ).write.mode("overwrite").parquet(store.elements_path)
    artifacts = store.tile(stages, target, minimum, partition_by_tile, resume)
    artifacts["resumed_phases"] = resumed + artifacts["resumed_phases"]
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
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from osmquadtree_bin_spark.datagen import gen_docs_dist
    from osmquadtree_bin_spark.hostmetrics import stage
    from osmquadtree_bin_spark.sources import write_reports

    spark = SparkSession.builder.appName("oqt-prepare").getOrCreate()
    metrics: dict[str, float] = {}

    with stage(metrics, "total"):
        if args.gen_docs:
            docs = gen_docs_dist(spark, args.gen_docs, seed=42)
        else:
            if not args.input:
                ap.error("--input or --gen-docs required")
            docs = spark.read.parquet(args.input)

        stages, arts = prepare_pipeline(
            spark, docs, args.output, args.target, args.minimum,
            resume=args.resume,
        )
        metrics.update(stages)
        metrics["resumed_phases"] = arts["resumed_phases"]

        # golden S9 assignments table (id → qt → tile), id-sorted (O2)
        with stage(metrics, "assignments"):
            spark.read.parquet(arts["tiled_path"]).select(
                "id", "qt", F.col("tile_idx").cast("long").alias("tile_idx")
            ).orderBy("id").write.mode("overwrite").parquet(
                os.path.join(args.output, "assignments")
            )
    write_reports(args.output, arts, metrics)


if __name__ == "__main__":
    main()
