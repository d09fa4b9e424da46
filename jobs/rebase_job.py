"""spark-submit entry point: full re-tile on merged base+diffs (the
``osmquadtree-rebase.go`` job shape — vs jobs/prepare_job.py which tiles
fresh input and ``TiledStore.apply_diff`` which patches touched tiles only).
It is prepare over the merge: ``TiledStore.rebase`` writes the merged
element set once and runs prepare's tiling tail (``TiledStore.tile``) on it.

    spark-submit --py-files dist/osmquadtree_bin_spark.zip jobs/rebase_job.py \
        --base   <existing tiled-store root (prepare_job --output)> \
        --diffs  <parquet of element diffs: (id, changetype, version, <element cols incl. qt>)> \
        --output <new store root> [--target 8000] [--minimum 4000]

Writes under --output what prepare_job writes, less assignments/ and
checkpoint.json: elements/ holds the MERGED element set (newest version of
each id), tiles/, lineage/ (also the groups table), qts.txt and groups.txt
come from its fresh tiling, and metrics.json has prepare's phases after a
merge phase (osmquadtree-rebase.go:730-734): merge, count_tree,
find_groups, assign_write_tiled, lineage, each with its
``hostmetrics.stage`` keys; plus a total stage record (the whole job
before the reports), n_elements, n_groups, n_cells.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--diffs", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--target", type=int, default=8000)
    ap.add_argument("--minimum", type=int, default=4000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from osmquadtree_bin_spark.hostmetrics import stage
    from osmquadtree_bin_spark.sources import write_reports
    from osmquadtree_bin_spark.streaming.update import TiledStore

    spark = SparkSession.builder.appName("oqt-rebase").getOrCreate()
    metrics: dict[str, float] = {}
    with stage(metrics, "total"):
        stages, arts = TiledStore(spark, args.base).rebase(
            spark.read.parquet(args.diffs), args.output, target=args.target, minimum=args.minimum
        )
    metrics.update(stages)
    write_reports(args.output, arts, metrics)


if __name__ == "__main__":
    main()
