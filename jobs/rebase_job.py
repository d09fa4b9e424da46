"""spark-submit entry point: full re-tile on merged base+diffs (the
``osmquadtree-rebase.go`` job shape — vs jobs/prepare_job.py which tiles
fresh input and ``TiledStore.apply_diff`` which patches touched tiles only).

    spark-submit --py-files dist/osmquadtree_bin_spark.zip jobs/rebase_job.py \
        --base   <existing tiled-store root (prepare_job --output)> \
        --diffs  <parquet of element diffs: (id, changetype, version, <element cols incl. qt>)> \
        --output <new store root> [--target 8000] [--minimum 4000]

Writes under --output:
    tiles/            freshly re-grouped tile-partitioned elements
    qts.txt           count-tree dump over the MERGED element set (S12)
    groups.txt        the new tile groups (S12)
    metrics.json      per-phase wall times (osmquadtree-rebase.go:730-734):
                      merge_count, count_tree, find_groups, assign_write.
                      Each phase P also carries P_steal_cores, P_busy_cores
                      and P_pg_cpu_s (``hostmetrics.stage``, the same
                      per-stage keys prepare_job writes; Linux only), and
                      count_tree its count_tree_* sub-timings; plus
                      total_sec, n_groups, n_cells
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--diffs", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--target", type=int, default=8000)
    ap.add_argument("--minimum", type=int, default=4000)
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import SparkSession

    from osmquadtree_bin_spark.streaming.update import TiledStore
    from osmquadtree_bin_spark.tiling import group_lines, tree_lines

    spark = SparkSession.builder.appName("oqt-rebase").getOrCreate()
    metrics: dict[str, float] = {}

    t0 = time.perf_counter()
    base = TiledStore(spark, args.base)
    diff = spark.read.parquet(args.diffs)
    out, counts, groups = base.rebase(
        diff, args.output, target=args.target, minimum=args.minimum
    )
    metrics["total_sec"] = round(time.perf_counter() - t0, 3)
    metrics.update(out.rebase_phases)  # per-phase records (rebase.go:730-734)
    metrics["n_groups"] = int(len(groups))
    metrics["n_cells"] = int(len(counts))

    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "qts.txt"), "w") as f:
        f.write(
            "\n".join(
                tree_lines(
                    counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64)
                )
            )
            + "\n"
        )
    with open(os.path.join(args.output, "groups.txt"), "w") as f:
        f.write("\n".join(group_lines(groups)) + "\n")
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
