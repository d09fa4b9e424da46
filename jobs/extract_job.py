"""spark-submit entry point: spatial extract (the osmquadtree-filter analog).

    spark-submit --py-files dist/osmquadtree_bin_spark.zip jobs/extract_job.py \
        --store <prepare output dir> \
        (--bbox minlon,minlat,maxlon,maxlat | --poly region.poly) \
        --output <dir>

Reads the tiled store written by prepare_job or rebase_job (its groups
from the lineage table, ``TiledStore.groups``), prunes tiles against the
region (P1), PIP-matches (J7), trims by id set (P4), sorts by id (O2), and
writes parquet under ``<output>/extract``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument("--bbox")
    ap.add_argument("--poly")
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.quadtree import COORD_SCALE
    from osmquadtree_bin_spark.sources import poly_to_regions, regions_frame
    from osmquadtree_bin_spark.streaming.update import TiledStore

    spark = SparkSession.builder.appName("oqt-extract").getOrCreate()
    store = TiledStore(spark, args.store)
    eng = TileQueryEngine(spark, store.data_path, store.groups())

    if args.bbox:
        mnx, mny, mxx, mxy = (float(v) for v in args.bbox.split(","))
        regions = regions_frame(
            spark,
            [("extract", "bbox", int(mnx * COORD_SCALE), int(mny * COORD_SCALE),
              int(mxx * COORD_SCALE), int(mxy * COORD_SCALE), None, None)],
        )
    elif args.poly:
        regions = poly_to_regions(spark, args.poly)
    else:
        ap.error("--bbox or --poly required")

    result = eng.extract(regions)
    result.write.mode("overwrite").parquet(os.path.join(args.output, "extract"))
    n = spark.read.parquet(os.path.join(args.output, "extract")).count()
    print(json.dumps({"extracted_rows": n}))


if __name__ == "__main__":
    main()
