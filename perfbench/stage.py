"""Seeded input staging for the benchmark.

Two tiers, both cached under the checkout's ``.perfbench/cache``:

* the corpus (one-time, seed-independent, built in a child process by
  ``python3 -m perfbench.stage``): ``CORPUS_DOCS`` interleaved documents
  from ``datagen.gen_docs_dist`` in ``CORPUS_FILES`` parquet files, and the
  base ``TiledStore`` (every element column, ~30 tiles) built from them by
  the engine's own count tree / group walk / assigner. Keyed by
  ``DATAGEN_VERSION``, corpus seed and size; trusted only when the writer's
  ``_SUCCESS`` marker is present.
* the per-seed inputs (cheap, driver-side numpy/pyarrow): the prepare
  workload's file subset, the update workload's diff batches and the serve
  workload's request sequence.

Every staged input has a fingerprint (row count + digest), reported with
the run so that a generator change shows as a new input, not as a speed
change."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

from perfbench.session import WORK, start_spark

CACHE = os.path.join(WORK, "cache")

CORPUS_SEED = 42
CORPUS_DOCS = 24_000
CORPUS_FILES = 48
PREPARE_FILES = 24  # of CORPUS_FILES per prepare run, chosen by the seed
# the store serving update/serve is tiled finer than prepare's 8000/4000 so
# that its ~80k elements make ~30 tiles and a clustered diff touches few of
# them; more tiles would cross Spark's 32-path parallel partition discovery
# threshold and make every store read a listing job (measured 6-12 s per
# diff batch at 190 tiles on 4 cores)
STORE_TARGET = 4000
STORE_MINIMUM = 2000


def corpus_key() -> str:
    from osmquadtree_bin_spark.datagen import DATAGEN_VERSION

    return f"v{DATAGEN_VERSION}-s{CORPUS_SEED}-n{CORPUS_DOCS}-f{CORPUS_FILES}"


def docs_path() -> str:
    return os.path.join(CACHE, f"docs-{corpus_key()}")


def store_root() -> str:
    return os.path.join(CACHE, f"store-{corpus_key()}-t{STORE_TARGET}")


def _ok(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def corpus_ready() -> bool:
    return _ok(docs_path()) and _ok(store_root())


def digest_files(files: list[str]) -> str:
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def corpus_files() -> list[str]:
    """Part files in part-number order (Spark names carry a random uuid)."""
    return sorted(glob.glob(os.path.join(docs_path(), "part-*.parquet")),
                  key=lambda p: os.path.basename(p)[:10])


def build_corpus(spark) -> None:
    """Write the docs corpus and the base store, each behind ``_SUCCESS``."""
    import numpy as np
    from pyspark.sql import functions as F

    from osmquadtree_bin_spark.datagen import gen_docs_dist
    from osmquadtree_bin_spark.spans import explode_geoms
    from osmquadtree_bin_spark.streaming.update import TiledStore
    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups

    dp = docs_path()
    if not _ok(dp):
        shutil.rmtree(dp, ignore_errors=True)
        gen_docs_dist(spark, CORPUS_DOCS, seed=CORPUS_SEED, partitions=CORPUS_FILES) \
            .write.mode("overwrite").parquet(dp)
    sr = store_root()
    if not _ok(sr):
        shutil.rmtree(sr, ignore_errors=True)
        elements = explode_geoms(spark.read.parquet(dp))
        counts = count_tree(elements)
        groups = find_groups(
            counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64),
            STORE_TARGET, STORE_MINIMUM,
        )
        store = TiledStore(spark, sr)
        store.write_initial(
            assign_tiles(elements, groups, counts=counts)
            .drop("tile_qt")
            .withColumn("tile_idx", F.col("tile_idx").cast("int"))
        )
        groups.to_parquet(os.path.join(sr, "groups.parquet"))
        open(os.path.join(sr, "_SUCCESS"), "w").close()


# ----------------------------------------------------------- per-seed inputs
def prepare_input(seed: int) -> tuple[list[str], dict]:
    """The seed's ``PREPARE_FILES`` corpus files and their fingerprint."""
    import numpy as np
    import pyarrow.parquet as pq

    files = corpus_files()
    rng = np.random.default_rng(seed)
    pick = sorted(rng.choice(len(files), PREPARE_FILES, replace=False))
    chosen = [files[i] for i in pick]
    rows = sum(pq.read_metadata(f).num_rows for f in chosen)
    return chosen, {"docs": rows, "digest": digest_files(chosen)}


def base_table():
    """The base store's rows (every column, tile_idx as int) via pyarrow."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    t = ds.dataset(
        os.path.join(store_root(), "tiles"), format="parquet", partitioning="hive"
    ).to_table()
    i = t.schema.get_field_index("tile_idx")
    return t.set_column(i, "tile_idx", t.column("tile_idx").cast(pa.int32()))


# one size for both batch kinds keeps rows/s comparable whichever batches
# fit in a run
BATCH_ROWS = 160
N_BATCHES = 48
# change mix per batch: modify / move / delete / create shares
MIX = (("modify", 0.4), ("move", 0.2), ("delete", 0.2), ("create", 0.2))


def stage_diffs(seed: int, out_dir: str) -> dict:
    """Write ``N_BATCHES`` diff batches (``batch-NNN.parquet``) that mix
    modify, move, create and delete rows. Even batches are clustered (rows
    from 1-2 tiles), odd batches scattered (rows drawn over the whole
    store, so most tiles are touched). Every base id is used at most once
    across the batches, so the final row count is exactly
    base - deletes + creates. Returns the fingerprint and the per-batch
    row / delete / create counts."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmquadtree_bin_spark import quadtree as qtk

    if _ok(out_dir):
        with open(os.path.join(out_dir, "meta.json")) as f:
            return json.load(f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    base = base_table()
    # drop Spark's row metadata: Spark trusts it over the file's own schema,
    # and it would hide the changetype / version columns added below
    schema = base.schema.remove(base.schema.get_field_index("tile_idx")).remove_metadata()
    tile = base.column("tile_idx").to_numpy()
    is_point = np.array([w.startswith("POINT(") for w in base.column("wkt").to_pylist()])
    rng = np.random.default_rng(seed)
    free = np.ones(base.num_rows, dtype=bool)
    tiles = np.unique(tile)
    next_seq = 10_000_000  # created docs: above every corpus doc seq
    h = hashlib.sha256()
    per_batch = []
    for b in range(N_BATCHES):
        if b % 2 == 0:
            pool = np.flatnonzero(free & np.isin(tile, rng.choice(tiles, 2, replace=False)))
        else:
            pool = np.flatnonzero(free)
        n = min(BATCH_ROWS, len(pool))
        counts = {k: int(round(n * s)) for k, s in MIX}
        n_exist = counts["modify"] + counts["move"] + counts["delete"]
        # moves need point rows: draw them first, then the rest from the pool
        pts = pool[is_point[pool]]
        mv = rng.choice(pts, min(counts["move"], len(pts)), replace=False)
        rest = np.setdiff1d(pool, mv)
        other = rng.choice(rest, n_exist - len(mv), replace=False)
        free[mv] = free[other] = False
        mod, dele = other[: counts["modify"]], other[counts["modify"]:]
        parts = []
        df = base.take(pa.array(mod)).to_pandas()
        df["tags"] = [list(t) + [("perfbench", f"v{b}")] for t in df["tags"]]
        parts.append(df.assign(changetype="modify"))
        df = base.take(pa.array(mv)).to_pandas()
        shift = 20_000 if b % 2 == 0 else 2_000_000
        df["minx"] = df["maxx"] = df["minx"] + rng.integers(-shift, shift, len(df))
        df["miny"] = df["maxy"] = df["miny"] + rng.integers(-shift, shift, len(df))
        parts.append(df.assign(changetype="move"))
        parts.append(base.take(pa.array(dele)).to_pandas().assign(changetype="delete"))
        # creates: new point elements next to existing rows of the pool
        anchor = base.take(pa.array(rng.choice(pool, counts["create"]))).to_pandas()
        seqs = np.arange(next_seq, next_seq + len(anchor))
        next_seq += len(anchor)
        anchor["doc_id"] = [f"doc_{s:08d}" for s in seqs]
        anchor["span_idx"] = 0
        anchor["offset"] = 0
        anchor["geom_type"] = 0
        anchor["npoints"] = 1
        anchor["id"] = seqs * 64
        anchor["tags"] = [[("amenity", "cafe"), ("perfbench", f"v{b}")]] * len(anchor)
        anchor["minx"] = anchor["maxx"] = anchor["minx"] + rng.integers(-5000, 5000, len(anchor))
        anchor["miny"] = anchor["maxy"] = anchor["miny"] + rng.integers(-5000, 5000, len(anchor))
        parts.append(anchor.assign(changetype="create"))
        df = pd.concat(parts, ignore_index=True).drop(columns=["tile_idx"])
        moved = df["changetype"].isin(["move", "create"])
        df.loc[moved, "wkt"] = [
            f"POINT({x} {y})" for x, y in zip(df.loc[moved, "minx"], df.loc[moved, "miny"])
        ]
        df.loc[moved, "qt"] = qtk.calculate(
            df.loc[moved, "minx"].to_numpy(np.int64), df.loc[moved, "miny"].to_numpy(np.int64),
            df.loc[moved, "maxx"].to_numpy(np.int64), df.loc[moved, "maxy"].to_numpy(np.int64),
        )
        df["changetype"] = df["changetype"].replace({"move": "modify"})
        df["version"] = b + 1
        tbl = pa.Table.from_pandas(df, schema=schema.append(pa.field("changetype", pa.string()))
                                   .append(pa.field("version", pa.int64())),
                                   preserve_index=False)
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        pq.write_table(tbl, path)
        with open(path, "rb") as f:
            h.update(f.read())
        per_batch.append({"rows": len(df), "deletes": len(dele), "creates": len(anchor)})
    meta = {"batches": N_BATCHES, "rows": sum(b["rows"] for b in per_batch),
            "base_rows": base.num_rows, "digest": h.hexdigest()[:16],
            "per_batch": per_batch}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return meta


if __name__ == "__main__":
    spark = start_spark("perfbench-stage", event_log=None)
    try:
        build_corpus(spark)
    finally:
        spark.stop()
