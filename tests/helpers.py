"""Test-only helpers: an element-table generator, a .poly writer, a
quadtree ancestry check, a corpus-query runner and the span-sequence
digest. No product code calls these."""

import numpy as np
from pyspark.sql import functions as F

from osmquadtree_bin_spark.datagen import _coord
from osmquadtree_bin_spark.functions.dialect import translate
from osmquadtree_bin_spark.quadtree import COORD_SCALE, depth_of, round_to


def gen_elements(spark, n_nodes: int = 2000, n_ways: int = 300, n_rels: int = 60, seed: int = 45):
    """F2: node/way/relation tables incl. the FIXTURES.md edge cases:
    a relation containing a relation, a circular relation, an empty relation,
    a member referencing a missing node."""
    rng = np.random.default_rng(seed)
    nodes = []
    for i in range(n_nodes):
        lon, lat = _coord(rng)
        nodes.append((i, lon, lat))
    nodes_df = spark.createDataFrame(nodes, "id long, lon long, lat long")

    ways = []
    for i in range(n_ways):
        nrefs = int(rng.integers(2, 12))
        start = int(rng.integers(0, n_nodes - 1))
        # mostly-local refs (cluster locality), a few long-range ways
        refs = [int((start + int(rng.integers(0, 30))) % n_nodes) for _ in range(nrefs)]
        ways.append((i, refs))
    ways_df = spark.createDataFrame(ways, "id long, refs array<long>")

    rels = []
    for i in range(n_rels - 3):
        nm = int(rng.integers(1, 6))
        members = []
        for _ in range(nm):
            mt = int(rng.integers(0, 2))  # node or way
            ref = int(rng.integers(0, n_nodes if mt == 0 else n_ways))
            members.append((mt, ref, "member"))
        if rng.random() < 0.3 and i > 0:  # rel-of-rel
            members.append((2, int(rng.integers(0, i)), "subrel"))
        rels.append((i, members))
    rels.append((n_rels - 3, [(2, n_rels - 3, "self")]))  # circular
    rels.append((n_rels - 2, []))  # empty
    rels.append((n_rels - 1, [(0, n_nodes + 999, "missing")]))  # missing member
    rels_df = spark.createDataFrame(
        rels, "id long, members array<struct<mtype:int,ref:long,role:string>>"
    )
    return nodes_df, ways_df, rels_df


def write_poly(path: str, name: str, rings: list[tuple[list[int], list[int], bool]]):
    """Write an OSM .poly file: name line, one section per ring ("!" marks
    a hole), "lon lat" float pairs, "END" terminators."""
    with open(path, "w") as f:
        f.write(name + "\n")
        for i, (lons, lats, hole) in enumerate(rings, 1):
            f.write(("!" if hole else "") + str(i) + "\n")
            for lon, lat in zip(lons, lats):
                f.write(f"   {lon / COORD_SCALE:.7E}   {lat / COORD_SCALE:.7E}\n")
            f.write("END\n")
        f.write("END\n")


def is_ancestor(anc: np.ndarray, key: np.ndarray) -> np.ndarray:
    """True where ``anc`` is an ancestor-of-or-equal of ``key``."""
    anc = np.asarray(anc, dtype=np.int64)
    key = np.asarray(key, dtype=np.int64)
    return (depth_of(anc) <= depth_of(key)) & (round_to(key, depth_of(anc)) == anc)


def run_query(spark, corpus_sql: str):
    """A corpus entry (a ``( SELECT ... ) AS alias`` table expression) as a
    full query, through the dialect shims, run as Spark SQL over the
    registered virtual tables."""
    return spark.sql(translate(f"SELECT * FROM {corpus_sql.strip()}"))


def span_fingerprint(docs):
    """Order-sensitive per-doc digest of (kind, text, media_ref, order).

    Pure built-in functions (no shuffle, no explode): the invariant check is
    a narrow map over the original array column.
    """
    return docs.select(
        "doc_id",
        F.md5(
            F.to_json(
                F.transform(
                    "spans",
                    lambda s: F.struct(
                        s["kind"].alias("kind"),
                        s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["offset"].alias("offset"),
                    ),
                )
            )
        ).alias("span_digest"),
    )
