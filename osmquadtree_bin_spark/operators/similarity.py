"""Similarity search over embedding columns (array<float>).

  * ``cosine_topk``      — brute-force exact top-k per query: broadcast the
    (small) query set, JVM-side dot product via ``aggregate``/``zip_with`` —
    whole-stage codegen, no Python in the hot path — then a row_number window.
  * ``ivf_topk``         — scale path: coarse k-means lists, each query
    probes its ``nprobe`` nearest lists, exact re-rank inside them.
  * ``embedding_near_dup_pairs`` — near-duplicate pairs over
    random-hyperplane LSH buckets (``hyperplane_signature``), never
    all-pairs.

At 100 TB the brute force is O(Q×N) but embarrassingly parallel and
shuffle-free (broadcast queries); the IVF lists trade recall for an
equi-join that prunes N.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def _cos_expr(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """embeddings: (vec_id, embedding); queries: (query_id, qvec).
    Returns (query_id, vec_id, rank, cosine). Exact."""
    cand = embeddings.crossJoin(F.broadcast(queries))
    cos = _cos_expr("embedding", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        cand.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_signature(dim: int, nbits: int = 16, seed: int = 13):
    """Returns a pandas UDF computing the random-hyperplane LSH bucket."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((nbits, dim)).astype(np.float32)

    @pandas_udf(LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        proj = m @ planes.T  # (batch, nbits)
        bits = (proj > 0).astype(np.uint64)
        sig = (bits << np.arange(nbits, dtype=np.uint64)[None, :]).sum(axis=1)
        return pd.Series(sig.astype(np.int64))

    return _sig


# ------------------------------------------------------------------ IVF ANN
def train_ivf_centroids(
    embeddings: DataFrame,
    dim: int | None = None,
    n_centroids: int = 64,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 29,
) -> np.ndarray:
    """Coarse quantizer for IVF: Lloyd k-means on a bounded driver sample of
    L2-NORMALIZED vectors (cosine ≡ dot product after normalization).

    Scale story: the training sample is capped (at planet scale take a
    keyed-range or seeded sample of ~10-100k rows — centroid quality needs
    vectors-per-centroid, not corpus coverage); the resulting (n_centroids,
    dim) float32 array is a few hundred KB, broadcast with the assignment
    UDF closure. Deterministic: fixed seed + vec_id-ordered sample.

    r05 verdict #6: the bare ``orderBy(vec_id).limit(sample)`` is a
    TakeOrderedAndProject — no full sort, but every partition still heaps
    its TOP ``sample`` rows and ships them to the driver merge (tasks ×
    sample rows at planet scale). When the corpus is more than 4× the
    sample, a deterministic multiplicative-hash range filter
    (Knuth hash of vec_id, threshold on the high bits — exactly
    reproducible in numpy by the independent oracle) thins each partition
    to ~4×sample expected rows BEFORE the heap, making the driver merge
    O(sample), not O(corpus/task × tasks). Corpora ≤ 4×sample (every
    pinned fixture and test scale) take the identical unfiltered path, so
    results there are bit-for-bit unchanged; the filtered path is pinned
    by test_ivf_sample_hash_filter."""
    sel = embeddings.select("vec_id", "embedding")
    total = embeddings.count()  # parquet-metadata count, no full scan
    if total > 4 * sample:
        # ((vec_id mod 2^31) * knuth) mod 2^32 < frac·2^32 — all ops stay
        # inside int64 (ANSI-safe), identical in numpy int64 arithmetic
        thr = int((4 * sample) / total * 4294967296)
        h = F.pmod(
            F.pmod(F.col("vec_id"), F.lit(2147483648)) * F.lit(2654435761),
            F.lit(4294967296),
        )
        sel = sel.filter(h < F.lit(thr))
    rows = sel.orderBy("vec_id").limit(sample).collect()
    x = np.stack([np.asarray(r["embedding"], dtype=np.float32) for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)  # cosine on normalized = dot
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
            else:  # dead centroid: re-seed deterministically
                cents[c] = x[int(rng.integers(len(x)))]
    return cents


def _centroid_assigner(cents: np.ndarray, nprobe: int = 1):
    """Pandas UDF: ids of the ``nprobe`` nearest (by cosine) centroids,
    packed as an array — one Arrow pass, closure-broadcast centroids."""
    from pyspark.sql.types import ArrayType, IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float32)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cents.T
        if nprobe == 1:
            top = np.argmax(sims, axis=1)[:, None]
        else:
            p = min(nprobe, sims.shape[1])
            top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
        return pd.Series([row.astype(np.int32).tolist() for row in top])

    return _assign.asNondeterministic()  # plan-health: see tiling._assign


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 8,
    sample: int = 10_000,
    seed: int = 29,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus once (each vector
    filed under its nearest centroid), probe the ``nprobe`` closest lists
    per query, exact cosine re-rank inside the probed lists.

    The candidate join is a plain equi-join on centroid id — at scale the
    corpus side can be bucketed/partitioned by ``cell`` so a probe touches
    only its lists (the IVF analogue of tile partition pruning). Cost per
    query ~ nprobe/n_centroids of the corpus vs 1/1 for brute force."""
    cents = train_ivf_centroids(embeddings, dim, n_centroids, sample, seed=seed)
    file_under = _centroid_assigner(cents, nprobe=1)
    probe = _centroid_assigner(cents, nprobe=nprobe)
    e = embeddings.withColumn(
        "cell", F.get(file_under(F.col("embedding")), 0)
    )
    q = queries.withColumn("cell", F.explode(probe(F.col("qvec"))))
    cos = _cos_expr("embedding", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        e.join(F.broadcast(q), "cell")
        .select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------- embedding near-dup pairs
def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    nbits: int = 12,
    tables: int = 4,
) -> DataFrame:
    """Near-duplicate (id_a, id_b, cosine) pairs with cosine >= threshold —
    the embedding leg of the dedup suite (exact/minhash/simhash live in
    operators.dedup).

    Candidates come from L independent hyperplane-LSH tables (same-bucket
    equi-self-join, ``id_a < id_b``, union, dedup) — never an all-pairs
    cross join — then the exact cosine filter. High-threshold near-dups
    almost always share a bucket in at least one of L tables (hyperplane
    collision prob per table = (1 - theta/pi)^nbits), so recall is tunable
    with ``tables``/``nbits`` while the join stays linear in bucket load."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()["embedding"])
    cand = None
    for t in range(tables):
        sig = hyperplane_signature(dim, nbits, seed=13 + 101 * t)
        b = embeddings.select(
            "vec_id", "embedding", sig(F.col("embedding")).alias("bucket")
        )
        a = b.select(
            F.col("bucket"),
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("emb_a"),
        )
        c = b.select(
            F.col("bucket"),
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("emb_b"),
        )
        j = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b")).drop("bucket")
        cand = j if cand is None else cand.unionByName(j)
    cos = _cos_expr("emb_a", "emb_b")
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
