"""Independent second implementations of the 7 non-SQL-expressible queries.

These are the CORRECTNESS oracles for q26/q27/q28/q29/q30/q32/q33: pure
Python / pandas / numpy re-implementations that share NO transform code with
`osmquadtree_bin_spark` — no Spark, no engine kernels (quadtree.py, tiling.py,
dedup.py, similarity.py, pip_join.py are never imported here). The fixture
parquets under tests/golden/oracle/ are generated FROM these functions
(`python tests/make_goldens.py oracle`), so the driver's Spark-vs-fixture
hash gate is a genuine two-implementation cross-check, not a regression pin.
One exception runs on Spark: :func:`assign_tiles_arrow`, the second tile
assigner for the parity tests in tests/test_tiling_golden.py (a pandas UDF
around the same scalar walk the q26 oracle uses).

What IS shared, deliberately:
  * input synthesis (`datagen._doc_rows` / `gen_regions` parameters) — the
    input table is the test's *fixture contract*, not the operator under
    test; both sides must consume identical rows.
  * third-party deterministic primitives that define the operators'
    parameterization: `pd.util.hash_array` (SipHash word hashes),
    `hashlib.blake2b` (synthetic media metadata), `np.random.default_rng`
    seeds (minhash permutations, k-means init). These are specs, not engine
    code.
  * the web-mercator projection formulas (float64 numpy) for q26 — the
    projection is the published coordinate convention; the algorithms under
    test (bbox descent, count tree, group walk, tile assignment) are
    re-implemented here scalar/recursive, vs the engine's vectorized /
    SQL-codegen forms.

Every oracle pins the engine's exact output dtypes so the driver's schema
compare holds.
"""

from __future__ import annotations

import hashlib
import math
import re
from itertools import combinations

import numpy as np
import pandas as pd

COORD_SCALE = 10_000_000
MAX_LAT = 85.05112877980659
MASK64 = (1 << 64) - 1


# =========================================================== shared input gen
def _docs_frame(n_docs: int, seed: int = 42) -> pd.DataFrame:
    """The q26/q27/q30 input: identical rows to the engine's
    ``gen_docs_dist`` (per-doc-seeded — partitioning-independent)."""
    from osmquadtree_bin_spark.datagen import _doc_rows  # input contract only

    return _doc_rows(np.arange(n_docs), seed)


def _region_rows(seed: int = 43):
    """The F3 region-table rows (input contract, not operator) — one
    row-level source of truth shared with ``datagen.gen_regions`` (which
    only wraps these rows in a Spark DataFrame), so the oracle and engine
    inputs can never drift."""
    from osmquadtree_bin_spark.datagen import region_rows  # input contract only

    return region_rows(seed=seed)


# ================================================== WKT / element extraction
_NUM_RE = re.compile(r"[^-0-9]+")


def _parse_elements(docs: pd.DataFrame) -> list[dict]:
    """Geom spans → element dicts with bbox + packed id (re-implemented:
    regex token split + python ints, vs the engine's Spark HOF chain)."""
    out = []
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        seq_base = int(re.search(r"(\d+)", doc_id).group(1)) * 64
        for span_idx, s in enumerate(spans):
            if s["kind"] != "geom":
                continue
            wkt = s["text"].split("|", 1)[0]
            toks = [t for t in _NUM_RE.split(wkt) if t]
            if len(toks) < 2:
                continue
            xs = [int(t) for t in toks[0::2]]
            ys = [int(t) for t in toks[1::2]]
            if wkt.startswith("MULTIPOINT") or wkt.startswith("POINT"):
                gt = 0
            elif wkt.startswith("MULTILINESTRING") or wkt.startswith("LINESTRING"):
                gt = 1
            else:
                gt = 2
            out.append({
                "doc_id": doc_id,
                "span_idx": span_idx,
                "minx": min(xs), "miny": min(ys),
                "maxx": max(xs), "maxy": max(ys),
                "id": (gt << 59) | ((seq_base + span_idx) & ((1 << 40) - 1)),
            })
    return out


# ============================================== q26: quadtree tiling pipeline
def _lon_unit(lon_fp: float) -> float:
    return (lon_fp / COORD_SCALE + 180.0) / 360.0


def _lat_unit(lat_fp: float) -> float:
    lat = min(max(lat_fp / COORD_SCALE, -MAX_LAT), MAX_LAT)
    # identical float64 formula; np scalar funcs match the engine's
    # vectorized libm path bit-for-bit (pinned by test_independent_oracles)
    s = float(np.sin(np.radians(np.float64(lat))))
    y = 0.5 - float(np.log(np.float64((1.0 + s) / (1.0 - s)))) / (4.0 * math.pi)
    return min(max(y, 0.0), float(np.nextafter(1.0, 0.0)))


def _qt_calc(minx: int, miny: int, maxx: int, maxy: int,
             buffer: float = 0.05, maxdepth: int = 18) -> int:
    """Scalar midpoint-descent split rule (the published
    ``quadtree.Calculate(bbox, 0.05, 18)`` contract), re-implemented as a
    per-element loop vs the engine's vectorized numpy / codegen-SQL forms."""
    ux0, ux1 = _lon_unit(minx), _lon_unit(maxx)
    uy0, uy1 = _lat_unit(maxy), _lat_unit(miny)  # y inverted: north = small
    cx, cy = (ux0 + ux1) * 0.5, (uy0 + uy1) * 0.5
    tx = ty = d = 0
    for level in range(maxdepth):
        inv = 1.0 / float(1 << (level + 1))
        ntx = tx * 2 + (1 if cx >= (tx * 2 + 1) * inv else 0)
        nty = ty * 2 + (1 if cy >= (ty * 2 + 1) * inv else 0)
        if not ((ntx - buffer) * inv <= ux0 and ux1 <= (ntx + 1 + buffer) * inv
                and (nty - buffer) * inv <= uy0 and uy1 <= (nty + 1 + buffer) * inv):
            break
        tx, ty, d = ntx, nty, d + 1
    # pack: interleave x/y bits (y in odd positions), key = path<<(63-2d) | d
    path = 0
    for i in range(d):
        xb = (tx >> (d - 1 - i)) & 1
        yb = (ty >> (d - 1 - i)) & 1
        path = (path << 2) | (yb << 1) | xb
    return (path << (63 - 2 * d)) | d


def _round_qt(key: int, level: int) -> int:
    d = min(key & 31, level)
    shift = 63 - 2 * d
    return (((key & ~31) >> shift) << shift) | d


class _ONode:
    __slots__ = ("key", "count", "children", "total")

    def __init__(self, key: int):
        self.key = key
        self.count = 0
        self.total = 0
        self.children: dict[int, _ONode] = {}


def _oracle_groups(cell_counts: dict[int, int], target: int, minimum: int):
    """Group walk re-implemented over a FULL (uncompressed) quadtree with
    recursion — vs the engine's patricia tree + iterative stack. Semantics:
    post-order DFS in quad-digit order; subtree total <= target emits one
    group at the subtree LCA when >= minimum, else bubbles; total > target
    recurses and emits the leftover when >= minimum; root catches the rest."""
    root = _ONode(0)
    for key, cnt in cell_counts.items():
        d = key & 31
        path = (key & ~31) >> (63 - 2 * d) if d else 0
        node = root
        for i in range(d):
            digit = (path >> (2 * (d - 1 - i))) & 3
            child_d = i + 1
            if digit not in node.children:
                ck_path = path >> (2 * (d - child_d))
                ck = (ck_path << (63 - 2 * child_d)) | child_d
                node.children[digit] = _ONode(ck)
            node = node.children[digit]
        node.count += cnt

    # one post-order pass filling subtree totals (recursion depth <= 18)
    def fill(node):
        node.total = node.count + sum(fill(c) for c in node.children.values())
        return node.total

    fill(root)
    groups: list[tuple[int, int]] = []

    def walk(node, is_root):
        t = node.total
        if t <= target:
            if t >= minimum:
                at = node
                while at.count == 0 and len(at.children) == 1:
                    at = next(iter(at.children.values()))
                groups.append((at.key, t))
                return 0
            return t
        rem = 0
        for digit in sorted(node.children):
            rem += walk(node.children[digit], False)
        leftover = node.count + rem
        if is_root:
            return leftover
        if leftover >= minimum:
            groups.append((node.key, leftover))
            return 0
        return leftover

    import sys

    old = sys.getrecursionlimit()
    sys.setrecursionlimit(10000)
    try:
        root_rem = walk(root, True)
    finally:
        sys.setrecursionlimit(old)
    if root_rem > 0:
        groups.append((0, root_rem))
    groups.sort(key=lambda g: g[0])
    return groups


def _oracle_tile(qt: int, gmap: dict[int, int], overflow_idx: int,
                 level: int) -> tuple[int, int]:
    """(tile_idx, tile_qt) of the deepest group key ancestor-of-or-equal of
    ``round(qt, level)``, found by a scalar walk from that depth up to the
    root; (overflow_idx, 0) when no group is an ancestor."""
    qtr = _round_qt(qt, level)
    for d in range(qtr & 31, -1, -1):
        anc = _round_qt(qtr, d)
        if anc in gmap:
            return gmap[anc], anc
    return overflow_idx, 0


def assign_tiles_arrow(elements, groups: pd.DataFrame, level: int = 17):
    """Second implementation of ``tiling.assign_tiles`` for the parity tests:
    ONE pandas-UDF round trip through Python workers, each qt resolved by the
    scalar :func:`_oracle_tile` walk (vs the engine's per-depth broadcast hash
    joins or its count-tree cell map). The one oracle here that runs on Spark,
    because what it checks is a Spark DataFrame transform."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    keys = [int(k) for k in groups["tile_qt"]]
    idxs = [int(i) for i in groups["tile_idx"]]
    gmap = dict(zip(keys, idxs))
    overflow_idx = max(idxs) + 1 if idxs else 0

    def udf_of(pick: int):
        @pandas_udf(LongType())
        def _tile(qt: pd.Series) -> pd.Series:
            return pd.Series(
                [_oracle_tile(int(q), gmap, overflow_idx, level)[pick] for q in qt],
                dtype="int64",
            )

        # nondeterministic blocks pushing a tile_idx filter down through the
        # UDF (which would inline the qt lineage into the filter)
        return _tile.asNondeterministic()

    return elements.withColumn("tile_idx", udf_of(0)(F.col("qt"))).withColumn(
        "tile_qt", udf_of(1)(F.col("qt"))
    )


def oracle_q26(n_docs: int, seed: int = 42, target: int = 500,
               minimum: int = 250, level: int = 17) -> pd.DataFrame:
    els = _parse_elements(_docs_frame(n_docs, seed))
    qts = [_qt_calc(e["minx"], e["miny"], e["maxx"], e["maxy"]) for e in els]
    cell_counts: dict[int, int] = {}
    for qt in qts:
        c = _round_qt(qt, level)
        cell_counts[c] = cell_counts.get(c, 0) + 1
    groups = _oracle_groups(cell_counts, target, minimum)
    gmap = {key: idx for idx, (key, _cnt) in enumerate(groups)}
    overflow_idx = len(groups)
    tile_counts: dict[tuple[int, int], int] = {}
    for qt in qts:
        hit = _oracle_tile(qt, gmap, overflow_idx, level)
        tile_counts[hit] = tile_counts.get(hit, 0) + 1
    rows = sorted(tile_counts.items())
    return pd.DataFrame(
        {
            "tile_idx": np.array([k[0] for k, _ in rows], dtype=np.int64),
            "tile_qt": np.array([k[1] for k, _ in rows], dtype=np.int64),
            "n_elements": np.array([c for _, c in rows], dtype=np.int64),
        }
    )


# ======================================================= q27: PIP region join
def _pt_in_ring(px: float, py: float, lons, lats) -> bool:
    """Scalar even-odd ray cast, same crossing convention as the pinned
    semantics (edge (i, i+1 mod n); crossing iff (y0>py) != (y1>py) and
    px < x-intersection)."""
    inside = False
    n = len(lons)
    for i in range(n):
        x0, y0 = float(lons[i]), float(lats[i])
        x1, y1 = float(lons[(i + 1) % n]), float(lats[(i + 1) % n])
        if (y0 > py) != (y1 > py):
            xs = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
            if px < xs:
                inside = not inside
    return inside


def oracle_q27(n_docs: int, seed: int = 42) -> pd.DataFrame:
    els = _parse_elements(_docs_frame(n_docs, seed))
    regions = _region_rows()
    out = []
    for e in els:
        for rid, kind, minx, miny, maxx, maxy, lons, lats in regions:
            if kind == "bbox":
                if (e["minx"] <= maxx and e["maxx"] >= minx
                        and e["miny"] <= maxy and e["maxy"] >= miny):
                    out.append((rid, e["id"], e["doc_id"], e["span_idx"]))
            else:
                cx = int((e["minx"] + e["maxx"]) / 2)
                cy = int((e["miny"] + e["maxy"]) / 2)
                if _pt_in_ring(float(cx), float(cy), lons, lats):
                    out.append((rid, e["id"], e["doc_id"], e["span_idx"]))
    df = pd.DataFrame(out, columns=["region_id", "id", "doc_id", "span_idx"])
    return df.astype({"id": "int64", "span_idx": "int32"})


# ===================================================== q28: minhash LSH pairs
_POLY_C = 0x9E3779B97F4A7C15
_MERSENNE = (1 << 61) - 1


def _word_hashes(text: str) -> list[int]:
    words = text.split()
    if not words:
        return []
    h = pd.util.hash_array(np.asarray(words, dtype=object), categorize=False)
    return [int(v) for v in h]


def _shingle_hashes(text: str, n: int = 3) -> list[int]:
    wh = _word_hashes(text)
    if not wh:
        return []
    m = max(len(wh) - n + 1, 1)
    width = min(n, len(wh))
    out = []
    for i in range(m):
        acc = 0
        for j in range(width):
            acc = (acc * _POLY_C + wh[i + j]) & MASK64
        out.append(acc)
    return out


def _minhash_sig(text: str, a: list[int], b: list[int]) -> list[int]:
    sh = _shingle_hashes(text)
    if not sh:
        return [0] * len(a)
    hm = [h % _MERSENNE for h in sh]
    sig = []
    for ai, bi in zip(a, b):
        # NB: replicates the uint64 wraparound of the engine's numpy
        # (a*h + b) before the Mersenne reduction — part of the hash spec
        sig.append(min((((ai * h) & MASK64) + bi & MASK64) % _MERSENNE for h in hm))
    return sig


def oracle_q28(sf_dir: str, num_perm: int = 32, bands: int = 8,
               rows_per_band: int = 4, threshold: float = 0.5,
               doc_limit: int | None = 500) -> pd.DataFrame:
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    if doc_limit is not None:
        docs = docs[docs["doc_id"] < doc_limit]
    docs = docs.sort_values("doc_id")
    rng = np.random.default_rng(7)
    a = [int(v) for v in rng.integers(1, _MERSENNE, num_perm, dtype=np.uint64)]
    b = [int(v) for v in rng.integers(0, _MERSENNE, num_perm, dtype=np.uint64)]
    ids = docs["doc_id"].tolist()
    sigs = [_minhash_sig(t if isinstance(t, str) else "", a, b) for t in docs["text"]]
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            sa, sb = sigs[i], sigs[j]
            shares_band = any(
                sa[k * rows_per_band:(k + 1) * rows_per_band]
                == sb[k * rows_per_band:(k + 1) * rows_per_band]
                for k in range(bands)
            )
            if not shares_band:
                continue
            est = sum(x == y for x, y in zip(sa, sb)) / num_perm
            if est >= threshold:
                ia, ib = sorted((ids[i], ids[j]))
                rows.append((ia, ib, est))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "est_jaccard"]).astype(
        {"id_a": "int64", "id_b": "int64", "est_jaccard": "float64"}
    )


# ======================================================= q29: simhash pairs
def _simhash_one(text: str) -> int:
    wh = _word_hashes(text)
    if not wh:
        return 0
    score = [0] * 64
    for h in wh:
        for bit in range(64):
            score[bit] += 1 if (h >> bit) & 1 else -1
    v = 0
    for bit in range(64):
        if score[bit] > 0:
            v |= 1 << bit
    return v - (1 << 64) if v >= (1 << 63) else v  # int64 view, like the engine


def oracle_q29(sf_dir: str, max_hamming: int = 8,
               doc_limit: int | None = 500) -> pd.DataFrame:
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    if doc_limit is not None:
        docs = docs[docs["doc_id"] < doc_limit]
    docs = docs.sort_values("doc_id")
    ids = docs["doc_id"].tolist()
    hs = [_simhash_one(t if isinstance(t, str) else "") for t in docs["text"]]
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            ham = ((hs[i] ^ hs[j]) & MASK64).bit_count()
            if ham <= max_hamming:
                ia, ib = sorted((ids[i], ids[j]))
                rows.append((ia, ib, ham))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"]).astype(
        {"id_a": "int64", "id_b": "int64", "hamming": "int32"}
    )


def oracle_q28b(sf_dir: str) -> pd.DataFrame:
    """Summary-row fixture for the full-sf minhash companion (q28b): the SAME
    independent O(n²) pair enumeration as oracle_q28, run over the FULL
    documents table (no doc_id gate), collapsed to the one-row aggregate
    __spark_entry__'s q28b computes. Turns the formerly rows-only driver
    probe into a real hash-checked row (round-4 verdict #3)."""
    pairs = oracle_q28(sf_dir, doc_limit=None)
    return pd.DataFrame(
        {
            "n_pairs_05": [np.int64(len(pairs))],
            "n_pairs_07": [np.int64((pairs["est_jaccard"] >= 0.7).sum())],
            "threshold_ok": [bool(pairs.empty or pairs["est_jaccard"].min() >= 0.5)],
            "bound_ok": [bool(pairs.empty or pairs["est_jaccard"].max() <= 1.0)],
        }
    )


def oracle_q29b(sf_dir: str) -> pd.DataFrame:
    """Summary-row fixture for the full-sf simhash companion (q29b) — full
    all-pairs hamming enumeration (PartEnum is exact at k<=11, so the true
    pair set IS all pairs with hamming <= 8), collapsed to q29b's row."""
    pairs = oracle_q29(sf_dir, doc_limit=None)
    return pd.DataFrame(
        {
            "n_pairs_k8": [np.int64(len(pairs))],
            "n_pairs_k4": [np.int64((pairs["hamming"] <= 4).sum())],
            "verified_ok": [bool(pairs.empty or pairs["hamming"].max() <= 8)],
        }
    )


# ================================================ q30: multimodal features
def oracle_q30(n_docs: int, seed: int = 42) -> pd.DataFrame:
    docs = _docs_frame(n_docs, seed)
    refs = set()
    for spans in docs["spans"]:
        for s in spans:
            if s["kind"] == "media":
                refs.add(s["media_ref"])
    counts: dict[str, int] = {}
    for ref in refs:
        h = hashlib.blake2b(ref.encode(), digest_size=16).digest()
        mtype = ["image", "audio", "video"][h[8] % 3]
        counts[mtype] = counts.get(mtype, 0) + 1
    rows = sorted(counts.items())
    return pd.DataFrame(
        {
            "media_type": [r[0] for r in rows],
            "n": np.array([r[1] for r in rows], dtype=np.int64),
            # every synthetic payload fake-decodes successfully
            "n_decoded": np.array([r[1] for r in rows], dtype=np.int64),
        }
    )


# ======================================================== q32: IVF top-k
def _load_embeddings(sf_dir: str):
    df = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = df.sort_values("vec_id").reset_index(drop=True)
    ids = df["vec_id"].to_numpy(np.int64)
    x = np.stack(df["embedding"].to_numpy()).astype(np.float32)
    return ids, x


def _oracle_lloyd(x32: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd on the normalized sample (the IVF training SPEC:
    seeded init, argmax-cosine assignment, mean re-center, seeded dead-
    centroid reseed) — written as per-centroid loops vs the engine's batched
    matmul, and verified to reproduce the same centroids bit-for-bit on
    float32 inputs."""
    rng = np.random.default_rng(seed)
    cents = x32[rng.choice(len(x32), size=min(k, len(x32)), replace=False)].copy()
    for _ in range(iters):
        sims = np.stack([x32 @ c for c in cents], axis=1)
        assign = np.argmax(sims, axis=1)
        for c in range(len(cents)):
            mem = x32[assign == c]
            if len(mem):
                m = mem.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
            else:
                cents[c] = x32[int(rng.integers(len(x32)))]
    return cents


def oracle_q32(sf_dir: str, k: int = 5, n_centroids: int = 16, nprobe: int = 4,
               sample: int = 2000, seed: int = 29) -> pd.DataFrame:
    ids, x = _load_embeddings(sf_dir)
    # training-sample rule (mirrors similarity.train_ivf_centroids): corpora
    # larger than 4×sample are thinned by a deterministic multiplicative-
    # hash range filter before taking the first `sample` by vec_id
    if len(ids) > 4 * sample:
        thr = np.int64((4 * sample) / len(ids) * 4294967296)
        h = ((ids % np.int64(2147483648)) * np.int64(2654435761)) % np.int64(4294967296)
        keep = h < thr
        ids_f, x_f = ids[keep], x[keep]
    else:
        ids_f, x_f = ids, x
    xs = x_f[:sample]
    xn = xs / np.maximum(np.linalg.norm(xs, axis=1, keepdims=True), 1e-12)
    cents = _oracle_lloyd(xn, n_centroids, 10, seed)
    full_n = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    file_cell = np.argmax(np.stack([full_n @ c for c in cents], axis=1), axis=1)
    rows = []
    for q in range(3):
        qv = x[ids == q][0]
        qn = (qv / max(np.linalg.norm(qv), 1e-12)).astype(np.float32)
        qsims = np.array([qn @ c for c in cents], dtype=np.float32)
        probe = np.argpartition(-qsims, min(nprobe, len(cents)) - 1)[:nprobe]
        cand = np.isin(file_cell, probe)
        xc = x[cand].astype(np.float64)
        qd = qv.astype(np.float64)
        cos = (xc @ qd) / (np.linalg.norm(xc, axis=1) * np.linalg.norm(qd))
        cids = ids[cand]
        order = np.lexsort((cids, -cos))
        for r, i in enumerate(order[:k], 1):
            rows.append((f"q{q}", int(cids[i]), r))
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "rank"]).astype(
        {"vec_id": "int64", "rank": "int32"}
    )


# ============================================ q33: embedding near-dup pairs
def oracle_q33(sf_dir: str, threshold: float = 0.999) -> pd.DataFrame:
    """Brute-force O(n²) cosine over corpus + the q33 planted scaled copies
    (vec_id+100000, embedding×1.001) — no LSH anywhere."""
    ids, x = _load_embeddings(sf_dir)
    x64 = x.astype(np.float64)
    dup = x64[ids < 50] * 1.001
    dup_ids = ids[ids < 50] + 100000
    allx = np.vstack([x64, dup])
    all_ids = np.concatenate([ids, dup_ids])
    n = allx / np.maximum(np.linalg.norm(allx, axis=1, keepdims=True), 1e-12)
    rows = []
    block = 1024
    for lo in range(0, len(n), block):
        sims = n[lo:lo + block] @ n.T
        ii, jj = np.nonzero(sims >= threshold)
        for a, b in zip(ii, jj):
            ga, gb = lo + a, b
            if ga < gb:
                ia, ib = int(all_ids[ga]), int(all_ids[gb])
                rows.append((min(ia, ib), max(ia, ib), int(round(sims[a, b] * 1000))))
    rows.sort()
    return pd.DataFrame(rows, columns=["id_a", "id_b", "cos_mil"]).astype(
        {"id_a": "int64", "id_b": "int64", "cos_mil": "int64"}
    )


# ====================================== q35: multipolygon relation assembly
def _mp_ring_close(segs: list) -> tuple[list, list]:
    """Second implementation of the endpoint-stitch spec (index-scan form,
    vs the engine's endpoint-indexed dict walk in
    ``operators/element_joins._stitch_chains``). ``segs``: (way_id, refs,
    xy) triples. Returns (rings, dropped_way_ids); rings carry
    (xy_open_ring, way_ids)."""
    segs = sorted(segs, key=lambda s: s[0])
    used = [False] * len(segs)
    rings, dropped = [], []
    for i, (wid0, refs0, xy0) in enumerate(segs):
        if used[i]:
            continue
        used[i] = True
        chain_r, chain_xy, wids = list(refs0), list(xy0), [wid0]
        while chain_r[0] != chain_r[-1]:
            fwd = [(w, j) for j, (w, rr, _) in enumerate(segs)
                   if not used[j] and rr[0] == chain_r[-1]]
            rev = [(w, j) for j, (w, rr, _) in enumerate(segs)
                   if not used[j] and rr[-1] == chain_r[-1]]
            if fwd:
                _w, j = min(fwd)
                _, rr, xy = segs[j]
            elif rev:
                _w, j = min(rev)
                _, rr, xy = segs[j]
                rr, xy = list(reversed(rr)), list(reversed(xy))
            else:
                break
            used[j] = True
            chain_r.extend(rr[1:])
            chain_xy.extend(xy[1:])
            wids.append(segs[j][0])
        if chain_r[0] == chain_r[-1] and len(set(chain_r[:-1])) >= 3:
            rings.append((chain_xy[:-1], wids))
        else:
            dropped.extend(wids)
    return rings, dropped


def _mp_orient(xy: list, want_ccw: bool):
    """Exact-int shoelace orientation + min-vertex rotation; None if area 0."""
    total = 0
    for k in range(len(xy)):
        ax, ay = xy[k]
        bx, by = xy[(k + 1) % len(xy)]
        total += ax * by
        total -= bx * ay
    if total == 0:
        return None
    ring = list(xy) if (total > 0) == want_ccw else list(reversed(xy))
    lo = 0
    for k in range(1, len(ring)):
        if ring[k] < ring[lo]:
            lo = k
    return ring[lo:] + ring[:lo]


def _mp_contains(ring: list, px: int, py: int) -> bool:
    """Even-odd ray cast, exact via Fraction (vs the engine's
    cross-multiplied integer compare)."""
    from fractions import Fraction

    hits = 0
    for k in range(len(ring)):
        x1, y1 = ring[k]
        x2, y2 = ring[(k + 1) % len(ring)]
        if (y1 <= py < y2) or (y2 <= py < y1):
            xc = Fraction((py - y1) * (x2 - x1), (y2 - y1)) + x1
            if px < xc:
                hits += 1
    return hits % 2 == 1


def oracle_q35(n_rels: int = 40, seed: int = 46) -> pd.DataFrame:
    """Scalar second implementation of the multipolygon assembly spec
    (role split → stitch → orient/rotate → hole containment → WKT)."""
    from osmquadtree_bin_spark.datagen import _mp_rows  # input contract only

    nodes, ways, rels = _mp_rows(n_rels, seed)
    coord = {int(i): (int(x), int(y)) for i, x, y in nodes.itertuples(index=False)}
    wrefs = {int(i): [int(x) for x in rr] for i, rr in ways.itertuples(index=False)}

    def ring_text(ring):
        pts = [f"{x} {y}" for x, y in ring]
        pts.append(pts[0])
        return "(" + ", ".join(pts) + ")"

    rows = []
    for rid, members in rels.itertuples(index=False):
        segs = {"outer": [], "inner": []}
        dropped = 0
        seen = False
        for mt, ref, role in members:
            if int(mt) != 1 or role not in segs:
                continue
            seen = True
            rr = wrefs.get(int(ref))
            if rr is None or len(rr) < 2 or any(x not in coord for x in rr):
                dropped += 1
                continue
            segs[role].append((int(ref), rr, [coord[x] for x in rr]))
        if not seen:
            continue

        oriented = {"outer": [], "inner": []}
        for role, want_ccw in (("outer", True), ("inner", False)):
            rings, dr = _mp_ring_close(segs[role])
            dropped += len(dr)
            for xy, wids in rings:
                norm = _mp_orient(xy, want_ccw)
                if norm is None:
                    dropped += len(wids)
                else:
                    oriented[role].append((norm, wids))
        outers = sorted(oriented["outer"], key=lambda r: r[0][0])
        holes = [[] for _ in outers]
        for ring, wids in sorted(oriented["inner"], key=lambda r: r[0][0]):
            for k, (oring, _) in enumerate(outers):
                if _mp_contains(oring, *ring[0]):
                    holes[k].append(ring)
                    break
            else:
                dropped += len(wids)

        if not outers:
            wkt = None
        else:
            polys = []
            for (oring, _), hs in zip(outers, holes):
                polys.append("(" + ", ".join([ring_text(oring)] + [ring_text(h) for h in hs]) + ")")
            wkt = ("POLYGON" + polys[0] if len(polys) == 1
                   else "MULTIPOLYGON(" + ", ".join(polys) + ")")
        rows.append((int(rid), wkt, len(outers), sum(len(h) for h in holes), dropped))

    out = pd.DataFrame(rows, columns=["id", "wkt", "n_outer", "n_inner", "n_dropped"])
    return out.astype({"id": "int64", "n_outer": "int32", "n_inner": "int32",
                       "n_dropped": "int32"})
