"""Dedup, similarity, text-stats, multimodal plumbing tests (build-brief ops)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmquadtree_bin_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)
from osmquadtree_bin_spark.operators.multimodal import extract_features, synth_media
from osmquadtree_bin_spark.operators.similarity import cosine_topk
from osmquadtree_bin_spark.operators.textstats import fingerprint, token_count

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_dedup_exact(spark, documents):
    d = dedup_exact(documents, "doc_id", "text").toPandas()
    n_docs = documents.count()
    assert d["n_dups"].sum() == n_docs
    assert d["text_hash"].is_unique
    n_distinct = documents.select("text").distinct().count()
    assert len(d) == n_distinct


def test_minhash_self_similarity(spark, documents):
    """A doc duplicated verbatim must produce an identical signature and be
    found as a 1.0-jaccard pair."""
    dup = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    both = documents.limit(20).unionByName(dup)
    sigs = minhash_signatures(both, num_perm=32)
    pairs = minhash_lsh_pairs(sigs, bands=8, rows_per_band=4, jaccard_threshold=0.9).toPandas()
    dup_pairs = pairs[pairs.id_b - pairs.id_a == 100000]
    assert len(dup_pairs) == 3
    assert (dup_pairs["est_jaccard"] == 1.0).all()


def test_simhash_near_pairs(spark, documents):
    dup = documents.limit(2).withColumn("doc_id", F.col("doc_id") + 100000)
    both = documents.limit(15).unionByName(dup)
    sh = simhash(both)
    pairs = simhash_near_pairs(sh, max_hamming=0).toPandas()
    assert {(a % 100000, b % 100000) for a, b in zip(pairs.id_a, pairs.id_b)} >= {
        (0, 0), (1, 1)
    }


def test_cosine_topk_matches_numpy(spark, embeddings):
    qrows = embeddings.limit(2).collect()
    queries = spark.createDataFrame(
        [(f"q{r['vec_id']}", r["embedding"]) for r in qrows],
        "query_id string, qvec array<float>",
    )
    got = cosine_topk(embeddings, queries, k=5).toPandas()
    emb = embeddings.toPandas()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    for r in qrows:
        q = np.asarray(r["embedding"], dtype=np.float64)
        cos = mat @ q / (norms * np.linalg.norm(q))
        order = pd.DataFrame({"vec_id": emb.vec_id, "cos": cos}).sort_values(
            ["cos", "vec_id"], ascending=[False, True]
        )
        want = order["vec_id"].head(5).tolist()
        have = (
            got[got.query_id == f"q{r['vec_id']}"].sort_values("rank")["vec_id"].tolist()
        )
        assert have == want
        # rank 1 must be the query itself (cosine 1)
        assert have[0] == r["vec_id"]


def test_token_count_and_quality(spark, documents):
    """token_count equals pandas' whitespace split count on every document."""
    df = documents.select(token_count(F.col("text")).alias("n_tokens")).toPandas()
    pdf = documents.toPandas()
    want = pdf["text"].str.split().str.len().fillna(0)
    assert (df["n_tokens"].to_numpy() == want.to_numpy()).all()


def test_fingerprint_stability_and_locality(spark, documents):
    fp1 = fingerprint(documents.limit(10)).toPandas().set_index("doc_id")["fingerprint"]
    fp2 = fingerprint(documents.limit(10)).toPandas().set_index("doc_id")["fingerprint"]
    pd.testing.assert_series_equal(fp1, fp2)
    # appending text keeps the min-rolling-hash with high probability
    app = documents.limit(10).withColumn("text", F.concat(F.col("text"), F.lit(" suffix")))
    fp3 = fingerprint(app).toPandas().set_index("doc_id")["fingerprint"]
    assert (fp1 == fp3).mean() >= 0.8


def test_fingerprint_matches_scalar_reference(spark):
    """The batch-vectorized kernel (concat + reduceat) must equal a plain
    per-doc scalar FNV / rolling-min reference, incl. empty / short / long
    docs mixed in one Arrow batch."""
    texts = [
        "", "a", "short", "exactly8", "a bit longer than the window",
        "the quick brown fox jumps over the lazy dog " * 5,
        "unicode éèê and more text beyond the window",
    ]
    window = 8

    def scalar_fp(t: str) -> int:
        data = t.encode("utf-8")
        base = 1099511628211
        m = (1 << 64) - 1
        if len(data) < window:
            h = 14695981039346656037
            for byte in data:
                h = ((h ^ byte) * base) & m
            return h - (1 << 64) if h >= (1 << 63) else h
        best = None
        for s in range(len(data) - window + 1):
            h = 0
            for byte in data[s:s + window]:
                h = (h * base + byte) & m
            best = h if best is None else min(best, h)
        return best - (1 << 64) if best >= (1 << 63) else best

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    for i, t in enumerate(texts):
        assert int(got[i]) == scalar_fp(t), f"doc {i}"


def test_multimodal_plumbing(spark, docs):
    media = synth_media(spark, docs)
    n = media.count()
    assert n > 0
    feats = extract_features(media, fake_decode=True)
    pdf = feats.toPandas()
    assert (pdf["decode_ok"] == 1).all()
    assert pdf["feature"].map(len).eq(8).all()
    # determinism
    pdf2 = extract_features(synth_media(spark, docs), fake_decode=True).toPandas()
    m1 = pdf.sort_values("media_ref").reset_index(drop=True)
    m2 = pdf2.sort_values("media_ref").reset_index(drop=True)
    assert (m1["feature"].map(tuple) == m2["feature"].map(tuple)).all()


def test_multimodal_decode_stub_raises(spark, docs):
    media = synth_media(spark, docs).limit(2)
    feats = extract_features(media, fake_decode=False).toPandas()
    assert (feats["decode_ok"] == 0).all()


def test_simhash_radius_banding_recovers_spread_flips(spark):
    """A pair differing by k=8 bits spread 2-per-16-bit-piece (so NO piece
    matches exactly) must still be found via the mask-expansion bands."""
    base = 0x0123456789ABCDEF
    flips = 0
    for piece in range(4):
        flips |= (0b101 << (piece * 16 + 3))  # 2 bits flipped per piece
    other = base ^ flips
    assert bin(flips).count("1") == 8
    sh = spark.createDataFrame([(1, base), (2, other)], "id long, simhash long")
    pairs = simhash_near_pairs(sh, max_hamming=8).toPandas()
    assert len(pairs) == 1
    assert int(pairs.hamming.iloc[0]) == 8
    # and NOT found when the verify threshold is below the true distance
    assert simhash_near_pairs(sh, max_hamming=7).count() == 0


def test_simhash_partenum_exact_vs_bruteforce(spark):
    """The two-level partition-enumeration path (k >= 4) must recover
    EXACTLY the brute-force pair set — planted pairs at hamming 1..11 plus
    random 63-bit hashes, checked at several k across both configs."""
    rng = np.random.default_rng(5)
    base = rng.integers(0, 1 << 63, 40, dtype=np.uint64)
    rows = [(i, int(np.int64(h))) for i, h in enumerate(base)]
    for j, k in enumerate((1, 3, 4, 5, 8, 9, 10, 11)):
        m = 0
        for p in rng.choice(64, size=k, replace=False):
            m |= 1 << int(p)
        rows.append((1000 + j, int(np.int64(base[j] ^ np.uint64(m)))))
    sh = spark.createDataFrame(rows, "id long, simhash long")
    hmap = dict(rows)
    for k in (4, 8, 10):
        got = {
            (int(r.id_a), int(r.id_b), int(r.hamming))
            for r in simhash_near_pairs(sh, max_hamming=k).collect()
        }
        want = set()
        ids = sorted(hmap)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                ham = ((hmap[a] ^ hmap[b]) & ((1 << 64) - 1)).bit_count()
                if ham <= k:
                    want.add((a, b, ham))
        assert got == want, f"k={k}: {got ^ want}"


def test_simhash_amplification_bounded():
    """Per-side candidate-key fan-out must stay <= 24x for every supported
    max_hamming (vs the 548x one-sided mask expansion this replaced), and
    <= 18x for the common k <= 8 range."""
    from math import comb

    from osmquadtree_bin_spark.operators.dedup import (
        _partenum_config,
        _partenum_keys,
    )

    for k in range(4, 12):
        b1, b2, k1 = _partenum_config(k)
        amp = b1 * comb(b2, k1)
        assert len(_partenum_keys(k)) == amp
        assert amp <= 24
        if k <= 8:
            assert amp <= 18


def test_simhash_bands_keep_wide_pieces():
    """Bucket keys must stay >= 16 bits wide — narrow pieces collapse the
    band self-join into a near-cartesian product at scale."""
    with pytest.raises(ValueError):
        simhash_near_pairs(None, max_hamming=3, bands=8)  # 8-bit pieces
    with pytest.raises(ValueError):
        simhash_near_pairs(None, max_hamming=12, bands=4)  # radius 3 masks


def test_ivf_recall_on_clustered_data(spark):
    """IVF (coarse k-means lists + nprobe probing + exact re-rank) must
    recover >= 0.9 of exact top-10 on clustered embeddings."""
    from osmquadtree_bin_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(11)
    dim, nc, per = 32, 40, 50
    centers = rng.standard_normal((nc, dim))
    vecs = (centers[np.repeat(np.arange(nc), per)]
            + 0.25 * rng.standard_normal((nc * per, dim)))
    e = spark.createDataFrame(
        [(int(i), vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q = e.filter(F.col("vec_id") % 250 == 0).select(
        F.concat(F.lit("q"), F.col("vec_id")).alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    exact = cosine_topk(e, q, k=10).toPandas()
    approx = ivf_topk(e, q, dim, k=10, n_centroids=32, nprobe=6, sample=2000).toPandas()
    recalls = [
        len(set(approx[approx.query_id == qid].vec_id) & set(g.vec_id)) / len(g)
        for qid, g in exact.groupby("query_id")
    ]
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivf_deterministic(spark):
    """Same seed + same data -> identical IVF result (q32 contract)."""
    from osmquadtree_bin_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((400, 16))
    e = spark.createDataFrame(
        [(int(i), vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q = e.filter(F.col("vec_id") < 2).select(
        F.concat(F.lit("q"), F.col("vec_id")).alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    a = ivf_topk(e, q, 16, k=5, n_centroids=8, nprobe=2, sample=400).toPandas()
    b = ivf_topk(e, q, 16, k=5, n_centroids=8, nprobe=2, sample=400).toPandas()
    key = ["query_id", "rank"]
    assert a.sort_values(key).reset_index(drop=True)[["query_id", "vec_id", "rank"]].equals(
        b.sort_values(key).reset_index(drop=True)[["query_id", "vec_id", "rank"]]
    )


def test_embedding_near_dup_pairs(spark):
    """Planted near-duplicates (tiny noise) must be found; unrelated random
    vectors must not pair at threshold 0.9."""
    from osmquadtree_bin_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((50, 24))
    dups = base[:10] + 0.01 * rng.standard_normal((10, 24))  # ids 100..109 ~ 0..9
    vecs = np.vstack([base, dups])
    ids = list(range(50)) + list(range(100, 110))
    e = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )
    got = embedding_near_dup_pairs(e, threshold=0.9, dim=24).toPandas()
    found = {(int(r.id_a), int(r.id_b)) for _, r in got.iterrows()}
    expected = {(i, 100 + i) for i in range(10)}
    assert expected <= found, expected - found
    # random independent gaussians practically never reach cosine 0.9
    assert all(b - a == 100 for a, b in found), found


def test_simhash_dedup_identical_exact_vs_plain(spark):
    """The duplicate-heavy skew guard (dedup_identical=True, the default)
    produces the EXACT same pair list as the plain per-row candidate join:
    duplicate groups (hamming-0 intra pairs), cross-group near pairs, and
    singletons all round-trip through the rep-level join + re-expansion."""
    rng = np.random.default_rng(11)
    rows, i = [], 0
    for h in rng.integers(-(2**62), 2**62, 12, dtype=np.int64):
        for _ in range(int(rng.integers(1, 6))):  # duplicate group
            rows.append((i, int(h)))
            i += 1
        rows.append((i, int(h) ^ (1 << int(rng.integers(0, 32)))))  # 1-bit near
        i += 1
    sh = spark.createDataFrame(rows, "id long, simhash long")
    key = ["id_a", "id_b", "hamming"]
    a = simhash_near_pairs(sh, max_hamming=8, dedup_identical=True).toPandas()
    b = simhash_near_pairs(sh, max_hamming=8, dedup_identical=False).toPandas()
    pd.testing.assert_frame_equal(
        a[key].sort_values(key).reset_index(drop=True),
        b[key].sort_values(key).reset_index(drop=True),
    )
    assert (a["hamming"] == 0).sum() > 0  # duplicate groups actually exercised


def test_simhash_duplicate_heavy_corpus_bounded(spark):
    """10k exact-duplicate docs + 5 one-bit neighbours: the candidate join
    sees ONE row per distinct hash (max PartEnum bucket load = n_distinct,
    not n_docs — the 100 TB crawl-corpus skew case), while the expanded
    output still enumerates every pair exactly:
    C(10000,2) + 10000*5 + C(5,2)."""
    from osmquadtree_bin_spark.operators.dedup import _partenum_keys

    n_dup, n_near = 10_000, 5
    h = 0x0123_4567_89AB_CDEF
    rows = [(i, h) for i in range(n_dup)] + [
        (n_dup + j, h ^ (1 << j)) for j in range(n_near)
    ]
    sh = spark.createDataFrame(rows, "id long, simhash long")

    uniq = sh.groupBy("simhash").agg(F.min("id").alias("id"))
    kdf = uniq.select(F.explode(F.array(*_partenum_keys(8))).alias("b"))
    max_bucket = kdf.groupBy("b").count().agg(F.max("count")).collect()[0][0]
    assert max_bucket <= 1 + n_near  # bounded by distinct hashes, not rows

    want = n_dup * (n_dup - 1) // 2 + n_dup * n_near + n_near * (n_near - 1) // 2
    assert simhash_near_pairs(sh, max_hamming=8).count() == want


def test_ivf_sample_hash_filter(spark):
    """r06: train_ivf_centroids on a corpus > 4x the sample budget thins
    via the deterministic multiplicative-hash range filter. Pins that (a)
    the result is partitioning-independent, and (b) the engine selected
    EXACTLY the numpy-predicted row set — training on just that predicted
    subset (which takes the unfiltered path) yields bit-identical
    centroids."""
    from osmquadtree_bin_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(5)
    n, dim, sample = 3000, 16, 500
    vecs = rng.standard_normal((n, dim))
    rows = [(int(i), vecs[i].tolist()) for i in range(n)]
    e1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    e8 = e1.repartition(8)
    c1 = train_ivf_centroids(e1, n_centroids=8, sample=sample)
    c8 = train_ivf_centroids(e8, n_centroids=8, sample=sample)
    np.testing.assert_array_equal(c1, c8)

    ids = np.arange(n, dtype=np.int64)
    thr = np.int64((4 * sample) / n * 4294967296)
    h = ((ids % np.int64(2147483648)) * np.int64(2654435761)) % np.int64(4294967296)
    keep = np.sort(ids[h < thr])[:sample]
    assert sample * 2 < len(ids[h < thr]) < sample * 8  # filter really thinned
    sub = spark.createDataFrame(
        [(int(i), vecs[i].tolist()) for i in keep],
        "vec_id long, embedding array<double>",
    )
    c_sub = train_ivf_centroids(sub, n_centroids=8, sample=sample)
    np.testing.assert_array_equal(c1, c_sub)
