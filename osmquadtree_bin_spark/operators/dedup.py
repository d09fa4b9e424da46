"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has none of these) — first-class engine
components per the build brief:

  * exact           — md5 hash-groupBy, keep the smallest doc_id per hash.
  * minhash LSH     — shingle → minhash (vectorized numpy, one pandas UDF) →
                      band → bucket join → candidate pairs → exact Jaccard
                      verify. Shuffle cost: one groupBy on (band, bucket)
                      instead of the quadratic all-pairs join.
  * simhash         — 64-bit simhash over token hashes, near-dup = hamming
                      distance ≤ k via band partitioning.

All hashing is deterministic across runs and executors (never relies on
PYTHONHASHSEED): word hashing uses pandas' C-level SipHash
(``pd.util.hash_array`` with its fixed default key — one vectorized call per
Arrow batch, no per-token Python), and n-gram combination is a vectorized
numpy polynomial roll over the word-hash array.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

# --------------------------------------------------------------------- exact
def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: canonical row per distinct text = min id per md5(text).
    One shuffle (groupBy hash); map-side partial agg applies."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ------------------------------------------------------------------- minhash
_MERSENNE = (1 << 61) - 1
_POLY_C = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio multiplier


def _hash_words(words: list[str]) -> np.ndarray:
    """Stable vectorized 64-bit word hashes: one C-level SipHash pass."""
    if not words:
        return np.empty(0, dtype=np.uint64)
    return pd.util.hash_array(np.asarray(words, dtype=object), categorize=False)


def _roll_ngrams(wh: np.ndarray, n: int) -> np.ndarray:
    """64-bit hashes of word n-grams from per-word hashes — a vectorized
    polynomial roll (n numpy ops total, wraparound mod 2^64)."""
    if wh.size == 0:
        return wh
    m = max(wh.size - n + 1, 1)
    width = min(n, wh.size)
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(width):
        acc = acc * _POLY_C + wh[j : j + m]
    return acc


def _hash_shingles(text: str, n: int) -> np.ndarray:
    """Stable 64-bit hashes of word n-grams (vectorized; short texts hash
    the whole word sequence as one gram)."""
    return _roll_ngrams(_hash_words(text.split()), n)


def _minhash_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig:array<long>) — signatures computed in one Arrow-batched UDF."""
    a, b = _minhash_params(num_perm)

    @pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts.fillna(""):
            h = _hash_shingles(t, shingle_n)
            if h.size == 0:
                out.append([0] * num_perm)
                continue
            # (a*h + b) mod p, min over shingles — vectorized perm × shingle
            vals = (a[:, None] * (h[None, :] % _MERSENNE) + b[:, None]) % _MERSENNE
            out.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return docs.select(F.col(id_col).alias("id"), _sig(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4, jaccard_threshold: float = 0.7
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + signature-level verify.

    Shuffle shape: explode to (band, bucket) → self-join inside buckets only.
    Estimated Jaccard = fraction of matching minhash positions.
    """
    b = (
        sigs.select(
            "id",
            "sig",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda i: F.md5(
                        F.concat_ws(
                            ",",
                            F.slice(
                                F.col("sig").cast("array<string>"),
                                i * rows_per_band + 1,
                                rows_per_band,
                            ),
                        )
                    ),
                )
            ).alias("band", "bucket"),
        )
    )
    left = b.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket")
    right = b.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket")

    # canonical emit instead of dropDuplicates (r06, guide §2.4): a pair
    # matching in several bands used to be deduped by an EXTRA full shuffle
    # of the candidate volume; instead each pair is kept only in its FIRST
    # slice-equal band (computable in codegen from the two signatures the
    # row already carries). Slice equality is the band's true match
    # condition — the md5 bucket only approximates it, so this also drops
    # the (theoretical) md5-collision candidates the bucket join admits.
    def _band_eq(j):
        return F.forall(
            F.zip_with(
                F.slice("sig_a", j * rows_per_band + 1, rows_per_band),
                F.slice("sig_b", j * rows_per_band + 1, rows_per_band),
                lambda x, y: x == y,
            ),
            lambda v: v,
        )

    first_band = (
        F.array_position(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)), lambda j: _band_eq(j)
            ),
            F.lit(True),
        )
        - 1
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("band").cast("long") == first_band)
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.size("sig_a")
    ).alias("est_jaccard")
    return cand.select("id_a", "id_b", est).filter(F.col("est_jaccard") >= jaccard_threshold)


# ------------------------------------------------------------------- simhash
def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash:long) — 64-bit simhash over stable word hashes.

    Fully batch-vectorized: all words of the Arrow batch are hashed in ONE
    SipHash call, bit tallies are segment-summed with np.add.reduceat."""

    @pandas_udf(LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        token_lists = [t.split() for t in texts.fillna("")]
        lens = np.array([len(ws) for ws in token_lists], dtype=np.int64)
        out = np.zeros(len(texts), dtype=np.int64)
        bitpos = np.arange(64, dtype=np.uint64)
        # chunk on doc boundaries so the [words, 64] tally stays < ~64 MB
        chunk_words, lo = 1 << 18, 0
        while lo < len(texts):
            hi, acc = lo, 0
            while hi < len(texts) and (acc == 0 or acc + lens[hi] <= chunk_words):
                acc += lens[hi]
                hi += 1
            cl = lens[lo:hi]
            words = [w for ws in token_lists[lo:hi] for w in ws]
            if words:
                h = _hash_words(words)  # [W] uint64
                signed = (
                    ((h[:, None] >> bitpos[None, :]) & 1).astype(np.int32) * 2 - 1
                )  # [W, 64] in {-1, +1}
                nz = cl > 0
                starts = np.concatenate([[0], np.cumsum(cl)[:-1]])[nz]
                score = np.add.reduceat(signed, starts, axis=0)  # [n_nonempty, 64]
                vals = (
                    (score > 0).astype(np.uint64) << bitpos[None, :]
                ).sum(axis=1, dtype=np.uint64)
                out[lo:hi][nz] = vals.view(np.int64)
            lo = hi
        return pd.Series(out)

    return docs.select(F.col(id_col).alias("id"), _sim(F.col(text_col)).alias("simhash"))


def _split_widths(total: int, parts: int) -> list[int]:
    """Split `total` bits into `parts` near-equal widths (remainder first)."""
    base, rem = divmod(total, parts)
    return [base + (1 if i < rem else 0) for i in range(parts)]


def _partenum_config(max_hamming: int) -> tuple[int, int, int]:
    """(B1 pieces, B2 subblocks-per-piece, k1 per-piece budget) for the
    two-level pigeonhole. Row amplification per side = B1 * C(B2, k1):
    k 4-7 → 12×, k 8 → 18×, k 9-11 → 24× (see simhash_near_pairs)."""
    if max_hamming <= 7:
        return 4, 3, 1  # pieces 16 bits, sig = 2 subblocks ≈ 10-11 bits
    if max_hamming == 8:
        return 3, 4, 2  # pieces 21-22 bits, sig = 2 subblocks ≈ 10-11 bits
    if max_hamming <= 11:
        return 4, 4, 2  # pieces 16 bits, sig = 2 subblocks = 8 bits
    raise ValueError("max_hamming > 11 unsupported (signature keys degenerate)")


def _as_i64(mask: int) -> int:
    """Unsigned 64-bit mask → signed int64 literal (bit 63 set → negative)."""
    return mask - (1 << 64) if mask >= (1 << 63) else mask


def _partenum_masks(max_hamming: int) -> list[int]:
    """Per-(piece, combo) kept-bit masks, in the SAME tag order as
    :func:`_partenum_keys`: tag t's key matches for a pair iff
    (h_a ^ h_b) & masks[t] == 0 — the codegen-side test behind the
    canonical first-match emit in simhash_near_pairs."""
    from itertools import combinations

    b1, b2, k1 = _partenum_config(max_hamming)
    piece_widths = _split_widths(64, b1)
    masks: list[int] = []
    off_p = 0
    for pw in piece_widths:
        sub_w = _split_widths(pw, b2)
        sub_off = [off_p + sum(sub_w[:j]) for j in range(b2)]
        for dirty in combinations(range(b2), k1):
            m = 0
            for j in range(b2):
                if j not in dirty:
                    m |= ((1 << sub_w[j]) - 1) << sub_off[j]
            masks.append(m)
        off_p += pw
    return masks


def _partenum_keys(max_hamming: int) -> list:
    """One JVM long expression per (piece, combo): the candidate join keys.

    Key layout: (piece_idx * n_combos + combo_idx) << 32 | signature, where
    the signature is the concatenation of the combo's B2-k1 'clean'
    subblocks of that piece. Every key is a pure shift/mask expression over
    the simhash column — whole-stage codegen, no Python."""
    from itertools import combinations

    b1, b2, k1 = _partenum_config(max_hamming)
    piece_widths = _split_widths(64, b1)
    exprs = []
    tag = 0
    off_p = 0
    for pw in piece_widths:
        sub_w = _split_widths(pw, b2)
        sub_off = [off_p + sum(sub_w[:j]) for j in range(b2)]
        for dirty in combinations(range(b2), k1):
            keep = [j for j in range(b2) if j not in dirty]
            sig = F.lit(0).cast("long")
            shift = 0
            for j in keep:
                blk = F.shiftrightunsigned(F.col("simhash"), sub_off[j]).bitwiseAND(
                    F.lit((1 << sub_w[j]) - 1)
                )
                sig = sig.bitwiseOR(F.shiftleft(blk, shift))
                shift += sub_w[j]
            exprs.append(F.shiftleft(F.lit(tag).cast("long"), 32).bitwiseOR(sig))
            tag += 1
        off_p += pw
    return exprs


def simhash_near_pairs(
    sh: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    dedup_identical: bool = True,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Exact (candidate
    generation is lossless; a bit_count verify closes it) at every supported
    k <= 11.

    * k < bands (default 4): plain banding — the 64-bit hash splits into
      `bands` pieces >= 16 bits wide; by pigeonhole a qualifying pair agrees
      exactly on some piece, so candidates come from `bands` equi-joins on
      wide keys. Amplification `bands`× per side.
    * k >= bands: two-level partition enumeration (the PartEnum scheme —
      Arasu et al., VLDB'06): a qualifying pair has some first-level piece
      with <= k1 = floor(k/B1) flipped bits; within that piece, at least
      B2-k1 of its B2 subblocks are clean, so the pair shares the key
      (piece, combo, concat of the combo's subblocks) for at least one of
      the C(B2, k1) combos. Both sides emit the SAME B1*C(B2,k1) keys (a
      symmetric JVM-side explode — 12×/18×/24× for k 4-7/8/9-11, vs the
      137-mask × 4-band ≈ 548× one-sided expansion this replaces), and the
      candidate join stays a plain equi-join.

    100 TB notes: amplification is bounded and symmetric; signature keys are
    ~8-11 bits per (piece, combo) tag, so bucket load within one tag is
    ~n/2^sig. ``dedup_identical`` (default ON) is the duplicate-heavy-corpus
    skew guard: the candidate join runs over ONE representative per DISTINCT
    simhash (exact duplicates share every key, so a hot hash would otherwise
    put its whole group in every bucket and the join goes quadratic); member
    pairs are re-expanded afterwards — cross-hash pairs by joining members
    back on each side's hash, same-hash pairs (hamming 0) by a per-hash
    self-join whose size equals the OUTPUT size, i.e. irreducible."""
    if bands < 1 or 64 // bands < 16:
        raise ValueError("bands must keep pieces >= 16 bits (bands <= 4)")
    if max_hamming >= bands:
        _partenum_config(max_hamming)  # validate the radius before touching sh
    src = (
        sh.groupBy("simhash").agg(F.min("id").alias("id"))
        if dedup_identical
        else sh
    )
    # Canonical emit (r06, guide §2.4): a qualifying pair shares MULTIPLE
    # join keys; instead of deduping with an extra full shuffle of the
    # candidate volume (dropDuplicates), each pair is emitted only by its
    # FIRST matching key — decidable in codegen from h_a^h_b, because a key
    # matches iff the pair's xor has no bit inside that key's kept-bit
    # mask. Exactly one joined row per pair survives; the pair set is
    # unchanged (pinned by the q29/q29b oracles and the property tests).
    xor = F.col("h_a").bitwiseXOR(F.col("h_b"))
    if max_hamming < bands:
        width = 64 // bands
        out = None
        for i in range(bands):
            band = F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            l = src.select(
                F.col("id").alias("id_a"), F.col("simhash").alias("h_a"), band.alias("b")
            )
            r = src.select(
                F.col("id").alias("id_b"), F.col("simhash").alias("h_b"), band.alias("b")
            )
            j = l.join(r, "b").filter(F.col("id_a") < F.col("id_b")).drop("b")
            # first-match emit: no band below i may also match
            for jj in range(i):
                m = ((1 << width) - 1) << (jj * width)
                j = j.filter(xor.bitwiseAND(F.lit(_as_i64(m))) != 0)
            out = j if out is None else out.unionByName(j)
    else:
        keys = _partenum_keys(max_hamming)
        masks = _partenum_masks(max_hamming)
        kdf = src.select(
            "id", "simhash", F.explode(F.array(*keys)).alias("b")
        )
        l = kdf.select(
            F.col("id").alias("id_a"), F.col("simhash").alias("h_a"), "b"
        )
        r = kdf.select(
            F.col("id").alias("id_b"), F.col("simhash").alias("h_b"), "b"
        )
        first_tag = (
            F.array_position(
                F.transform(
                    F.array(*[F.lit(_as_i64(m)).cast("long") for m in masks]),
                    lambda m: xor.bitwiseAND(m) == 0,
                ),
                F.lit(True),
            )
            - 1
        )
        out = (
            l.join(r, "b")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.shiftrightunsigned(F.col("b"), 32) == first_tag)
            .drop("b")
        )
    ham = F.bit_count(xor)
    rep = out.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming)
    if not dedup_identical:
        return rep.select("id_a", "id_b", "hamming")
    # re-expand representative pairs to member pairs
    members = sh.select("id", "simhash")
    cross = (
        rep.select("h_a", "h_b", "hamming")
        .join(
            members.select(F.col("simhash").alias("h_a"), F.col("id").alias("ia")),
            "h_a",
        )
        .join(
            members.select(F.col("simhash").alias("h_b"), F.col("id").alias("ib")),
            "h_b",
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        members.select("simhash", F.col("id").alias("id_a"))
        .join(members.select("simhash", F.col("id").alias("id_b")), "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("integer").alias("hamming"))
    )
    return cross.unionByName(intra)

