"""SimHash / phash Hamming-distance tier (SURVEY.md §7 step 4).

Finds image near-duplicates: pairs whose 64-bit perceptual hash
(``phash`` input column) differ in ≤ d bits.  The reference can only
equate byte-identical chunks (/root/reference/Dedup/Dedup.cpp:16-22);
this tier is the image analog of "similar but not identical".

Scale design — generalized pigeonhole (Manku, Jain & Sarma, WWW'07,
"Detecting Near-Duplicates for Web Crawling"): split the 64 bits into
m blocks; any pair within Hamming distance d agrees on at least
q = m - d whole blocks, so keying on every q-block combination
(C(m, q) keys of q*64/m bits each) finds all such pairs exactly.
Up to 10^7 rows m = d+1 (d+1 keys of 16 bits at d=3); above, m=8,
d=3 → C(8,5)=56 keys of 40 bits: at 10^12 rows the expected
random bucket is small, and real-world phash skew (flat images →
identical hashes) is exactly the hot-bucket case handled by
candidate_pairs_from_buckets' value collapse and star fallback, which
keep every bucket's work bounded inside the one task that holds it.

Keying and verification are JVM-side bit arithmetic; Python runs only
in the shared pair kernel and in SimHash-from-features for text.
"""

from __future__ import annotations

from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions import hashing as H
from .minhash_lsh import candidate_pairs_from_buckets

# Above this row count d+1 blocks of 64/(d+1) bits give fat buckets
# (n / 2^16 expected members per bucket at d=3), so the keys switch to
# _NUM_BLOCKS blocks of 8 bits: C(8, 8-d) keys per row of (8-d)*8 bits
# each — 14x the key volume at d=3, with near-empty buckets at 10^12 rows.
_FEW_BLOCKS_MAX_ROWS = 10_000_000
_NUM_BLOCKS = 8


def _block(col, lo: int, w: int):
    """Bits [lo, lo+w) of a 64-bit long, JVM-side."""
    return F.shiftrightunsigned(col, lo).bitwiseAND(F.lit((1 << w) - 1 if w < 64 else -1))


def hamming_block_keys(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    hash_col: str = "phash",
    n_rows: int | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash, _vhash): pigeonhole keys for Hamming ≤ d.

    The 64 bits split into m blocks (64//m bits each, the last block
    takes the remainder) and every combination of m-d blocks is one key,
    ``xxhash64(band_idx, *blocks)``: d bit errors touch at most d
    blocks, so a pair within distance d agrees on some key exactly.
    m = d+1 (d+1 one-block keys per row) unless ``n_rows`` exceeds
    10^7, where m = 8 (C(8, 8-d) keys per row) — a size-based physical
    choice like a Catalyst CBO pick, with the same no-false-negative
    guarantee either way.  Without ``n_rows`` the few-block keys are
    used, so plan build never counts ``df``.
    """
    d = cfg.hamming_threshold
    m = _NUM_BLOCKS if n_rows is not None and n_rows > _FEW_BLOCKS_MAX_ROWS else d + 1
    width = 64 // m
    # Two-step select: materialize the block columns once, then hash
    # each combination with ONE variadic xxhash64 — keeps the codegen
    # tree ~10x smaller than inlining a shift/mask chain per combo
    # (at m=8, 400k rows on 4 cores: 1.0-4.4 s vs 9.4-12.8 s; the same
    # at m=d+1).  Also prune to (id, hash) FIRST: never drag the image `bytes`
    # column through a C(m, m-d)-way explode.
    h = F.col(hash_col)
    blocks = df.select(
        F.col(id_col).alias("id"),
        h.alias("_vhash"),  # full phash drives value collapse
        *[_block(h, i * width, width if i < m - 1 else 64 - width * i).alias(f"_b{i}")
          for i in range(m)],
    )
    keys = [
        F.xxhash64(F.lit(ci), *[F.col(f"_b{bi}") for bi in combo])
        for ci, combo in enumerate(combinations(range(m), m - d))
    ]
    return blocks.select(
        "id", F.posexplode(F.array(*keys)).alias("band_idx", "band_hash"), "_vhash"
    )


def verify_hamming(
    candidates: DataFrame,
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Keep candidate (a,b) pairs with popcount(phash_a XOR phash_b) ≤ d.
    Pure JVM: bit_count is a built-in in Spark 3.5+."""
    ph = df.select(F.col(id_col).alias("_pid"), F.col(hash_col).alias("_ph"))
    joined = (
        candidates.join(ph.withColumnRenamed("_pid", "a").withColumnRenamed("_ph", "_pa"), "a")
        .join(ph.withColumnRenamed("_pid", "b").withColumnRenamed("_ph", "_pb"), "b")
    )
    return (
        joined.withColumn("hamming", F.bit_count(F.col("_pa").bitwiseXOR(F.col("_pb"))))
        .filter(F.col("hamming") <= F.lit(cfg.hamming_threshold))
        .select("a", "b", "hamming")
    )


def phash_hamming_pairs(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    hash_col: str = "phash",
    n_rows: int | None = None,
) -> DataFrame:
    """Full image tier: verified (a, b, hamming) edges with Hamming ≤ d.

    Contract: a CLUSTER-PRESERVING edge set, not the full ≤d pair
    enumeration — identical-phash groups contribute O(k) star edges
    rather than O(k²) pairs (their closure is identical, and a k-clique
    enumeration would be quadratic output at web scale).  Every true
    ≤d pair is connected through emitted verified edges: pigeonhole
    guarantees bucket sharing, and candidate_pairs_from_buckets keeps
    the bucket's pairs connected up to 16*cfg.hot_bucket_threshold
    DISTINCT phash values.  False positives pruned by verify_hamming.
    """
    keys = hamming_block_keys(df, cfg, id_col, hash_col, n_rows)
    cands = candidate_pairs_from_buckets(keys, cfg, val_col="_vhash")
    return verify_hamming(cands, df, cfg, id_col, hash_col)


def simhash_from_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash): classic Charikar SimHash over whitespace-token
    features — Arrow-batched, numpy inside, with ZERO per-row Python:
    the whole batch's tokens are hashed in one padded-matrix polynomial
    fold and the bit-vote sums come from one unpackbits+reduceat pass
    (functions/hashing.py:simhash_batch)."""

    @F.pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series(
            H.simhash_batch(texts.fillna("").tolist()), dtype="int64"
        )

    return df.select(F.col(id_col).alias("id"), _sh(F.col(text_col)).alias("simhash"))
