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
With m=8, d=3 → C(8,5)=56 keys of 40 bits: at 10^12 rows the expected
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

_NUM_BLOCKS = 8  # m; block width = 64/m = 8 bits


def _block(col, i: int):
    """Extract 8-bit block i of a 64-bit long, JVM-side."""
    return F.shiftrightunsigned(col, i * 8).bitwiseAND(F.lit(0xFF))


# Above this row count the d+1-chunk scheme's 2^16-ary buckets get too
# fat (n / 2^16 expected members per bucket) and the C(m, m-d) wide-key
# scheme pays for its 14x key volume with near-empty buckets.
_CHUNK_SCHEME_MAX_ROWS = 10_000_000


def hamming_block_keys(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    hash_col: str = "phash",
    scheme: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash, _vhash): pigeonhole keys for Hamming ≤ d.

    Two EXACT keying schemes (identical no-false-negative guarantee,
    different bucket geometry — a size-based physical plan choice like
    a Catalyst CBO pick):

    - ``chunk4``  (d+1 contiguous chunks of 64/(d+1) bits): d bit
      errors can touch at most d chunks, so ≥1 chunk matches.  Only
      d+1 keys per row, but each key space is 2^(64/(d+1)) — fat
      buckets once n outgrows it.  Right below ~10^7 rows.
    - ``combo56`` (C(m, m-d) combinations of m-d of m=8 byte blocks):
      any ≤d pair agrees on ≥ m-d whole blocks.  56 keys per row of
      ~40 bits each — tiny buckets at 10^12 rows; the web-scale plan.

    ``auto`` picks by ``n_rows`` (counted from df if not given —
    callers holding a cached input should pass it).
    """
    d = cfg.hamming_threshold
    if scheme == "auto":
        if n_rows is None:
            n_rows = df.count()
        scheme = "chunk4" if n_rows <= _CHUNK_SCHEME_MAX_ROWS else "combo56"

    if scheme == "chunk4":
        nc = cfg.simhash_chunks
        if nc < d + 1:
            raise ValueError(
                f"simhash_chunks={nc} breaks the pigeonhole guarantee for "
                f"hamming_threshold={d} (need >= d+1 chunks)"
            )
        width = 64 // nc
        pre = df.select(
            F.col(id_col).alias("id"),
            F.col(hash_col).alias("_vhash"),
        )
        chunks = []
        for ci in range(nc):
            w = width if ci < nc - 1 else 64 - width * (nc - 1)
            val = F.shiftrightunsigned(F.col("_vhash"), ci * width).bitwiseAND(
                F.lit((1 << w) - 1)
            )
            chunks.append(F.xxhash64(F.lit(ci), val))
        return pre.select(
            "id", F.posexplode(F.array(*chunks)).alias("band_idx", "band_hash"),
            "_vhash",
        )

    m = _NUM_BLOCKS
    q = m - d
    combos = list(combinations(range(m), q))
    # Two-step select: materialize the 8 block columns once, then hash
    # each combination with ONE variadic xxhash64 — keeps the codegen
    # tree ~10x smaller than inlining a shift/mask chain per combo.
    # Also prune to (id, hash) FIRST: never drag the image `bytes`
    # column through a 56-way explode.
    blocks = df.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("_vhash"),  # full phash drives value collapse
        *[_block(F.col(hash_col), i).alias(f"_b{i}") for i in range(m)],
    )
    cols = [
        F.xxhash64(F.lit(ci), *[F.col(f"_b{bi}") for bi in combo])
        for ci, combo in enumerate(combos)
    ]
    return blocks.select(
        "id", F.posexplode(F.array(*cols)).alias("band_idx", "band_hash"), "_vhash"
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
    scheme: str = "auto",
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
    keys = hamming_block_keys(df, cfg, id_col, hash_col, scheme, n_rows)
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
