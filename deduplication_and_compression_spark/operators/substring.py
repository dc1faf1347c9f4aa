"""Exact-substring tier (SURVEY.md §7 step 5).

(a, b) pairs whose captions share a verbatim run of ≥ L characters.

Stage 1 (candidate gen, distributed): every row emits its winnowed
fingerprint values (≈ len/w per row, NOT one per position — this is
what keeps the fingerprint table ~1/8 the size of full L-gram
explosion at 10^12 rows); shuffle on the fingerprint; bucket →
candidate pairs via the shared skew-aware generator.

Stage 2 (verify, Arrow-batched): shared-L-gram check (⟺ exact LCS ≥ L)
over the whole batch in one lexsort — zero per-pair Python; winnowing
guarantees zero false negatives, this stage removes the false
positives (shared g-gram shorter than L).  The per-pair suffix-array +
Kasai LCS kernel lives on in functions/text.py as the test oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions import hashing as H
from ..functions.hashing import u64_to_i64
from ..functions.text import winnow_fingerprints
from .minhash_lsh import candidate_pairs_from_buckets, verify_text_pairs


def winnow_keys(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
) -> DataFrame:
    """(id, band_idx=0, band_hash=fingerprint) exploded fingerprint table."""
    L = cfg.min_substring_len

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _fp(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [u64_to_i64(winnow_fingerprints(t or "", L)).tolist() for t in texts]
        )

    # full-text hash: identical captions collapse to one rep in hot
    # fingerprint buckets (boilerplate floods stay exact).  Materialized
    # pre-explode — Generate re-evaluates sibling expressions per
    # output row (see band_keys).
    pre = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_txt"),
        F.xxhash64(F.col(text_col)).alias("_vhash"),
    )
    return pre.select(
        "id",
        F.lit(0).alias("band_idx"),
        F.explode(_fp(F.col("_txt"))).alias("band_hash"),
        "_vhash",
    )


def verify_substring(
    candidates: DataFrame,
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
) -> DataFrame:
    """Keep candidate pairs whose sides share a verbatim run of ≥ L
    UTF-8 BYTES.

    Semantics are BYTE k-grams, not character k-grams (ADVICE r3): on
    non-ASCII text a shared 32-byte run may span fewer than 32 code
    points, so this keeps some pairs the old per-character LCS kernel
    would have dropped.  L counts bytes everywhere in this tier — the
    winnowing fingerprints (functions/text.py:winnow_fingerprints)
    hash byte windows of the UTF-8 encoding too, so candidate gen and
    verify agree; only the suffix-array TEST oracle
    (functions/text.py:lcs_length) is character-based, and the tests
    pin ASCII fixtures where the two coincide.

    LCS ≥ L ⟺ the two sides share at least one byte L-gram, so the
    whole Arrow batch is verified with ONE lexsort over L-gram hashes
    (functions/hashing.py:shared_kgram_batch) inside the shared text
    verify (verify_text_pairs) — no per-pair Python.  The exact-LCS
    suffix-array + Kasai kernel survives as the brute-force test
    oracle; the keep/drop decision is identical on ASCII
    (2^-64-per-gram-pair hash-collision caveat, same class as the
    value-collapse caveat).
    """
    L = cfg.min_substring_len

    def score(texts_a, texts_b):
        return H.shared_kgram_batch(texts_a, texts_b, L), None

    return verify_text_pairs(candidates, df, id_col, text_col, score)


def substring_pairs(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
    keys: DataFrame | None = None,
) -> DataFrame:
    """``keys``: a precomputed winnow_keys table (e.g. a checkpoint)."""
    if keys is None:
        keys = winnow_keys(df, cfg, id_col, text_col)
    cands = candidate_pairs_from_buckets(keys, cfg, val_col="_vhash")
    return verify_substring(cands, df, cfg, id_col, text_col)
