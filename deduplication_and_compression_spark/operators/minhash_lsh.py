"""MinHash-over-shingles + LSH banding tier (SURVEY.md §7 step 3).

Replaces the reference's chunk→SHA-256→table-lookup loop
(/root/reference/App/Host.cpp:254-340 chunking,
/root/reference/Dedup/Dedup.cpp:10-29 lookup) for the NEAR-duplicate
case the reference cannot express: captions that are similar but not
byte-identical.

Dataflow (all sizes are per 10^12-row scale reasoning):
  1. signatures   narrow; one Arrow-batched pandas UDF, numpy inside
                  (zero per-row Python) → array<long>[num_perm] PLUS
                  the per-band bucket keys (functions/hashing.py:
                  band_hashes — poly-fold + splitmix64), computed in
                  the SAME Arrow batch: zero extra Python hop, and the
                  band hash is public arithmetic an external engine
                  (the DuckDB oracle) can replicate bit-for-bit
  2. band keys    narrow; posexplode of the precomputed bands column
  3. bucketing    wide; one shuffle on (band_idx, band_hash), sorted
                  within partitions: each bucket is one contiguous run
  4. pair-gen     skew-aware numpy pass over the runs: identical-
                  payload members collapse to a min-id representative
                  first (the exact-dup flood — THE hot-bucket case at
                  web scale — becomes O(k) star edges that verification
                  can never sever), then all-pairs / star-over-reps by
                  DISTINCT-payload bucket size
  5. verify       candidates joined back to captions; TRUE shingle
                  Jaccard computed in an Arrow-batched UDF; edge iff
                  J ≥ cfg.jaccard_threshold (false positives from LSH
                  are dropped here, per FIXTURES.md invariant)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions import hashing as H
from ..persistence import scoped_persist

# Test instrumentation: a SparkContext accumulator set here BEFORE a
# plan is built (signer captures it) counts every signed row, so tests
# can prove cache reuse (the screen signs its reference once per
# session, not once per micro-batch).  None in production.
SIG_ROWS_ACCUMULATOR = None


def minhash_signatures(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, sig: array<long>[num_perm],
    bands: array<long>[lsh_bands]) — one vectorized UDF pass.

    ``keep_cols`` ride through the projection (the screen keeps its
    captions this way).

    The band bucket keys ride along in the same Arrow batch as the
    signature: band b = splitmix64(FNV-fold of lanes b*r..b*r+r-1)
    (functions/hashing.py:band_hashes).  Public wrapping-u64
    arithmetic, so the DuckDB driver oracle replicates it exactly
    (the earlier Spark-internal ``xxhash64(array<long>)`` band key was
    the one thing that kept minhash_pairs_docs rows-only in r2).

    Physical shape: ONE mapInPandas node, not a struct-returning
    pandas_udf.  With the struct UDF, a downstream filter on
    ``sig[0]`` (the sentinel check every consumer does) was split by
    ExtractPythonUDFs into its OWN ArrowEvalPython — the signature
    kernel ran 2-3× per row in any non-checkpointed consumer (found
    instrumenting the r4 streaming screen).  A mapInPandas node is a
    physical operator, not an expression: filters sit above it and can
    never re-instantiate the kernel, so it executes exactly once per
    row regardless of consumer shape."""
    sign = signer(cfg)
    src = df.select(
        F.col(id_col).alias("id"), *keep_cols, F.col(text_col).alias("_mh_txt")
    )
    out_schema = T.StructType(
        [f for f in src.schema.fields if f.name != "_mh_txt"]
        + [
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("bands", T.ArrayType(T.LongType())),
        ]
    )

    def _gen(batches):
        for pdf in batches:
            sig, bands = sign(pdf["_mh_txt"])
            out = pdf.drop(columns=["_mh_txt"])
            out["sig"] = list(sig)
            out["bands"] = list(bands)
            yield out

    return src.mapInPandas(_gen, out_schema)


def signer(cfg: DedupConfig = DEFAULT_CONFIG):
    """The signing body of minhash_signatures and the screen's probe:
    texts (pandas, null → "") → int64 (signature, band hash) matrices;
    no shingles → the sentinel, -1 in every lane."""
    k = cfg.shingle_k
    seeds = H.make_seeds(cfg.num_perm, cfg.minhash_seed)
    n_bands, n_rows = cfg.lsh_bands, cfg.lsh_rows
    acc = SIG_ROWS_ACCUMULATOR

    def sign(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        if acc is not None:
            acc.add(len(texts))
        mat = H.minhash_signatures_batch(texts.fillna("").tolist(), k, seeds)
        return H.u64_to_i64(mat), H.u64_to_i64(H.band_hashes(mat, n_bands, n_rows))

    return sign


def band_keys(sig_df: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(id, band_idx, band_hash) — posexplode of the precomputed
    public band hashes (see minhash_signatures).

    Rows with no shingles (null/empty/shorter-than-k captions) carry
    the all-max sentinel signature (-1 in every int64 lane): they have
    no caption evidence and must NOT band together — at web scale the
    empty-caption flood would otherwise form one giant bogus bucket.

    _vhash (hash of the FULL signature) drives the value collapse in
    candidate_pairs_from_buckets: identical signatures in a hot bucket
    collapse to one representative.  It is materialized in a select
    BEFORE the explode: Spark's Generate re-evaluates sibling
    non-attribute expressions per OUTPUT row, so an inline
    xxhash64(sig) would hash the 128-lane array once per band
    (measured 40x slower on this stage).
    """
    pre = sig_df.filter(F.col("sig")[0] != F.lit(-1)).select(
        "id", "bands", F.xxhash64("sig").alias("_vhash")
    )
    return pre.select(
        "id", "_vhash", F.posexplode("bands").alias("band_idx", "band_hash")
    )


def candidate_pairs_from_buckets(
    bucketed: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    val_col: str | None = None,
) -> DataFrame:
    """Skew-aware bucket → candidate (a, b) pairs, a < b in the input id
    type; shared by the LSH, SimHash and substring tiers.

    ``bucketed`` holds (id, band_idx, band_hash[, val_col]); the bucket
    key is (band_idx, band_hash) in every tier.
    One hash exchange on the bucket key, sortWithinPartitions(key, val),
    ONE mapInPandas walking the sorted key runs in numpy, one (a, b)
    dropDuplicates: a bucket lands whole in one task, and each Arrow
    batch's trailing key run waits for the next batch, so no bucket is
    split across kernel calls.  Ids compare as ranks from one np.unique
    per batch, never pair by pair in Python.

    Step 1 — VALUE COLLAPSE (when ``val_col`` names a full-payload hash
    column, e.g. the phash itself or xxhash64 of the signature/text):
    members of a bucket with identical payloads are collapsed to their
    min-id representative, emitting (rep, member) star edges.  Those
    edges are verify-trivial — identical payloads have distance 0 /
    Jaccard 1 — so downstream verification can NEVER sever them.  This
    is what makes the web-scale hot-bucket case (an exact-dup flood:
    flat images, boilerplate captions) EXACT instead of approximate:
    the flood collapses to a handful of representatives.

    Collision caveat: when ``val_col`` is a 64-bit HASH of the payload
    (the minhash tier hashes the 128-lane signature; the phash tier
    groups on the raw phash), two distinct payloads in a bucket collide
    with probability 2^-64 per pair, and the merged group's star edge
    can fail verification and sever the non-rep member.  At 10^12 rows
    the expected number of such events stays ≪ 1 while per-bucket
    distinct payloads ≤ ~10^6 (birthday bound ~k²/2^64 per bucket).
    Group on the raw payload where it is ≤ 8 bytes; hash proxies are
    for wide payloads only.

    Step 2 — over a bucket's k representatives: all pairs when k ≤ hot
    (hot = 16 · hot_bucket_threshold with the collapse: ≤ ~0.5M pairs
    per bucket, floods having collapsed away), else a star around the
    bucket's min rep, O(k) instead of O(k²).

    Exactness: any true pair (x, y) sharing a bucket is connected
    through emitted verified edges — x–rep(x) and y–rep(y) at distance
    0, and (rep(x), rep(y)) has the same distance as (x, y) so it
    verifies whenever (x, y) would — PROVIDED the bucket holds at most
    ``16 * hot_bucket_threshold`` DISTINCT payload values.  Beyond that the
    star-over-reps regime is a documented approximation: an edge
    (min-rep, r) with distance > threshold is dropped by verification
    and can sever r's members from the bucket's component.  Without
    ``val_col`` every member is a rep and hot = hot_bucket_threshold
    (approximate for ANY hot bucket).  The pair set equals the oracle's
    grp/intra/allp/star CTEs (__spark_entry__._minhash_oracle_sql);
    key and value columns must be non-null (every tier keys on hashes)."""
    key_cols = ("band_idx", "band_hash")
    hot = cfg.hot_bucket_threshold * (16 if val_col is not None else 1)
    sort_cols = [*key_cols, *([val_col] if val_col is not None else [])]
    id_type = dict(bucketed.dtypes)["id"]

    def emit(frames):
        pdf = pd.concat(frames, ignore_index=True)
        ids, rank = np.unique(pdf["id"].to_numpy(), return_inverse=True)
        val = pdf[val_col].to_numpy() if val_col is not None else None
        for a, b in _bucket_pair_ranks(_run_starts(pdf, key_cols), val, rank, hot):
            if len(a):
                yield pd.DataFrame({"a": ids[a], "b": ids[b]})

    def _gen(batches):
        held = []  # the trailing key run, until a later row ends it
        for pdf in filter(len, batches):
            cut = np.flatnonzero(_run_starts(pdf, key_cols))[-1]
            if cut or held and any(
                    held[-1][c].iat[-1] != pdf[c].iat[0] for c in key_cols):
                yield from emit(held + [pdf.iloc[:cut]])
                held = []
            held.append(pdf.iloc[cut:])
        if held:
            yield from emit(held)

    return (
        bucketed.select(*sort_cols, "id")
        .repartition(*key_cols)
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(_gen, f"a {id_type}, b {id_type}")
        .dropDuplicates(["a", "b"])
    )


# pairs per kernel output frame: one batch of medium buckets (a
# 1024-rep bucket alone is 523k pairs) never becomes one huge frame
_PAIR_CHUNK = 1 << 20


def _run_starts(pdf, cols) -> np.ndarray:
    """Mask of the rows of a non-empty ``pdf`` that start a run of ``cols``."""
    v = [pdf[c].to_numpy() for c in cols]
    return np.r_[True, np.any([x[1:] != x[:-1] for x in v], axis=0)]


def _bucket_pair_ranks(new_bucket, val, rank, hot):
    """Yield (a, b) id-rank arrays with a < b for rows sorted by
    (bucket key, val): ``new_bucket`` marks each bucket's first row.
    See candidate_pairs_from_buckets for the regimes."""
    rep, rep_new = rank, new_bucket
    if val is not None:
        new_grp = new_bucket | np.r_[False, val[1:] != val[:-1]]
        start = np.flatnonzero(new_grp)
        rep = np.minimum.reduceat(rank, start)  # min id of each value run
        member_rep = rep[np.cumsum(new_grp) - 1]
        star = rank != member_rep
        yield member_rep[star], rank[star]
        rep_new = new_bucket[start]
    start = np.flatnonzero(rep_new)
    size = np.diff(np.append(start, len(rep)))
    for k in np.unique(size[size > 1]):
        first = start[size == k]
        if k > hot:  # star around each bucket's min rep
            seg = rep[first[:, None] + np.arange(k)]
            hub = np.broadcast_to(seg.min(axis=1, keepdims=True), seg.shape)
            yield hub[seg != hub], seg[seg != hub]
            continue
        i, j = np.triu_indices(k, 1)
        for part in np.array_split(first, -(-len(first) * len(i) // _PAIR_CHUNK)):
            x, y = rep[part[:, None] + i], rep[part[:, None] + j]
            keep = x != y
            yield np.minimum(x, y)[keep], np.maximum(x, y)[keep]


# candidate rows per Python-verify task: small enough that a bench-
# scale candidate set still fans across every core, large enough that
# a tiny set stays on one or two workers.  Every Python task pays a
# fixed cost before its first row: on Python < 3.12 the worker's
# per-task importlib.invalidate_caches() re-parsed the pyspark.zip
# directory once per zip sub-package importer, about 0.2 CPU-s per
# task on a 4-vCPU host (pydaemon.py skips the re-read while the zip
# is unchanged), plus the Arrow round trip.  The old blanket
# repartition(defaultParallelism) paid it on every core for any
# candidate count (verify_jaccard 8.1s @local[2] -> 20.4s @local[8],
# VERDICT r2 "what's wrong" #3 — MORE cores made it SLOWER).
_VERIFY_ROWS_PER_TASK = 2048


def sized_fanout(joined: DataFrame, n_rows: int) -> DataFrame:
    """Repartition a pre-UDF join output to ceil(n_rows/_VERIFY_ROWS_PER_TASK)
    partitions, capped at defaultParallelism — the Python stage uses
    every core only when there is enough work to feed every core."""
    par = joined.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(par, -(-n_rows // _VERIFY_ROWS_PER_TASK)))
    return joined.repartition(parts)


def verify_text_pairs(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    score,
    score_col: str | None = None,
) -> DataFrame:
    """(a, b[, score_col]) for the candidate pairs whose texts
    ``score`` keeps (_text_pairs_where): the one text verify of the
    MinHash and substring tiers.  The candidates are persisted and
    counted so the pre-UDF fan-out is sized to their actual volume,
    then each side's text joins in by one hash join."""
    texts = df.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_txt"))
    candidates = scoped_persist(candidates)
    n_candidates = candidates.count()
    joined = (
        candidates.join(texts.withColumnRenamed("_tid", "a").withColumnRenamed("_txt", "_ta"), "a")
        .join(texts.withColumnRenamed("_tid", "b").withColumnRenamed("_txt", "_tb"), "b")
    )
    return _text_pairs_where(sized_fanout(joined, n_candidates), ("a", "b"),
                             ("_ta", "_tb"), score, score_col)


def _text_pairs_where(pairs, key_cols, text_cols, score, score_col=None) -> DataFrame:
    """(*key_cols[, score_col]) for the rows of ``pairs`` kept by
    ``score(texts_a, texts_b) -> (keep, value)`` over an Arrow batch's
    two ``text_cols`` (null → ""); ``value`` fills the double
    ``score_col``.  The key columns keep their input types.

    ONE mapInPandas node scores and filters in the same Arrow batch.
    A scalar pandas_udf followed by a filter on its output ran the
    kernel TWICE per candidate: predicate pushdown copies the UDF into
    the Filter, so the executed plan held two ArrowEvalPython nodes."""
    ta, tb = text_cols
    src = pairs.select(*key_cols, *text_cols)
    fields = [src.schema[c] for c in key_cols]
    if score_col:
        fields.append(T.StructField(score_col, T.DoubleType()))

    def _gen(batches):
        for pdf in batches:
            keep, value = score(pdf[ta].fillna("").tolist(), pdf[tb].fillna("").tolist())
            out = pdf.loc[keep, list(key_cols)]
            yield out.assign(**{score_col: value[keep]}) if score_col else out

    return src.mapInPandas(_gen, T.StructType(fields))


def _jaccard_score(cfg: DedupConfig):
    def score(texts_a, texts_b):
        jac = H.jaccard_batch(texts_a, texts_b, cfg.shingle_k)
        return jac >= cfg.jaccard_threshold, jac

    return score


def verify_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs whose TRUE k-shingle
    Jaccard is ≥ cfg.jaccard_threshold (verify_text_pairs)."""
    return verify_text_pairs(candidates, df, id_col, text_col,
                             _jaccard_score(cfg), "jaccard")


def jaccard_at_least(
    pairs: DataFrame,
    key_cols: tuple[str, str],
    text_cols: tuple[str, str],
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(*key_cols, jaccard) for the rows of ``pairs`` whose TRUE
    k-shingle Jaccard between the two ``text_cols`` is ≥
    cfg.jaccard_threshold (hashing.jaccard_batch, one Arrow pass)."""
    return _text_pairs_where(pairs, key_cols, text_cols, _jaccard_score(cfg), "jaccard")


def minhash_pairs(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash tier: (a, b, jaccard) verified near-dup pairs.

    Pass a pre-materialized ``sigs`` (e.g. a checkpoint table) to avoid
    recomputing the signature UDF in each branch that reads it — the
    banding and both sides of the estimate filter; an un-materialized
    UDF upstream would run three times.
    """
    if sigs is None:
        sigs = scoped_persist(minhash_signatures(df, cfg, id_col, text_col))
    buckets = band_keys(sigs, cfg)
    cands = candidate_pairs_from_buckets(buckets, cfg, val_col="_vhash")
    cands = estimate_filter(cands, sigs, cfg)
    return verify_jaccard(cands, df, cfg, id_col, text_col)


def estimate_at_least(sig_a: str, sig_b: str,
                      cfg: DedupConfig = DEFAULT_CONFIG) -> Column:
    """Whether two signature columns' lane agreement (the MinHash
    Jaccard estimator) is ≥ threshold − 3σ.  The 3σ slack keeps the
    false-negative probability per true pair < 0.2% at J == threshold
    (and ~0 for pairs planted at plant_jaccard), preserving the ≥0.99
    recall budget.  Whole-stage-codegen arithmetic over the two arrays.

    NOTE (r7): an Arrow-kernel variant was measured SLOWER than this JVM
    fold, because two 128-lane arrays crossed the Python boundary per
    pair.  The screen's probe, where neither side crosses it, counts
    in numpy (estimate_passes)."""
    est = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(cfg.num_perm))
    return est >= F.lit(_estimate_floor(cfg))


# pairs per estimate_passes step: two gathered 16 MB signature blocks
_ESTIMATE_CHUNK = 1 << 14


def estimate_passes(sig_a: np.ndarray, a: np.ndarray, sig_b: np.ndarray,
                    b: np.ndarray, cfg: DedupConfig = DEFAULT_CONFIG) -> np.ndarray:
    """numpy twin of estimate_at_least for the signature row pairs
    (sig_a[a], sig_b[b]), bit-equal to it: the agreeing-lane count as
    float64 over float(num_perm), against the same threshold − 3σ
    double.  Rows are gathered _ESTIMATE_CHUNK pairs at a time."""
    agree = np.concatenate([np.zeros(0, np.int64)] + [
        (sig_a[a[i:i + _ESTIMATE_CHUNK]] == sig_b[b[i:i + _ESTIMATE_CHUNK]]).sum(axis=1)
        for i in range(0, len(a), _ESTIMATE_CHUNK)])
    return agree.astype(np.float64) / float(cfg.num_perm) >= _estimate_floor(cfg)


def _estimate_floor(cfg: DedupConfig) -> float:
    t = cfg.jaccard_threshold
    return t - 3.0 * (t * (1.0 - t) / cfg.num_perm) ** 0.5


def estimate_filter(
    candidates: DataFrame, sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """JVM-side prefilter between LSH candidate generation and exact
    verification: keep pairs that pass ``estimate_at_least``.

    On densely-similar corpora LSH emits millions of mid-similarity
    candidates; running the exact-Jaccard Python UDF on all of them is
    the bottleneck.  The estimator is whole-stage-codegen arithmetic
    over the two signature arrays, so this stage costs one join +
    vectorized compare, and only near-threshold survivors reach
    Python.
    """
    s = sigs.select(F.col("id"), F.col("sig"))
    joined = (
        candidates.join(s.withColumnRenamed("id", "a").withColumnRenamed("sig", "_sa"), "a")
        .join(s.withColumnRenamed("id", "b").withColumnRenamed("sig", "_sb"), "b")
    )
    return joined.where(estimate_at_least("_sa", "_sb", cfg)).select("a", "b")
