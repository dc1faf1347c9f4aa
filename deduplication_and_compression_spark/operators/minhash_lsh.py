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
  3. bucketing    wide; shuffle on (band_idx, band_hash) carrying only
                  (id, key) pairs
  4. pair-gen     skew-aware: identical-payload members collapse to a
                  min-id representative first (the exact-dup flood —
                  THE hot-bucket case at web scale — becomes O(k) star
                  edges that verification can never sever), then
                  all-pairs / salted all-pairs / star-over-reps by
                  DISTINCT-payload bucket size
  5. verify       candidates joined back to captions; TRUE shingle
                  Jaccard computed in an Arrow-batched UDF; edge iff
                  J ≥ cfg.jaccard_threshold (false positives from LSH
                  are dropped here, per FIXTURES.md invariant)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions import hashing as H
from ..persistence import scoped_persist

# Test instrumentation: when set to a SparkContext accumulator BEFORE a
# plan is built, every signature-UDF execution adds its batch row
# count.  Lets tests prove cache-reuse properties (e.g. the streaming
# screen's static side computes reference signatures exactly once per
# session, not once per micro-batch).  None in production — the check
# is a no-op captured at UDF definition time.
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

    ``keep_cols`` ride through the projection — the streaming screen
    uses it to retain the caption without a (stream-stream) re-join.

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
    k = cfg.shingle_k
    seeds = H.make_seeds(cfg.num_perm, cfg.minhash_seed)
    n_bands, n_rows = cfg.lsh_bands, cfg.lsh_rows
    acc = SIG_ROWS_ACCUMULATOR

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
            if acc is not None:
                acc.add(len(pdf))
            mat = H.minhash_signatures_batch(
                pdf["_mh_txt"].fillna("").tolist(), k, seeds
            )
            bh = H.band_hashes(mat, n_bands, n_rows)
            out = pdf.drop(columns=["_mh_txt"])
            out["sig"] = list(H.u64_to_i64(mat))
            out["bands"] = list(H.u64_to_i64(bh))
            yield out

    return src.mapInPandas(_gen, out_schema)


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
    key_cols: tuple[str, ...] = ("band_idx", "band_hash"),
    val_col: str | None = None,
) -> DataFrame:
    """Generic skew-aware bucket → candidate (a,b) pair generation.

    Used by the LSH, SimHash and substring tiers.

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
    rather than the payload itself (the minhash tier hashes the
    128-lane signature; the phash tier groups on the raw 64-bit phash,
    no proxy), two distinct payloads sharing a bucket collide with
    probability 2^-64 per pair, in which case the merged group's star
    edge can fail verification and sever the non-rep member.  The
    "exact" claim is therefore collision-probabilistic: at 10^12 rows
    the expected number of such events across all buckets stays ≪ 1
    as long as per-bucket distinct payloads ≤ ~10^6 (birthday bound
    ~k²/2^64 per bucket).  Group on the raw payload column where it is
    bucket-shuffle-affordable (≤ 8 bytes); hash proxies are for wide
    payloads only.

    Step 2 — three regimes over the (collapsed) representatives, by
    distinct-value bucket size k (north_rule: "salted-shuffle
    candidate-pair generation ... skew handled explicitly"):

      k ≤ salt_floor            plain self-join on the bucket key —
                                 uniform small buckets, no skew
      salt_floor < k ≤ hot      SALTED self-join: the left side gets
                                 salt = xxhash64(id) % s, the right
                                 side is exploded to every salt value,
                                 so one medium-hot bucket fans out to s
                                 shuffle partitions instead of one
                                 straggler task (s = cfg.salt_buckets);
                                 every pair still appears exactly once
      k > hot                    star pairs around the bucket's min rep:
                                 O(k) instead of O(k²)

    Exactness: any true pair (x, y) sharing a bucket is connected
    through emitted verified edges — x–rep(x) and y–rep(y) at distance
    0, and (rep(x), rep(y)) has the same distance as (x, y) so it
    verifies whenever (x, y) would — PROVIDED the bucket holds at most
    ``16 * hot_bucket_threshold`` DISTINCT payload values.  Beyond that the
    star-over-reps regime is a documented approximation: an edge
    (min-rep, r) with distance > threshold is dropped by verification
    and can sever r's members from the bucket's component.  Without
    ``val_col`` the collapse is skipped and the regimes apply to raw
    members (the pre-collapse behavior — approximate for ANY hot
    bucket, not just payload-diverse ones).

    AQE skew-join mops up residual imbalance in the size-tag join.
    """
    keys = [F.col(c) for c in key_cols]

    if val_col is not None:
        # collapse via groupBy, NOT a window: the partial (map-side)
        # aggregation shrinks an exact-dup flood BEFORE it shuffles —
        # a window sort would shuffle every member row.  The group
        # table is tiny on flood-heavy data, so Catalyst/AQE turns the
        # member-tag join into a broadcast; persist() because intra
        # and the three regimes both consume it.
        grp = scoped_persist(
            bucketed.groupBy(*key_cols, val_col)
            .agg(F.min("id").alias("_rep"), F.count(F.lit(1)).alias("_gsz"))
        )
        # star edges inside each identical-payload group (rep = min id,
        # so rep < id always: pairs are already (a<b)-normalized); only
        # multi-member groups need their members tagged at all
        multi = grp.filter(F.col("_gsz") > 1).select(*key_cols, val_col, "_rep")
        intra = (
            bucketed.join(multi, list(key_cols) + [val_col])
            .where(F.col("id") != F.col("_rep"))
            .select(F.col("_rep").alias("a"), F.col("id").alias("b"))
        )
        reps = grp.select(*key_cols, F.col("_rep").alias("id"))
    else:
        intra = None
        reps = bucketed.select(*key_cols, "id")

    sizes = reps.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_bsz"), F.min("id").alias("_bmin")
    ).filter(F.col("_bsz") > 1)

    tagged = reps.join(sizes, list(key_cols))
    salt_floor = max(2, cfg.hot_bucket_threshold // 4)
    s = cfg.salt_buckets
    # With the collapse active, "bucket size" counts DISTINCT payloads,
    # so the star fallback can afford a much higher floor: a k-rep
    # salted all-pairs emits ≤ k²/2 bounded pairs, and real skew
    # (floods) has already collapsed away.  16x the raw threshold keeps
    # the exactness guarantee through e.g. 1024-distinct-value buckets
    # while still refusing adversarial quadratic blowups.
    hot = cfg.hot_bucket_threshold * (16 if val_col is not None else 1)

    small = tagged.filter(F.col("_bsz") <= salt_floor)
    left = small.select(*keys, F.col("id").alias("a"))
    right = small.select(*keys, F.col("id").alias("b"))
    small_pairs = left.join(right, list(key_cols)).filter(F.col("a") < F.col("b"))

    medium = tagged.filter(
        (F.col("_bsz") > salt_floor) & (F.col("_bsz") <= hot)
    )
    m_left = medium.select(
        *keys, F.col("id").alias("a"), F.pmod(F.xxhash64("id"), F.lit(s)).alias("_salt")
    )
    m_right = medium.select(
        *keys, F.col("id").alias("b"),
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(s - 1).cast("long"))).alias("_salt"),
    )
    medium_pairs = m_left.join(m_right, list(key_cols) + ["_salt"]).filter(
        F.col("a") < F.col("b")
    )

    hot_pairs = (
        tagged.filter(
            (F.col("_bsz") > hot) & (F.col("id") != F.col("_bmin"))
        )
        .select(
            F.least("id", "_bmin").alias("a"), F.greatest("id", "_bmin").alias("b")
        )
    )
    out = small_pairs.select("a", "b").union(medium_pairs.select("a", "b")).union(hot_pairs)
    if intra is not None:
        out = out.union(intra)
    return out.dropDuplicates(["a", "b"])


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


def sized_fanout(joined: DataFrame, n_rows: int, rows_per_task: int = _VERIFY_ROWS_PER_TASK) -> DataFrame:
    """Repartition a pre-UDF join output to ceil(n_rows/rows_per_task)
    partitions, capped at defaultParallelism — the Python stage uses
    every core only when there is enough work to feed every core."""
    par = joined.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(par, -(-n_rows // rows_per_task)))
    return joined.repartition(parts)


def verify_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
    n_candidates: int | None = None,
) -> DataFrame:
    """Attach TRUE k-shingle Jaccard to candidate (a,b) pairs and keep
    those ≥ cfg.jaccard_threshold.  Texts join in via two hash joins;
    the similarity itself is one Arrow-batched pass over the (small)
    candidate set (jaccard_at_least).

    The candidate set is materialized (scoped persist + count) so the
    pre-UDF fan-out is sized to the actual candidate volume — the
    count costs one pass over an already-computed small table and
    buys a Python stage whose task count matches its work.  Pass a
    precomputed ``n_candidates`` to keep plan construction action-free;
    on a STREAMING candidates frame (count() would raise) the fan-out
    is skipped entirely — micro-batches carry their own partitioning
    (ADVICE r3: plan-build must not trigger jobs it can avoid).
    """
    texts = df.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_txt"))
    if n_candidates is None and not candidates.isStreaming:
        candidates = scoped_persist(candidates)
        n_candidates = candidates.count()
    joined = (
        candidates.join(texts.withColumnRenamed("_tid", "a").withColumnRenamed("_txt", "_ta"), "a")
        .join(texts.withColumnRenamed("_tid", "b").withColumnRenamed("_txt", "_tb"), "b")
    )
    if n_candidates is not None:
        joined = sized_fanout(joined, n_candidates)
    return jaccard_at_least(joined, ("a", "b"), ("_ta", "_tb"), cfg)


def jaccard_at_least(
    pairs: DataFrame,
    key_cols: tuple[str, str],
    text_cols: tuple[str, str],
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(*key_cols, jaccard) for the rows of ``pairs`` whose TRUE
    k-shingle Jaccard between the two ``text_cols`` is ≥
    cfg.jaccard_threshold; the key columns keep their input types.

    Physical shape: ONE mapInPandas node that scores and thresholds in
    the same Arrow batch (one lexsort+bincount pass per batch, no
    per-pair Python set ops: functions/hashing.py:jaccard_batch).  A
    scalar pandas_udf followed by a filter on its output ran the
    kernel TWICE per candidate: predicate pushdown copies the UDF into
    the Filter, so the executed plan held two ArrowEvalPython nodes —
    the same bug minhash_signatures avoids the same way."""
    k, t = cfg.shingle_k, cfg.jaccard_threshold
    ta, tb = text_cols
    src = pairs.select(*key_cols, *text_cols)
    out_schema = T.StructType(
        [src.schema[c] for c in key_cols]
        + [T.StructField("jaccard", T.DoubleType())]
    )

    def _gen(batches):
        for pdf in batches:
            jac = H.jaccard_batch(
                pdf[ta].fillna("").tolist(), pdf[tb].fillna("").tolist(), k
            )
            keep = jac >= t
            yield pdf.loc[keep, list(key_cols)].assign(jaccard=jac[keep])

    return src.mapInPandas(_gen, out_schema)


def minhash_pairs(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "image_id",
    text_col: str = "caption",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash tier: (a, b, jaccard) verified near-dup pairs.

    Pass a pre-materialized ``sigs`` (e.g. a checkpoint table) to avoid
    recomputing the signature UDF in each branch of the candidate
    generator — the plan reuses the bucket table three times (size agg,
    tag join, hot filter), and an un-materialized UDF upstream would
    run three times.
    """
    if sigs is None:
        sigs = scoped_persist(minhash_signatures(df, cfg, id_col, text_col))
    buckets = band_keys(sigs, cfg)
    cands = candidate_pairs_from_buckets(buckets, cfg, val_col="_vhash")
    cands = estimate_filter(cands, sigs, cfg)
    return verify_jaccard(cands, df, cfg, id_col, text_col)


def estimate_filter(
    candidates: DataFrame, sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """JVM-side prefilter between LSH candidate generation and exact
    verification: keep pairs whose signature lane-agreement (the
    MinHash Jaccard estimator) is ≥ threshold − 3σ.

    On densely-similar corpora LSH emits millions of mid-similarity
    candidates; running the exact-Jaccard Python UDF on all of them is
    the bottleneck.  The estimator is whole-stage-codegen arithmetic
    over the two signature arrays, so this stage costs one join +
    vectorized compare, and only near-threshold survivors reach
    Python.  The 3σ slack keeps the false-negative probability per
    true pair < 0.2% at J == threshold (and ~0 for pairs planted at
    plant_jaccard), preserving the ≥0.99 recall budget.
    """
    t = cfg.jaccard_threshold
    slack = 3.0 * (t * (1.0 - t) / cfg.num_perm) ** 0.5
    s = sigs.select(F.col("id"), F.col("sig"))
    joined = (
        candidates.join(s.withColumnRenamed("id", "a").withColumnRenamed("sig", "_sa"), "a")
        .join(s.withColumnRenamed("id", "b").withColumnRenamed("sig", "_sb"), "b")
    )
    # NOTE (r7): an Arrow-kernel variant of this lane-agreement count
    # was measured SLOWER than the interpreted JVM fold here — the fold
    # costs ~13 s CPU across 32 cores (~0.4 s wall), while shipping two
    # 128-lane arrays per pair through the Python boundary added more
    # task time than it saved.  The fold stays (guide §1.2: the
    # distributed shape, not this per-task expression, bounds the wall).
    est = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(cfg.num_perm))
    return joined.where(est >= F.lit(t - slack)).select("a", "b")
