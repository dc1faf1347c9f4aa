"""Document-table text operators: the training-data-pipeline ops
(dedup variants, token counting, quality scoring, language ID,
fingerprinting, n-gram similarity) expressed as pure DataFrame plans —
all but one stay inside whole-stage codegen (no Python UDFs), so
filters and projections push down to the parquet scan.  The exception
is the exact Jaccard's direct counting kernel, a numpy mapInPandas
over a broadcast incidence.

Exact bigram Jaccard has one definition — Jaccard over each doc_id's
DISTINCT non-null bigram set, the oracle's — and one entry,
bigram_jaccard_pairs_auto (also named bigram_jaccard_pairs_allpairs),
whose only plan choice is the broadcast gate: the direct kernel while
the incidence fits the broadcast threshold, the prefix-filtered PPJoin
plan (bigram_jaccard_pairs, also callable on its own) above it.  A
doc_id spread over several rows (one row per paragraph) is one set.

Each operator has a matching ANSI-SQL oracle in __spark_entry__.py;
column names and arithmetic ORDER are kept identical on both sides so
the driver's value-hash comparison is bit-stable (ratios are floored
to basis points rather than rounded, dodging round-half divergence
between engines).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..persistence import scoped_broadcast, scoped_persist
from ..session import broadcast_threshold
from .components import PY_ORDERED_ID_TYPES

STOPWORDS = ("a", "the", "of", "and", "to", "in", "is")


def _tokens(text_col: str = "text"):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def exact_dedup_docs(df: DataFrame) -> DataFrame:
    """(doc_id, content_hash, rep_id, is_duplicate): md5-exact dedup,
    representative = min doc_id per hash group (the reference's
    first-occurrence rule, /root/reference/Dedup/Dedup.cpp:10-29).

    Shape: partial-agg groupBy + join-back (the operators/exact.py
    pattern), NOT a window — min-over-window sorts every row within
    each hash group, while the groupBy pre-combines map-side so the
    shuffle carries one record per (partition, hash) and the join-back
    is a hash join (VERDICT r3 "what's wrong" #2)."""
    hashed = df.select(F.col("doc_id"), F.md5(F.col("text")).alias("content_hash"))
    reps = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("rep_id"))
    # null-safe join: md5(NULL) is NULL, and both groupBy and the SQL
    # window oracle group the null-hash rows together — a plain equi-
    # join would silently DROP them (r4 code-review finding)
    return (
        hashed.alias("h")
        .join(
            reps.alias("r"),
            F.col("h.content_hash").eqNullSafe(F.col("r.content_hash")),
        )
        .select(
            F.col("h.doc_id").alias("doc_id"),
            F.col("h.content_hash").alias("content_hash"),
            F.col("r.rep_id").alias("rep_id"),
            (F.col("h.doc_id") != F.col("r.rep_id")).alias("is_duplicate"),
        )
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace tokens plus a BPE-ish regex count (word pieces +
    standalone punctuation), the cheap token-budget estimator of a
    training-data pipeline."""
    t = _tokens()
    return df.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
               ).alias("n_pieces"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Length/stopword/diversity heuristic quality score in [0,1]."""
    t = _tokens()
    n_tok = F.size(t).cast("double")
    n_stop = F.size(F.filter(t, lambda w: w.isin(*STOPWORDS))).cast("double")
    n_dis = F.size(F.array_distinct(t)).cast("double")
    stop_ratio = n_stop / n_tok
    diversity = n_dis / n_tok
    quality = F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (F.lit(1.0) - stop_ratio) * diversity
    bp = lambda c: F.floor(c * F.lit(10000.0)).cast("long")
    return df.select(
        "doc_id",
        F.length("text").alias("text_chars"),
        bp(stop_ratio).alias("stopword_bp"),
        bp(diversity).alias("diversity_bp"),
        bp(quality).alias("quality_bp"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-density language guess (en vs unk) — the cheap n-gram
    heuristic tier of a web-scale pipeline; real models slot in as a
    pandas UDF behind the same column contract."""
    t = _tokens()
    score = F.size(F.filter(t, lambda w: w.isin(*STOPWORDS))).cast("double") / F.size(t).cast("double")
    return df.select(
        "doc_id",
        F.floor(score * F.lit(10000.0)).cast("long").alias("stop_density_bp"),
        F.when(score >= 0.02, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    )


def doc_fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, fp): SHA-256 of whitespace-normalized lowercased text —
    the content-defined fingerprint analog of the reference's per-chunk
    SHA-256 (/root/reference/SHA_algorithm/SHA256.cpp:176-223)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return df.select("doc_id", F.sha2(F.encode(norm, "UTF-8"), 256).alias("fp"))


def token_heavy_hitters(df: DataFrame, k: int = 50) -> DataFrame:
    """Top-k most frequent whitespace tokens across the corpus:
    (token, occurrences, doc_freq), ordered count DESC then token ASC
    so ties are deterministic.  The vocabulary/stopword-list builder of
    a training-data pipeline.

    Scale shape: doc_freq comes from a (token, doc_id) partial
    aggregation feeding a second token-keyed aggregation — NOT a
    count-distinct (whose expand doubles shuffle volume); the second
    groupBy reuses the token hash partitioning, and the final top-k is
    a TakeOrderedAndProject (per-partition heads merged once), never a
    global sort.
    """
    per_doc = (
        df.select("doc_id", F.explode(_tokens()).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.sum("c").cast("long").alias("occurrences"),
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


# PII patterns shared by the operator and the DuckDB oracle twin —
# RE2-safe subset (no lookaround, explicit [0-9], \b word boundaries),
# verified byte-identical between Java regex and DuckDB RE2 on nulls,
# nested dots, over-long IPs and mixed-pattern lines
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def scrub_pii(df: DataFrame) -> DataFrame:
    """(doc_id, text_clean, n_emails, n_ips, n_phones): replace emails,
    dotted-quad IPs and NNN-NNN-NNNN phone shapes with [EMAIL]/[IP]/
    [PHONE] placeholder tokens, counting each — the pre-training PII
    redaction stage of a corpus pipeline.  Replacement runs in a fixed
    order (email → ip → phone) and each count is taken on the text AS
    ALREADY SCRUBBED by the earlier passes, so counts reconcile exactly
    with the placeholders in text_clean: an IP inside an email
    ('admin@10.0.0.1.com') is one email and ZERO ips (r6 code-review —
    counting every pattern on the raw text double-counted overlaps).
    The placeholder tokens contain no digits, so a replacement can
    never manufacture a later-pass match.  Null text stays null.

    Scale: pure JVM regexp_replace/regexp_count inside whole-stage
    codegen — per-row map, no shuffle, no Python."""
    stage = F.col("text")
    counts = []
    for pat, tok, name in ((PII_EMAIL, "[EMAIL]", "n_emails"),
                           (PII_IPV4, "[IP]", "n_ips"),
                           (PII_PHONE, "[PHONE]", "n_phones")):
        counts.append(F.regexp_count(stage, F.lit(pat)).alias(name))
        stage = F.regexp_replace(stage, pat, tok)
    return df.select("doc_id", stage.alias("text_clean"), *counts)


def word_bigrams(df: DataFrame) -> DataFrame:
    """(doc_id, bigram) distinct word bigrams — shingling at word
    granularity (the reference's chunking analog at
    /root/reference/App/Host.cpp:254-340, re-expressed set-wise)."""
    t = _tokens()
    bg = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    # Spark's sequence(1, 0) is DESCENDING, not empty — guard short texts
    bg = F.when(F.size(t) >= 2, bg).otherwise(F.array().cast("array<string>"))
    return df.select(
        "doc_id", F.explode(F.array_distinct(bg)).alias("bigram")
    )


def bigram_jaccard_pairs_auto(df: DataFrame, threshold_bp: int = 5000) -> DataFrame:
    """(a, b, jaccard_bp): the exact bigram-Jaccard entry, word-bigram
    Jaccard ≥ threshold over each doc_id's distinct bigram set, a<b.
    Also named bigram_jaccard_pairs_allpairs.

    The broadcast gate is its only plan choice: one aggregate over the
    persisted ``bg`` (the incidence bytes) picks the plan, and both
    give the same rows.

    - DIRECT (integral or string doc_id, incidence bytes within the
      session's spark.sql.autoBroadcastJoinThreshold): the (doc_id,
      bigram) incidence is collected once, factorized into posting
      lists and broadcast, and one mapInPandas counts each probe doc's
      pairs with np.bincount on dense doc indices (_count_block_pairs).
      No join rows exist at all: shuffling and hash-aggregating them —
      one row per shared bigram, 172M on the 30k-doc Zipf fixture,
      with ~24 GB spilled — was the old join plan's dominant cost, and
      doc indices from factorizing make the keys dense small integers,
      where direct addressing beats any hash table.
    - PPJOIN (any other id type, a larger incidence, or the threshold
      at -1): bigram_jaccard_pairs, which prunes the Σ df² join rows
      that counting every shared bigram would materialize.

    LAST_PLAN_PICK is set before this returns."""
    global LAST_PLAN_PICK
    bg = scoped_persist(word_bigrams(df))
    id_type = dict(bg.dtypes)["doc_id"]
    nbytes = None
    if id_type in PY_ORDERED_ID_TYPES:
        # null-id rows never pair; bytes: per row the bigram's UTF-8 bytes
        # and a 4-byte Arrow offset, plus an 8-byte id — or a string id's
        # UTF-8 bytes and a second offset — the collected incidence's size
        id_bytes = (F.octet_length("doc_id") + F.lit(4) if id_type == "string"
                    else F.lit(8))
        row_bytes = id_bytes + F.lit(4) + F.coalesce(F.octet_length("bigram"), F.lit(0))
        nbytes = bg.where(F.col("doc_id").isNotNull()).agg(
            F.coalesce(F.sum(row_bytes), F.lit(0))).first()[0]
        if nbytes <= broadcast_threshold(bg.sparkSession):
            out, stats = _direct_allpairs(bg, id_type, threshold_bp)
            LAST_PLAN_PICK = {"plan": "allpairs", **stats, "kernel": "direct",
                              "incidence_bytes": nbytes}
            return out
    LAST_PLAN_PICK = {"plan": "ppjoin", "kernel": "ppjoin",
                      "incidence_bytes": nbytes}
    return bigram_jaccard_pairs(df, threshold_bp, bg=bg)


# the name bench.py, bench_extra.py and the tests call the entry by
bigram_jaccard_pairs_allpairs = bigram_jaccard_pairs_auto


def jaccard_plan_stats(bg: DataFrame) -> tuple[int, int, float]:
    """(v, d, sumsq) of a (doc_id, bigram) table: distinct bigrams,
    approx distinct docs and Σ df², the naive join volume, with df
    counted over rows.  The inputs of choose_jaccard_plan, for bench.py's
    per-regime record; the engine does not call it.  Pass an (ideally
    persisted) ``bg``."""
    fstats = (
        bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("_gf"))
        .agg(
            F.count(F.lit(1)).alias("v"),
            # double, not long: Σ df² overflows int64 (ANSI mode would
            # raise) long before 10^12-row corpora; this is an estimate
            F.sum(F.col("_gf").cast("double") * F.col("_gf").cast("double")
                  ).alias("sumsq"),
        )
        .collect()[0]
    )
    d = bg.agg(F.approx_count_distinct("doc_id").alias("d")).collect()[0]["d"]
    return int(fstats["v"]), int(d), float(fstats["sumsq"] or 0.0)


# Observability: the plan the last bigram_jaccard_pairs_auto call in this
# process built, set before it returns.  "plan" is "allpairs" under the
# broadcast gate and "ppjoin" above it, "kernel" is "direct" | "ppjoin",
# and "incidence_bytes" is the size that gated it (None for an id type
# the direct kernel cannot take).  The direct kernel adds the exact
# corpus statistics it reads off its factorized arrays: "v" distinct
# bigrams, "d" docs with a bigram and "sumsq" Σ df², df counted over
# distinct docs.  Read-only for callers.
LAST_PLAN_PICK: dict | None = None


# bench.py's regime label for a corpus (choose_jaccard_plan); the engine
# routes by the broadcast gate alone.  An estimated all-pairs volume
# (Σ df(g)² over bigrams, the postings that counting every shared bigram
# touches) below this labels a corpus "allpairs" even when a rare-token
# tail exists.  Measured on 4 vCPU with ``bench_extra.py time
# zipf_bigram_ppjoin zipf_bigram_allpairs`` (repeats interleaved), both
# corpora under the 64 MB gate:
#   Zipf 30k docs, Σdf² 3.45e8, 33.8 MB: direct 10.7 s, PPJoin 11.1 s
#   (medians of 6);
#   Zipf 55k docs, Σdf² 1.03e9, 62.0 MB: direct 24.5 s, PPJoin 23.7 s
#   (medians of 3).
# The two plans are within 4% of each other there, so the engine runs
# the direct kernel on both.
ALLPAIRS_WORK_FLOOR = 100_000_000


def choose_jaccard_plan(
    n_distinct_bigrams: int, n_docs: int, est_join_rows: int | None = None
) -> str:
    """A corpus's regime label, recorded by bench.py per corpus; the
    engine's plan choice is the broadcast gate, not this.

    'allpairs' when |vocab| < |docs| (tiny-vocab corpus: every posting
    list is dense, the prefix filter prunes nothing and its overhead
    is pure loss) OR when the estimated all-pairs volume Σ df² is
    below ALLPAIRS_WORK_FLOOR (small corpus: fixed per-stage overhead
    dominates both plans);
    'ppjoin' otherwise — a rare-token tail exists AND the all-pairs
    volume is large enough that pruning it pays."""
    if n_distinct_bigrams < n_docs:
        return "allpairs"
    if est_join_rows is not None and est_join_rows < ALLPAIRS_WORK_FLOOR:
        return "allpairs"
    return "ppjoin"


def bigram_jaccard_pairs(df: DataFrame, threshold_bp: int = 5000,
                         bg: DataFrame | None = None) -> DataFrame:
    """(a, b, jaccard_bp): word-bigram Jaccard ≥ threshold, a<b.

    Exact similarity join with PREFIX FILTERING (Chaudhuri et al.
    ICDE'06 / Xiao et al. PPJoin — public algorithms): under a global
    token order (ascending document frequency, ties by token), any
    pair with J ≥ t must share a token within each side's first
    |x| − ⌈t·|x|⌉ + 1 tokens, so the self-join runs on the RARE-token
    prefixes only; exact intersections are then computed with
    array_intersect over the candidates.  Output is identical to the
    naive all-token join over each doc_id's distinct bigram set (the
    DuckDB oracle) with candidate volume cut by orders of magnitude on
    skewed corpora — this is the exact twin of what MinHash/LSH
    approximates at 10^12 rows.
    """
    t = threshold_bp / 10000.0
    # materialize: bg feeds frequencies, prefixes and the arrays
    if bg is None:
        bg = scoped_persist(word_bigrams(df))
    freq = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("_gf"))
    # COLLISION-FREE int64 token ids replace the bigram strings
    # everywhere downstream (r7): the prefix self-join keys and the
    # verify array_intersect then run on longs instead of variable-
    # width strings — measured ~2x off the verify stage's CPU, the
    # dominant cost of this plan's worst regime.  A 64-bit HASH id
    # would collide at web-scale vocabularies (C(10^10,2)/2^64 > 1)
    # and silently inflate intersections, and
    # monotonically_increasing_id is not stable under partition
    # recomputation (an evicted cache block rebuilt after executor
    # loss could re-id the vocabulary mid-query — r7 code review), so
    # the id is DERIVED FROM CONTENT: hash-bucket the vocabulary,
    # rank within each bucket by the bigram itself, and interleave as
    # _bid = (rank-1)·B + bucket — injective across buckets, fully
    # deterministic, and the per-bucket sort touches ~|vocab|/B rows
    # (O(vocab) total, never the corpus).  The global token order
    # becomes (_gf, _bid) — still ascending document frequency with
    # deterministic ties, and the prefix-filter guarantee holds under
    # ANY consistent global order, so the verified output is
    # unchanged (tie-order only perturbs the candidate superset).
    from pyspark.sql import Window

    B = 1 << 12
    _w = Window.partitionBy("_bkt").orderBy("bigram")
    freqid = scoped_persist(
        freq.withColumn("_bkt", F.pmod(F.xxhash64("bigram"), F.lit(B)))
        .withColumn(
            "_bid",
            (F.row_number().over(_w) - F.lit(1)) * F.lit(B) + F.col("_bkt"),
        )
        .select("bigram", "_gf", "_bid")
    )
    # persisted: referenced three times (prefix explode + both sides of
    # the verify join-back) — unpersisted, each branch re-ran the
    # freq join + collect_list + sort, tripling the plan's real work
    # array_distinct: a doc_id over several rows repeats bigrams, and
    # n, the prefix and array_intersect must all see the doc's SET
    docs = scoped_persist(
        bg.join(freqid, "bigram")
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.array_sort(F.collect_list(F.struct("_gf", "_bid")))
            ).alias("_ord"),
        )
        .select(
            "doc_id",
            F.transform("_ord", lambda s: s["_bid"]).alias("arr"),
            F.size("_ord").alias("n"),
        )
    )
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1).cast("int")
    prefixes = docs.select(
        "doc_id", "n", F.explode(F.slice("arr", 1, prefix_len)).alias("_bid")
    )
    cands = (
        prefixes.alias("x")
        .join(prefixes.alias("y"), "_bid")
        .where(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            # PPJoin length filter (exact): floor(J·10⁴) ≥ bp needs
            # i ≥ bp·(na+nb)/(10⁴+bp) and i ≤ min(na,nb), hence
            # min·10⁴ ≥ bp·max — integer arithmetic, no float edge.
            # Prunes size-incompatible pairs BEFORE the dedup shuffle
            # and the array_intersect verify (~40% of candidates on
            # the driver fixture's length spread).
            & (F.least(F.col("x.n"), F.col("y.n")) * F.lit(10000)
               >= F.lit(threshold_bp) * F.greatest(F.col("x.n"), F.col("y.n")))
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .dropDuplicates()
    )
    d = docs.select("doc_id", "arr", "n")
    return (
        cands.join(d.withColumnRenamed("doc_id", "a").withColumnRenamed("arr", "_aa").withColumnRenamed("n", "na"), "a")
        .join(d.withColumnRenamed("doc_id", "b").withColumnRenamed("arr", "_ab").withColumnRenamed("n", "nb"), "b")
        .withColumn("i", F.size(F.array_intersect("_aa", "_ab")))
        .select(
            "a", "b",
            F.floor(
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
                * F.lit(10000.0)
            ).cast("long").alias("jaccard_bp"),
        )
        .where(F.col("jaccard_bp") >= threshold_bp)
    )


# Direct-kernel sizing.  A dense block of probe docs counts into
# block × D counters, kept within _COUNTER_BUDGET; when that leaves
# fewer than _MIN_DENSE_BLOCK docs per block (huge D) a block's keys are
# counted by sorting instead.  One numpy pass gathers about
# _GATHER_CAP postings, so a task's memory does not grow with D.  A
# task gets about _TASK_VOLUME gathered postings: a small corpus runs
# as one task, since every Python task pays a fixed cost.
_COUNTER_BUDGET = 1 << 22
_MIN_DENSE_BLOCK = 32
_GATHER_CAP = 1 << 22
_TASK_VOLUME = 1 << 24


def _direct_allpairs(bg: DataFrame, id_type: str,
                     threshold_bp: int) -> tuple[DataFrame, dict]:
    """The direct kernel's driver half: collect the incidence over
    Arrow, factorize it, broadcast the arrays, and map the counting
    over probe-doc ranges of equal gathered volume.  Also returns the
    corpus statistics {"v", "d", "sumsq"} read off the arrays."""
    spark = bg.sparkSession
    pdf = bg.where(F.col("doc_id").isNotNull()).select("doc_id", "bigram").toPandas()
    inc, vol = _factorize_incidence(pdf["doc_id"].to_numpy(), pdf["bigram"])
    _, sizes, _, _, length, post_docs = inc
    total = int(vol[-1])
    # each bigram's last posting gathers nothing, and a bigram in df docs
    # gathers df(df-1)/2 postings in all, so Σ df² = 2·total + Σ df
    stats = {"v": int(np.count_nonzero(length == 0)),
             "d": int(np.count_nonzero(sizes)),
             "sumsq": 2 * total + len(post_docs)}
    n_tasks = max(1, min(spark.sparkContext.defaultParallelism,
                         -(-total // _TASK_VOLUME)))
    cuts = np.searchsorted(vol, np.arange(1, n_tasks) * (total / n_tasks))
    bounds = np.concatenate(([0], cuts, [len(vol) - 1])).tolist()
    bc = scoped_broadcast(spark, inc)

    def run(batches):
        inc = bc.value
        for batch in batches:
            for t in batch["id"].tolist():
                yield from _count_block_pairs(inc, bounds[t], bounds[t + 1],
                                              threshold_bp)

    return spark.range(n_tasks, numPartitions=n_tasks).mapInPandas(
        run, f"a {id_type}, b {id_type}, jaccard_bp bigint"), stats


def _factorize_incidence(doc_id: np.ndarray, bigram: pd.Series):
    """(doc_id, bigram) incidence rows with non-null ids (integral or
    string) → the direct kernel's arrays (ids, sizes, doc_ptr, start,
    length, post_docs) and the gathered volume before each doc (length
    D + 1).

    Docs become indices 0..D-1 in id order, so a < b on ids is a < b on
    indices (negative, sparse or ≥ 2^31 ids need no special case; a
    string id sorts as Python str, which is Spark's UTF-8 binary
    order).  Each doc is its SET of non-null bigrams: null bigrams and
    repeated (doc, bigram) rows — a doc_id over several rows — are
    dropped, so sizes count distinct bigrams and postings list each
    bigram's doc indices ascending, once each.  Entry k is the k-th
    (doc, bigram) pair in doc order; doc d owns entries
    doc_ptr[d]..doc_ptr[d+1]-1, and entry k gathers
    post_docs[start[k]:start[k] + length[k]] — the bigram's postings
    past the doc, so b ≤ a is never gathered."""
    # pd.factorize hashes; np.unique over an object array would sort
    # every row with Python compares
    doc, ids = pd.factorize(doc_id, sort=True)
    code = pd.factorize(bigram)[0]
    D = len(ids)
    doc, code = doc[code >= 0], code[code >= 0]
    o = np.lexsort((doc, code))
    doc, code = doc[o], code[o]
    post_key = code.astype(np.int64) * D + doc  # sorted
    first = np.diff(post_key, prepend=-1) != 0
    doc, code, post_key = doc[first], code[first], post_key[first]
    sizes = np.bincount(doc, minlength=D)
    post_docs = doc.astype(np.int32)
    post_end = np.cumsum(np.bincount(code))
    o = np.argsort(doc, kind="stable")
    a, g = doc[o], code[o]
    start = np.searchsorted(post_key, g.astype(np.int64) * D + a, side="right")
    length = (post_end[g] - start).astype(np.int32)
    doc_ptr = np.concatenate(([0], np.cumsum(np.bincount(a, minlength=D))))
    vol = np.concatenate(([0], np.cumsum(length)))[doc_ptr]
    return (ids, sizes, doc_ptr, start, length, post_docs), vol


def _spans(cum, cap: int, max_items: int):
    """Consecutive [s, e) spans over the len(cum) - 1 items whose
    running total is ``cum``: each holds at most ``max_items`` items
    and at most ``cap`` total, or a single item that alone exceeds it."""
    n = len(cum) - 1
    s = 0
    while s < n:
        e = int(np.searchsorted(cum, cum[s] + cap, side="right")) - 1
        e = min(max(e, s + 1), s + max_items, n)
        yield s, e
        s = e


def _count_block_pairs(inc, lo: int, hi: int, threshold_bp: int):
    """The direct kernel's task half: (a, b, jaccard_bp) frames for the
    probe docs with indices lo..hi-1 against every later doc, at or
    above the threshold.  Per block of probe docs, the postings past
    each doc are gathered as keys a_local·D + b and counted — with
    np.bincount into block × D counters, or by sorting when D is too
    large for a useful dense block.  The count i of a pair is the
    number of bigrams the two sets share, and jaccard_bp is the
    oracle's double arithmetic."""
    ids, sizes, doc_ptr, start, length, post_docs = inc
    D = len(ids)
    block = _COUNTER_BUDGET // max(D, 1)
    dense = block >= _MIN_DENSE_BLOCK
    e0 = int(doc_ptr[lo])
    cum = np.concatenate(([0], np.cumsum(length[e0:doc_ptr[hi]])))
    ptr = doc_ptr[lo:hi + 1] - e0
    owner = np.repeat(np.arange(hi - lo), np.diff(ptr))
    for s, e in _spans(cum[ptr], _GATHER_CAP, block if dense else hi - lo):
        p, q = int(ptr[s]), int(ptr[e])
        acc, parts = None, []
        for cs, ce in _spans(cum[p:q + 1], _GATHER_CAP, q - p):
            ln = length[e0 + p + cs:e0 + p + ce]
            n = int(ln.sum())
            if n == 0:
                continue
            skip = np.cumsum(ln) - ln  # gathered before each entry
            src = np.repeat(start[e0 + p + cs:e0 + p + ce] - skip, ln) + np.arange(n)
            key = np.repeat(owner[p + cs:p + ce] - s, ln) * D + post_docs[src]
            if dense:
                c = np.bincount(key, minlength=(e - s) * D)
                acc = c if acc is None else acc + c
            else:
                parts.append(np.unique(key, return_counts=True))
        if dense:
            if acc is None:
                continue
            # bp ≥ T needs i·(10⁴ + T) ≥ T·(na + nb) ≥ T·na,
            # so a row's counters below ceil(T·na / (10⁴ + T)) cannot
            # pass; the scan then touches few counters, not all of them
            t = max(threshold_bp, 0)
            lb = np.maximum(-(-t * sizes[lo + s:lo + e] // (10000 + t)), 1)
            key = np.flatnonzero(acc.reshape(e - s, D) >= lb[:, None])
            i = acc[key]
        elif not parts:
            continue
        elif len(parts) == 1:
            key, i = parts[0]
        else:
            # one doc's gather split over several passes: merge by key
            key = np.concatenate([k for k, _ in parts])
            i = np.concatenate([c for _, c in parts])
            o = np.argsort(key, kind="stable")
            key, i = key[o], i[o]
            first = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
            key, i = key[first], np.add.reduceat(i, first)
        a = lo + s + key // D
        b = key % D
        # sets: i ≤ min(na, nb), so na + nb - i ≥ max(na, nb) ≥ 1
        den = sizes[a] + sizes[b] - i
        bp = np.floor(i.astype(np.float64) / den.astype(np.float64) * 10000.0)
        keep = bp >= threshold_bp
        if keep.any():
            yield pd.DataFrame({"a": ids[a[keep]], "b": ids[b[keep]],
                                "jaccard_bp": bp[keep].astype(np.int64)})


def lgram_substring_pairs(df: DataFrame, L: int = 24) -> DataFrame:
    """(a, b) doc pairs sharing a verbatim ≥L-char substring — the
    SQL-expressible (all-positions) twin of the winnowed substring
    tier: explode every L-gram, join on the gram.  Used as the oracle
    bridge; the winnowed variant emits ~1/w as many grams at scale."""
    t = F.col("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - F.lit(L - 1)),
        lambda i: F.substring(t, i, L),
    )
    grams = F.when(F.length(t) >= L, grams).otherwise(F.array().cast("array<string>"))
    g = df.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
    return (
        g.alias("x")
        .join(g.alias("y"), "gram")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .dropDuplicates()
    )
