"""Cluster assignments + compression-savings accounting.

``savings`` is the analog of the reference's compression report
(/root/reference/App/Host.cpp:500-507: unique vs total chunks and
``(fileSize - bytes_written)*100/fileSize``): for each duplicate
cluster, every member beyond the representative avoids re-storing its
payload, so bytes_saved = sum(member payload bytes) - rep payload
bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def assignments_from_labels(df: DataFrame, labels: DataFrame,
                            id_col: str = "image_id") -> DataFrame:
    """Join per-id component labels (id_col, cluster_id) back onto the
    full table; ids with no label are singleton clusters of themselves.

    labels carries only duplicate members, so it is typically tiny
    relative to df → Catalyst/AQE picks a broadcast join when it fits.
    Accepts labels keyed either by ``id`` (connected_components output)
    or already by ``id_col``.
    """
    if "id" in labels.columns and id_col not in labels.columns:
        labels = labels.withColumnRenamed("id", id_col)
    out = (
        df.select(id_col)
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return out.select(
        id_col,
        "cluster_id",
        (F.col(id_col) != F.col("cluster_id")).alias("is_duplicate"),
        F.col("cluster_id").alias("representative_id"),
    )


def leakage_safe_split(
    assignments: DataFrame,
    frac_train: float = 0.9,
    id_col: str = "image_id",
    salt: str = "",
    buckets: int = 10_000,
) -> DataFrame:
    """Cluster-safe train/val split: every member of a near-dup cluster
    lands in the SAME split, so near-duplicates of training documents
    can never leak into validation (the failure mode Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22
    §6 measures: dup-driven train/test overlap inflates eval).

    Input is an ``assignments_from_labels`` frame (id_col, cluster_id,
    ...); the split key is the CLUSTER id, hashed to a bucket in
    [0, buckets) via the first 15 hex chars of md5(cluster_id || salt)
    — 60 bits, deterministic, engine-independent (the DuckDB oracle
    replays it exactly), and independent of row order or partitioning.
    ``salt`` re-deals the split without touching cluster membership.

    Scale: pure per-row JVM expressions (md5/conv/pmod inside
    whole-stage codegen), NO shuffle and no Python — at 10^12 rows this
    adds a map over whatever partitioning ``assignments`` already has.
    Emits (id_col, cluster_id, split_bucket, split).
    """
    if not 0.0 < frac_train < 1.0:
        raise ValueError(f"frac_train must be in (0,1), got {frac_train}")
    cut = int(round(frac_train * buckets))
    # explicit string cast: a numeric cluster_id (docs corpora) must
    # hash its decimal text form, the same bytes the SQL oracle md5s
    key = F.concat(F.col("cluster_id").cast("string"), F.lit(salt))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
        F.lit(buckets),
    )
    return assignments.select(
        id_col,
        "cluster_id",
        bucket.cast("long").alias("split_bucket"),
        F.when(bucket < F.lit(cut), F.lit("train"))
        .otherwise(F.lit("val")).alias("split"),
    )


def elect_representatives(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "image_id",
    score_col: str = "quality_bp",
) -> DataFrame:
    """Score-aware representative election: for each cluster keep the
    member with the HIGHEST score (ties and all-null clusters fall back
    to min id) — "keep the best document of each duplicate group", the
    rep policy a training-data pipeline wants when members differ in
    quality, vs the reference's first-occurrence rule that
    assignments_from_labels mirrors.

    Scale shape: an id-keyed join (scores onto assignments), a
    cluster-keyed partial-agg max, an equi-join + min-id partial agg
    for the winner, and a final cluster-keyed join-back — every shuffle
    is keyed and combiner-friendly, no window over the corpus.  The
    scores join is LEFT (a member missing a score row behaves like a
    null score rather than silently dropping out of the election — r6
    code review) and the score equality join is NULL-SAFE, so clusters
    whose scores are all null or all missing elect min-id instead of
    electing nobody.

    Emits (id_col, cluster_id, rep_id, is_duplicate).
    """
    base = assignments.select(id_col, "cluster_id")
    j = base.join(scores.select(id_col, score_col), id_col, "left")
    best = j.groupBy("cluster_id").agg(F.max(score_col).alias("_best"))
    reps = (
        j.join(best, "cluster_id")
        .where(F.col(score_col).eqNullSafe(F.col("_best")))
        .groupBy("cluster_id")
        .agg(F.min(id_col).alias("rep_id"))
    )
    return (
        base.join(reps, "cluster_id", "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce("rep_id", F.col(id_col)).alias("rep_id"),
            (F.col(id_col) != F.coalesce("rep_id", F.col(id_col))).alias("is_duplicate"),
        )
    )


def payload_bytes(df: DataFrame, id_col: str = "image_id",
                  length_col: str | None = None) -> DataFrame:
    """(id_col, payload_bytes): each row's stored payload — encoded
    image bytes + caption UTF-8 bytes, or the ``length_col`` column
    when given (a text corpus's n_chars).  NULL counts as 0."""
    if length_col is not None:
        size = F.coalesce(F.col(length_col), F.lit(0))
    else:
        size = (
            F.coalesce(F.length(F.col("bytes")), F.lit(0))
            + F.coalesce(F.length(F.encode(F.col("caption"), "UTF-8")), F.lit(0))
        )
    return df.select(id_col, size.cast("long").alias("payload_bytes"))


def savings(assignments: DataFrame, payloads: DataFrame,
            id_col: str = "image_id") -> DataFrame:
    """(cluster_id, members, bytes_total, bytes_saved) per cluster with
    ≥2 members.  bytes_saved = bytes_total - representative's bytes."""
    joined = assignments.join(payloads, id_col)
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("members"),
            F.sum("payload_bytes").alias("bytes_total"),
            (
                F.sum("payload_bytes")
                - F.max(F.when(~F.col("is_duplicate"), F.col("payload_bytes")))
            ).cast("long").alias("bytes_saved"),
        )
        .filter(F.col("members") > 1)
    )


def dedup_ratio(assignments: DataFrame, payloads: DataFrame,
                id_col: str = "image_id") -> DataFrame:
    """Global one-row accounting mirroring App/Host.cpp:507.  The sums
    are NULL on an empty table; compression_pct is NULL when there is
    no payload at all (ANSI mode fails a plain x / 0)."""
    joined = assignments.join(payloads, id_col)
    return joined.agg(
        F.count(F.lit(1)).alias("rows_total"),
        F.sum(F.when(~F.col("is_duplicate"), 1).otherwise(0)).alias("rows_unique"),
        F.sum("payload_bytes").alias("bytes_total"),
        F.sum(F.when(~F.col("is_duplicate"), F.col("payload_bytes")).otherwise(0)).alias("bytes_after_dedup"),
        F.try_divide(
            (F.sum("payload_bytes") - F.sum(F.when(~F.col("is_duplicate"), F.col("payload_bytes")).otherwise(0)))
            * F.lit(100.0), F.sum("payload_bytes")
        ).alias("compression_pct"),
    )
