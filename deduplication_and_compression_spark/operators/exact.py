"""Exact-duplicate tier: content-hash grouping.

Spark restatement of the reference's dedup core
(/root/reference/Dedup/Dedup.cpp:10-29 lookup-or-insert on a SHA-256
digest; first-occurrence id assigned at
/root/reference/SHA_algorithm/SHA256.cpp:211-222).  The sequential
"first arrival wins" rule becomes the order-free "min image_id per
content-hash group wins": identical duplicate-group membership, no
global state, one shuffle on the content hash.

Scale notes (10^12 rows): the groupBy shuffles only
(content_hash, image_id) — ~100 bytes/row, not the image bytes.  The
aggregation is a partial (map-side combine) min/count, so the shuffle
carries one record per (partition, hash), and AQE coalesces the
post-shuffle partitions.  The join-back is a hash join on the same key
the aggregate produced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..persistence import scoped_persist


def with_content_hash(df: DataFrame, cols: tuple[str, ...] = ("bytes", "caption")) -> DataFrame:
    """Adds ``content_hash``: SHA-256 over the concatenated per-column
    SHA-256 digests (avoids ambiguity of concatenating raw values)."""
    parts = [
        F.sha2(F.col(c), 256) if dict(df.dtypes)[c] == "binary"
        else F.sha2(F.encode(F.coalesce(F.col(c).cast("string"), F.lit("")), "UTF-8"), 256)
        for c in cols
    ]
    return df.withColumn("content_hash", F.sha2(F.concat_ws("|", *parts), 256))


def exact_pairs(df: DataFrame, id_col: str = "image_id",
                cols: tuple[str, ...] = ("bytes", "caption")) -> DataFrame:
    """All (a,b) a<b duplicate pairs via pair-with-representative.

    Emits (rep, member) for every non-representative member instead of
    the full O(k²) in-group cross product — at 10^12 scale a hot
    cluster of 10^6 members must NOT generate 10^12 pairs.  Star-shaped
    pairs carry identical clustering information into connected
    components.

    The hash table is materialized (localCheckpoint) before reuse: it
    feeds both the representative aggregation and the join-back, and
    without materialization the SHA-256-over-bytes scan would run
    twice — at 100 TB that is two full passes over the payload column.
    """
    hashed = scoped_persist(
        with_content_hash(df, cols).select("content_hash", id_col)
    )
    reps = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("rep"), F.count(F.lit(1)).alias("members")
    ).filter(F.col("members") > 1)
    return (
        hashed.join(reps, "content_hash")
        .filter(F.col(id_col) != F.col("rep"))
        .select(
            F.least(F.col("rep"), F.col(id_col)).alias("a"),
            F.greatest(F.col("rep"), F.col(id_col)).alias("b"),
        )
    )

