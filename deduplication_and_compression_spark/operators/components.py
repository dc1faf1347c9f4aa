"""Iterative connected components: alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — public algorithm), on plain DataFrames.

Replaces the reference's global sequential dedup table
(/root/reference/SHA_algorithm/SHA256.cpp:211-222: first occurrence
becomes the group id) with an order-free equivalent: every component
labeled by its MINIMUM member id, so "first-occurrence id" semantics
survive without any global state.

Scale notes: each round is two shuffles on node id; lineage is
truncated every round with localCheckpoint (on a real cluster:
reliable checkpoint to the Iceberg chk_ tables, see plans/pipeline).
Converges in O(log² n) rounds; hot high-degree nodes (the star roots
of big dup clusters) are exactly what large-star shrinks first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DedupConfig, DEFAULT_CONFIG
from ..persistence import register_local_checkpoint, release_local_checkpoint
from ..session import broadcast_threshold

# Id types whose order Python reproduces exactly, so numpy or Python code
# over collected ids keeps Spark's < and min(): integers, and plain
# (UTF8_BINARY-collated) strings — Spark's default string order is the
# byte order of UTF-8, which equals code-point order, which is exactly
# Python str comparison.  Any other collation's dtype string is not
# "string" and falls through to the distributed plan.
PY_ORDERED_ID_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


def _symmetric(edges: DataFrame, parts: int) -> DataFrame:
    """Symmetrized edge list, explicitly hash-partitioned on u.

    The explicit ``repartition(parts, "u")`` is the whole shuffle-
    sizing story for a round: the groupBy("u") and join("u") inside
    the star steps then REUSE HashPartitioning(u, parts) (their
    required clustered distribution is already satisfied), so no
    session-global ``spark.sql.shuffle.partitions`` mutation is
    needed — the r2 version set and restored that conf, which is racy
    against any concurrently-planning query in the same session.
    """
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return sym.repartition(parts, "u")


def _dedup_pairs(df: DataFrame, parts: int) -> DataFrame:
    """dropDuplicates on (a, b) at the round's partitioning, not the
    session default: the explicit repartition satisfies the dedup
    aggregation's clustering requirement, so no further exchange."""
    return df.repartition(parts, "a", "b").dropDuplicates()


def _large_star(E: DataFrame, parts: int) -> DataFrame:
    """Connect strictly-larger neighbors of u to min(Γ⁺(u))."""
    m = E.groupBy("u").agg(F.min("v").alias("minv"))
    m = m.select("u", F.least("u", "minv").alias("m"))
    out = (
        E.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    return _dedup_pairs(out, parts)


def _small_star(E: DataFrame, parts: int) -> DataFrame:
    """Connect smaller-or-equal neighbors of u (and u itself) to min."""
    Ele = E.where(F.col("v") <= F.col("u"))
    m = Ele.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = Ele.join(m, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    selfe = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return _dedup_pairs(
        nbrs.union(selfe).where(F.col("a") != F.col("b")), parts
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def connected_components(
    edges: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """edges(a,b) → labels(id, cluster_id=min member of component).

    Only nodes appearing in edges are labeled (singletons are handled
    downstream by assignments_from_labels' coalesce).
    """
    spark = edges.sparkSession
    # LAZY checkpoints throughout (r7): each round previously ran TWO
    # jobs — an eager localCheckpoint materialization plus the
    # convergence checksum over the same rows.  With eager=False the
    # checksum action materializes (and caches) the round as a side
    # effect, halving the actions per round; on the small post-collapse
    # edge tables CC converges over, per-job latency is most of the
    # round's wall.  The previous round is released only AFTER the
    # checksum materializes the new one (a truncated-lineage frame
    # cannot be recomputed, so release order is load-bearing).
    cur = (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    # CC rounds shuffle a small edge table many times; running them at
    # the session-wide shuffle parallelism makes per-task overhead scale
    # with the cluster (measured 12s -> 72s going local[8] -> local[32]).
    # Size the rounds' shuffles to the DATA via explicit repartitions
    # inside the round plans (_symmetric/_dedup_pairs) — NEVER by
    # mutating session-global spark.sql.shuffle.partitions.
    id_dtype = dict(cur.dtypes)["a"]
    # the same job also sizes the edge set for the local-solve gate:
    # two 8-byte ids per edge, or for strings their UTF-8 bytes plus a
    # 4-byte Arrow offset each
    if id_dtype == "string":
        n_edges, n_bytes = cur.agg(
            F.count(F.lit(1)),
            F.coalesce(F.sum(F.octet_length("a") + F.octet_length("b")), F.lit(0)),
        ).collect()[0]
        n_bytes += 8 * n_edges
    else:
        n_edges = cur.count()
        n_bytes = 16 * n_edges
    # SIZE-GATED LOCAL SOLVE (r7): at or below cfg.cc_local_max_edges
    # edges AND within the session's autoBroadcastJoinThreshold bytes
    # (-1 turns the local solve off) the deduped edge set is small —
    # the regime where Spark itself would broadcast a join side; the
    # byte bound keeps long string ids from blowing up the driver
    # collect under the row bound — and every star round still
    # costs 3 shuffles + 1 driver action of latency.  Collect ONCE
    # (Arrow path, reading the blocks the sizing job above already
    # materialized), run union-find with min-id roots (bit-identical
    # labels: attaching the larger root under the smaller keeps every
    # root the component minimum, exactly the star fixpoint), and
    # return a parallelized labels table.  Gated to PY_ORDERED_ID_TYPES, so
    # min() agrees across engines.  Nulls cannot reach the solver: the
    # a != b filter above drops null-endpoint rows.  Above the gate or
    # for any other id type the distributed rounds below run
    # unchanged.
    if (n_edges <= cfg.cc_local_max_edges
            and n_bytes <= broadcast_threshold(spark)
            and id_dtype in PY_ORDERED_ID_TYPES):
        import pandas as pd

        pdf = cur.toPandas()
        release_local_checkpoint(cur)
        parent: dict = {}

        def _find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            ra, rb = _find(a), _find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = pd.DataFrame(
            [(x, _find(x)) for x in parent], columns=["id", "cluster_id"]
        )
        return spark.createDataFrame(
            out, schema=f"id {id_dtype}, cluster_id {id_dtype}"
        )
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cc_parts = max(4, min(sess_parts, n_edges // 250_000 + 4))
    prev_sig = None
    converged = False
    prev_cp = cur
    for _ in range(cfg.cc_max_iterations):
        ls = _large_star(_symmetric(cur, cc_parts), cc_parts)
        ss = _small_star(_symmetric(ls, cc_parts), cc_parts)
        cur = (
            _dedup_pairs(
                ss.select(
                    F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
                ),
                cc_parts,
            )
            .localCheckpoint(eager=False)
        )
        # the checksum job materializes and lineage-truncates the new
        # round; only THEN are the previous round's blocks dead weight
        # and safe to drop — at scale the pre-r6 behavior held
        # O(rounds) full edge tables in storage memory for the whole
        # session (r6 leak-test finding)
        sig = _checksum(cur)
        release_local_checkpoint(prev_cp)
        prev_cp = cur
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # a non-converged graph would yield split/mislabeled
        # clusters downstream — fail loudly, never silently
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{cfg.cc_max_iterations} large-star/small-star rounds "
            f"({n_edges} input edges); raise cfg.cc_max_iterations"
        )
    # the FINAL round's checkpoint backs the returned labels frame:
    # inside a persist_scope (pipeline stages, _memo_query builders —
    # all of which materialize before scope exit) it is released with
    # the scope; bare driver callers keep it for the session, since the
    # lazily-returned labels read through it.
    register_local_checkpoint(cur)
    # converged: star graphs rooted at component minimum — but a node may
    # still appear with multiple labels in pathological tie rounds; take min.
    labels = (
        _symmetric(cur, cc_parts)
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("id"), F.least("u", "mv").alias("cluster_id"))
    )
    # roots label themselves; ensure every edge endpoint is present
    return labels.dropDuplicates(["id"])
