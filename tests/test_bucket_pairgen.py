"""Skew regimes of candidate_pairs_from_buckets: all-pairs and star,
with and without the value collapse."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings, strategies as st

from deduplication_and_compression_spark.config import DedupConfig
from deduplication_and_compression_spark.operators.minhash_lsh import (
    candidate_pairs_from_buckets,
)
from tests.conftest import pairs_set


CFG = DedupConfig(hot_bucket_threshold=16)


def _bucket_df(spark, sizes: dict[int, int]):
    rows = []
    for key, k in sizes.items():
        for i in range(k):
            rows.append((f"k{key:02d}_m{i:03d}", 0, key))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_idx", "band_hash"])
    )


def _expected_all_pairs(sizes, key):
    ids = sorted(f"k{key:02d}_m{i:03d}" for i in range(sizes[key]))
    return {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}


def test_small_bucket_all_pairs(spark):
    sizes = {1: 3}
    got = pairs_set(candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas())
    assert got == _expected_all_pairs(sizes, 1)


def test_salted_medium_bucket_all_pairs_exactly_once(spark):
    sizes = {2: 10}  # 10 <= hot(16) → all-pairs regime
    df = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG)
    pdf = df.toPandas()
    got = pairs_set(pdf)
    assert got == _expected_all_pairs(sizes, 2)
    assert len(pdf) == len(got)  # exactly once


def test_hot_bucket_star_only(spark):
    sizes = {3: 40}  # > hot(16) → star around min id
    pdf = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas()
    hub = f"k03_m000"
    assert len(pdf) == 39
    assert (pdf["a"] == hub).all()


def test_mixed_regimes_union(spark):
    sizes = {1: 2, 2: 8, 3: 30}
    pdf = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas()
    got = pairs_set(pdf)
    expect = (
        _expected_all_pairs(sizes, 1)
        | _expected_all_pairs(sizes, 2)
        | {(f"k03_m000", f"k03_m{i:03d}") for i in range(1, 30)}
    )
    assert got == expect


# ---- value collapse (val_col): hot buckets of duplicate payloads stay exact


def _valued_bucket_df(spark, members: list[tuple[str, int]]):
    """One bucket; members = [(id, payload_value), ...]."""
    rows = [(mid, 0, 99, v) for mid, v in members]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_idx", "band_hash", "_vhash"])
    )


def test_hot_bucket_identical_values_star_around_value_rep(spark):
    """40 members > hot(16), all the SAME payload: collapse to one rep,
    emit exactly the 39 distance-0 star edges (verify can never sever
    them — the exact-dup-flood case from ADVICE r1)."""
    members = [(f"m{i:03d}", 7) for i in range(40)]
    pdf = candidate_pairs_from_buckets(
        _valued_bucket_df(spark, members), CFG, val_col="_vhash"
    ).toPandas()
    assert len(pdf) == 39
    assert (pdf["a"] == "m000").all()


def test_hot_bucket_few_distinct_values_is_exact(spark):
    """40 members, 5 distinct payloads (8 each): the 5 reps get
    ALL-PAIRS, members get
    distance-0 star edges to their value rep — full connectivity, and
    every rep-rep pair present so cross-value true pairs survive any
    verifier."""
    members = [(f"m{i:03d}", i % 5) for i in range(40)]
    pdf = candidate_pairs_from_buckets(
        _valued_bucket_df(spark, members), CFG, val_col="_vhash"
    ).toPandas()
    got = pairs_set(pdf)
    reps = [f"m{v:03d}" for v in range(5)]  # min id per value group
    rep_pairs = {(a, b) for i, a in enumerate(sorted(reps)) for b in sorted(reps)[i + 1:]}
    intra = {
        (f"m{i % 5:03d}", f"m{i:03d}") for i in range(5, 40)
    }
    assert got == rep_pairs | intra
    # union-find connectivity: everything reachable from m000's component
    parent = {m: m for m, _ in members}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in got:
        parent[find(a)] = find(b)
    assert len({find(m) for m, _ in members}) == 1


def test_without_val_col_behavior_unchanged(spark):
    """val_col=None keeps the raw-member regimes (back-compat path)."""
    sizes = {3: 40}
    pdf = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas()
    assert len(pdf) == 39 and (pdf["a"] == "k03_m000").all()


# ---- the kernel against a transcription of the oracle's pair CTEs


def _oracle_pairs(rows, with_val: bool, hot: int) -> set:
    """The grp/intra/allp/star CTEs of __spark_entry__._minhash_oracle_sql
    over (id, band_idx, band_hash, val) rows, in plain Python."""
    groups: dict = {}
    for i, bi, bh, v in rows:
        groups.setdefault((bi, bh, v if with_val else i), []).append(i)
    out, buckets = set(), {}
    for (bi, bh, _), ids in groups.items():
        rep = min(ids)
        out |= {(rep, i) for i in ids if i != rep}  # intra
        buckets.setdefault((bi, bh), []).append(rep)
    for reps in buckets.values():
        if 1 < len(reps) <= hot:  # allp
            out |= {(x, y) for x in reps for y in reps if x < y}
        elif len(reps) > hot:  # star
            out |= {(min(reps), r) for r in reps if r != min(reps)}
    return out


HOT_CFG = DedupConfig(hot_bucket_threshold=2)  # 32 reps with the collapse


@given(
    st.lists(st.tuples(st.integers(0, 59), st.integers(0, 1), st.integers(0, 5)),
             max_size=120),
    st.lists(st.integers(0, 3), min_size=60, max_size=60),
    st.booleans(),
    st.booleans(),
)
@settings(max_examples=12, deadline=None)
def test_kernel_matches_oracle_ctes(spark, members, vals, with_val, str_ids):
    """Random bucket tables plus one planted medium bucket (32 distinct
    values = 16·hot: the largest all-pairs bucket under the collapse)
    and one hot bucket (41 > 16·hot: star), both holding an identical-
    value flood.  Arrow batches of 7 rows make buckets span batches."""
    rows = [(i, bi, bh, vals[i]) for i, bi, bh in members]
    rows += [(i, 0, 1000, 7 * i) for i in range(100, 131)]
    rows += [(i, 1, 2000, 7 * i) for i in range(200, 240)]
    rows += [(i, bi, bh, 5) for bi, bh in ((0, 1000), (1, 2000))
             for i in range(300, 310)]
    if str_ids:  # unpadded: "1000" < "99", unlike the integers
        rows = [(str(i), bi, bh, v) for i, bi, bh, v in rows]
    pdf = pd.DataFrame(rows, columns=["id", "band_idx", "band_hash", "_vhash"])
    val_col = "_vhash" if with_val else None
    hot = HOT_CFG.hot_bucket_threshold * (16 if with_val else 1)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = candidate_pairs_from_buckets(
            spark.createDataFrame(pdf), HOT_CFG, val_col=val_col).toPandas()
    finally:
        spark.conf.set(conf, old)
    assert len(got) == len(set(zip(got["a"], got["b"])))
    assert set(zip(got["a"], got["b"])) == _oracle_pairs(rows, with_val, hot)


def test_kernel_plan_one_python_pass_no_joins(spark):
    """Between the key table and the final dedupe the plan is an
    exchange, a sort and ONE MapInPandas: no join of any kind."""
    members = [(f"m{i:03d}", i % 5) for i in range(40)]
    df = candidate_pairs_from_buckets(
        _valued_bucket_df(spark, members), CFG, val_col="_vhash")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"MapInPandas", final)) == 1, final
    assert not re.search(r"(SortMerge|BroadcastHash|ShuffledHash)Join", final), final
