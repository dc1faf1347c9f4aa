"""Skew regimes of candidate_pairs_from_buckets: plain, salted, star."""

from __future__ import annotations

import pandas as pd

from deduplication_and_compression_spark.config import DedupConfig
from deduplication_and_compression_spark.operators.minhash_lsh import (
    candidate_pairs_from_buckets,
)
from tests.conftest import pairs_set


CFG = DedupConfig(hot_bucket_threshold=16, salt_buckets=4)
# salt_floor = 16 // 4 = 4


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
    sizes = {2: 10}  # salt_floor(4) < 10 <= hot(16) → salted regime
    df = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG)
    pdf = df.toPandas()
    got = pairs_set(pdf)
    assert got == _expected_all_pairs(sizes, 2)
    assert len(pdf) == len(got)  # exactly once, no salt-induced dups


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
    """40 members, 5 distinct payloads (8 each): reps (5 <= salt_floor
    exceeded? 5 > 4 → salted regime) get ALL-PAIRS, members get
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
