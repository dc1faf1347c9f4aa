"""SimHash/phash tier + substring tier vs brute-force oracles."""

from __future__ import annotations

import numpy as np
import pytest

from deduplication_and_compression_spark.functions import hashing as H
from deduplication_and_compression_spark.functions.text import lcs_length
from deduplication_and_compression_spark.operators.simhash import (
    hamming_block_keys, phash_hamming_pairs,
)
from deduplication_and_compression_spark.operators.substring import substring_pairs
from tests.conftest import pairs_set, transitive_closure_pairs


@pytest.fixture(scope="module")
def hamming_oracle(fixture_pdf, cfg):
    images, _ = fixture_pdf
    ids = images["image_id"].to_numpy()
    ph = images["phash"].to_numpy()
    out = set()
    for i in range(len(ids)):
        d = H.hamming64(np.full(len(ids) - i - 1, ph[i]), ph[i + 1 :])
        for j in np.flatnonzero(d <= cfg.hamming_threshold):
            jj = i + 1 + j
            out.add((min(ids[i], ids[jj]), max(ids[i], ids[jj])))
    return out


@pytest.fixture(scope="module")
def substring_oracle(fixture_pdf, cfg):
    images, _ = fixture_pdf
    ids = images["image_id"].tolist()
    caps = images["caption"].tolist()
    L = cfg.min_substring_len
    grams = [set(H.char_kgram_hashes(c, L).tolist()) for c in caps]
    out = set()
    for i in range(len(ids)):
        gi = grams[i]
        if not gi:
            continue
        for j in range(i + 1, len(ids)):
            if gi & grams[j] and lcs_length(caps[i], caps[j]) >= L:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


@pytest.fixture(scope="module")
def phash_pairs_got(images_df, cfg):
    return pairs_set(phash_hamming_pairs(images_df, cfg).toPandas())


@pytest.fixture(scope="module")
def substring_pairs_got(images_df, cfg):
    return pairs_set(substring_pairs(images_df, cfg).toPandas())


def test_phash_pairs_exact_vs_oracle(phash_pairs_got, hamming_oracle, cfg):
    got = phash_pairs_got
    # no false positives (verified by bit_count) ...
    assert got <= hamming_oracle
    # ... and pigeonhole keying is EXACT up to hot-bucket star capping:
    # closure must cover the full oracle closure
    assert transitive_closure_pairs(got) == transitive_closure_pairs(hamming_oracle)


def test_simhash_tier_recall(phash_pairs_got, fixture_pdf, cfg):
    _, truth = fixture_pdf
    planted = pairs_set(truth[truth.tier == "simhash"])
    got = transitive_closure_pairs(phash_pairs_got)
    recall = len(planted & got) / len(planted)
    assert recall >= 0.99, f"simhash tier recall {recall:.4f}"


def test_substring_pairs_vs_oracle(substring_pairs_got, substring_oracle, cfg):
    got = substring_pairs_got
    assert got <= substring_oracle  # LCS-verified → no false positives
    assert transitive_closure_pairs(got) == transitive_closure_pairs(substring_oracle)


def test_substring_tier_recall(substring_pairs_got, fixture_pdf, cfg):
    _, truth = fixture_pdf
    planted = pairs_set(truth[truth.tier == "substring"])
    got = transitive_closure_pairs(substring_pairs_got)
    recall = len(planted & got) / len(planted)
    assert recall >= 0.99, f"substring tier recall {recall:.4f}"


def test_keying_schemes_equivalent_closures(spark, images_df, cfg, hamming_oracle):
    """Both pigeonhole block geometries (d+1 one-block keys up to 10^7
    rows, C(8, 8-d) byte-block combinations above) key every row the
    right number of times and produce the same verified-edge closure —
    they are size-based physical plan alternatives, not different
    detectors."""
    from math import comb

    from tests.conftest import transitive_closure_pairs as tc
    want = tc(hamming_oracle)
    d = cfg.hamming_threshold
    for n_rows, per_row in ((None, d + 1), (10**8, comb(8, 8 - d))):
        keys = hamming_block_keys(images_df, cfg, n_rows=n_rows)
        counts = keys.groupBy("id").count().select("count").distinct().collect()
        assert [r[0] for r in counts] == [per_row], n_rows
        got = pairs_set(
            phash_hamming_pairs(images_df, cfg, n_rows=n_rows).toPandas()
        )
        assert got <= hamming_oracle, n_rows
        assert tc(got) == want, n_rows


def test_simhash_plan_build_runs_no_job(spark, images_df, cfg):
    """Without ``n_rows`` the tier keys d+1 blocks and builds its plan
    without starting a Spark job: it never counts its input."""
    sc = spark.sparkContext
    group = "simhash-plan-build"
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        phash_hamming_pairs(images_df, cfg)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert after == before, sorted(after - before)


def test_hot_bucket_far_from_hub_members_not_severed(spark, cfg):
    """Adversarial hot bucket (ADVICE r1): >hot_bucket_threshold members
    share every bucket, but many sit FARTHER than d from the bucket-min
    member.  A bare star-around-min would emit only (min, x) edges and
    verification would sever every far member; the value collapse must
    keep the closure equal to the brute-force oracle closure."""
    import pandas as pd

    base = 0x0123_4567_89AB_CDEF
    rows = []
    n_per = 20  # 4 values x 20 members = 80 > hot_bucket_threshold (64)
    # g0 (the min-id group, i.e. the star hub) is Hamming 4 (> d=3)
    # from g2 and g3; only g1 bridges everything at distance 2.  All
    # four values differ from base in block 0 only, so they share all
    # C(7,5) = 21 buckets keyed on blocks 1-7 → one 80-member hot bucket.
    values = [base ^ 0b11, base, base ^ 0b1100, base ^ 0b110000]
    for vi, v in enumerate(values):
        for m in range(n_per):
            rows.append((f"g{vi}_m{m:02d}", np.int64(np.uint64(v).astype(np.int64))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))
    got = pairs_set(phash_hamming_pairs(df, cfg).toPandas())
    ids = [r[0] for r in rows]
    ph = np.array([r[1] for r in rows], dtype=np.int64)
    oracle = set()
    for i in range(len(ids)):
        d = H.hamming64(np.full(len(ids) - i - 1, ph[i]), ph[i + 1:])
        for j in np.flatnonzero(d <= cfg.hamming_threshold):
            jj = i + 1 + j
            oracle.add((min(ids[i], ids[jj]), max(ids[i], ids[jj])))
    assert got <= oracle  # verified → no false positives
    assert transitive_closure_pairs(got) == transitive_closure_pairs(oracle)
