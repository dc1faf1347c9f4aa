"""MinHash/LSH tier vs brute-force O(n²) Jaccard oracle."""

from __future__ import annotations

import numpy as np
import pytest

from deduplication_and_compression_spark.functions import hashing as H
from deduplication_and_compression_spark.operators.minhash_lsh import (
    band_keys, estimate_at_least, estimate_passes, minhash_pairs,
    minhash_signatures, verify_jaccard,
)
from deduplication_and_compression_spark.operators.substring import verify_substring
from tests.conftest import executed_python_nodes, pairs_set, transitive_closure_pairs


@pytest.fixture(scope="module")
def jaccard_oracle(fixture_pdf, cfg):
    """All (a,b) pairs with TRUE shingle-Jaccard ≥ threshold."""
    images, _ = fixture_pdf
    ids = images["image_id"].tolist()
    sets = [
        frozenset(H.char_kgram_hashes(t, cfg.shingle_k).tolist())
        for t in images["caption"]
    ]
    out = set()
    for i in range(len(ids)):
        si = sets[i]
        for j in range(i + 1, len(ids)):
            sj = sets[j]
            u = len(si | sj)
            jac = (len(si & sj) / u) if u else 1.0
            if jac >= cfg.jaccard_threshold:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def test_signature_estimates_jaccard(fixture_pdf, cfg):
    """MinHash lane-agreement ≈ true Jaccard (error bound ~3σ)."""
    images, truth = fixture_pdf
    near = truth[truth.tier == "minhash"].head(30)
    caps = images.set_index("image_id")["caption"]
    seeds = H.make_seeds(cfg.num_perm, cfg.minhash_seed)
    for r in near.itertuples():
        sa = H.minhash_signature(H.char_kgram_hashes(caps[r.a], cfg.shingle_k), seeds)
        sb = H.minhash_signature(H.char_kgram_hashes(caps[r.b], cfg.shingle_k), seeds)
        est = float(np.mean(sa == sb))
        ta = set(H.char_kgram_hashes(caps[r.a], cfg.shingle_k).tolist())
        tb = set(H.char_kgram_hashes(caps[r.b], cfg.shingle_k).tolist())
        true = len(ta & tb) / len(ta | tb)
        sigma = (true * (1 - true) / cfg.num_perm) ** 0.5
        assert abs(est - true) <= max(3.5 * sigma, 0.06)


def test_minhash_pairs_recall_and_precision(images_df, fixture_pdf, jaccard_oracle, cfg):
    got = pairs_set(minhash_pairs(images_df, cfg).toPandas())
    # no false positives: every emitted edge really has J >= threshold
    assert got <= jaccard_oracle
    # recall vs planted minhash-tier truth (all planted at >= plant_jaccard)
    _, truth = fixture_pdf
    planted = pairs_set(truth[truth.tier == "minhash"])
    closure = transitive_closure_pairs(got)
    recall = len(planted & closure) / len(planted)
    assert recall >= 0.99, f"minhash tier recall {recall:.4f}"
    # exact-dup captions are trivially J=1 pairs; LSH must catch them too
    planted_exact = pairs_set(truth[truth.tier == "exact"])
    exact_recall = len(planted_exact & closure) / len(planted_exact)
    assert exact_recall >= 0.99, f"exact-via-minhash recall {exact_recall:.4f}"


def test_estimate_numpy_twin_matches_jvm(spark, cfg):
    """estimate_passes (the screen probe's estimate) keeps exactly the
    signature pairs the JVM estimate_at_least keeps, at every
    agreeing-lane count from 0 to num_perm — so at the threshold − 3σ
    boundary too — and at two more thresholds."""
    from dataclasses import replace

    from pyspark.sql import types as T

    rng = np.random.default_rng(5)
    p = cfg.num_perm
    a = rng.integers(-2**62, 2**62, size=(p + 1, p))
    b = a.copy()
    for n in range(p + 1):  # row n agrees on exactly n lanes
        lanes = rng.permutation(p)[n:]
        b[n, lanes] = ~b[n, lanes]
    schema = T.StructType([T.StructField(c, T.ArrayType(T.LongType()))
                           for c in ("a", "b")])
    df = spark.createDataFrame([(x.tolist(), y.tolist()) for x, y in zip(a, b)], schema)
    for t in (cfg.jaccard_threshold, 0.5, 0.9):
        c = replace(cfg, jaccard_threshold=t)
        jvm = [r[0] for r in df.select(estimate_at_least("a", "b", c)).collect()]
        rows = np.arange(p + 1)
        assert estimate_passes(a, rows, b, rows, c).tolist() == jvm, t
        assert 0 < sum(jvm) < p + 1


def test_band_count(images_df, cfg):
    sigs = minhash_signatures(images_df, cfg)
    bk = band_keys(sigs, cfg)
    n = images_df.count()
    assert bk.count() == n * cfg.lsh_bands


def test_verify_jaccard_runs_the_kernel_once(spark, cfg):
    """One Python node per text verify (verify_jaccard and
    verify_substring): a scalar UDF filtered on its own output was
    copied into the Filter by predicate pushdown, so every candidate was
    scored by two ArrowEvalPython nodes."""
    caps = ["a striped cat sits on the warm windowsill watching birds",
            "a striped cat sits on the warm windowsill watching crows",
            "heavy rain over the harbor as fishing boats return home"]
    df = spark.createDataFrame(list(zip(["i0", "i1", "i2"], caps)),
                               "image_id string, caption string")
    cands = spark.createDataFrame([("i0", "i1"), ("i0", "i2")], "a string, b string")
    for verify, cols in ((verify_jaccard, ["a", "b", "jaccard"]),
                         (verify_substring, ["a", "b"])):
        out = verify(cands, df, cfg)
        nodes = executed_python_nodes(out)
        assert len(nodes) == 1 and nodes[0].startswith("MapInPandas"), nodes
        assert out.columns == cols, verify.__name__
        rows = out.collect()
        assert [(r["a"], r["b"]) for r in rows] == [("i0", "i1")], verify.__name__
        assert out.schema["a"].dataType == cands.schema["a"].dataType
    out = verify_jaccard(cands, df, cfg)
    assert "jaccard#" in executed_python_nodes(out)[0]
    expect = H.jaccard_batch([caps[0]], [caps[1]], cfg.shingle_k)[0]
    assert out.collect()[0]["jaccard"] == expect
