"""Independent correctness checks in pure Python.

Nothing here calls ``deduplication_and_compression_spark.functions``:
similarities are recomputed from plain sets, so a bug shared by the
engine's vectorized kernels cannot also hide in its check.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from fractions import Fraction
from typing import Hashable, Iterable

import pandas as pd


def kgram_jaccard(a: str | None, b: str | None, k: int) -> float:
    """Jaccard of the two texts' UTF-8 byte k-gram sets; two texts with
    no k-grams score 0 (the engine's contentless rule)."""
    ba, bb = (a or "").encode("utf-8"), (b or "").encode("utf-8")
    sa = {ba[i:i + k] for i in range(len(ba) - k + 1)}
    sb = {bb[i:i + k] for i in range(len(bb) - k + 1)}
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def word_bigrams(text: str | None) -> set[tuple[str, str]]:
    toks = (text or "").split()
    return set(zip(toks, toks[1:]))


def bigram_counts(a: str | None, b: str | None) -> tuple[int, int]:
    """(intersection, union) of the two texts' distinct word bigrams."""
    sa, sb = word_bigrams(a), word_bigrams(b)
    return len(sa & sb), len(sa | sb)


def bigram_jaccard(a: str | None, b: str | None) -> float:
    inter, union = bigram_counts(a, b)
    return inter / union if union else 0.0


def bad_jaccard_pairs(pairs: pd.DataFrame, texts: dict, threshold_bp: int) -> int:
    """Emitted (a, b, jaccard_bp) rows that fail an exact re-check:
    the true bigram Jaccard must reach the threshold and the emitted
    basis points must match floor(J * 10^4) up to one unit of float
    rounding."""
    bad = 0
    for a, b, bp in zip(pairs["a"], pairs["b"], pairs["jaccard_bp"]):
        inter, union = bigram_counts(texts[a], texts[b])
        exact = Fraction(inter, union) if union else Fraction(0)
        if not (a < b and exact * 10_000 >= threshold_bp
                and abs(int(bp) - int(exact * 10_000)) <= 1):
            bad += 1
    return bad


def closure_labels(pairs: Iterable[tuple[Hashable, Hashable]]) -> dict:
    """Union-find over ``pairs``: node -> min member of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def pair_recall(truth: pd.DataFrame, cluster_of: dict) -> float:
    """Share of planted pairs whose two ends share an output cluster."""
    if truth.empty:
        return 1.0
    hits = sum(cluster_of.get(a, a) == cluster_of.get(b, b)
               for a, b in zip(truth["a"], truth["b"]))
    return hits / len(truth)


def pair_precision(cluster_of: dict, truth: pd.DataFrame) -> float:
    """Pair-counting precision of the output clusters against the
    closure of the truth pairs: of all pairs placed in one output
    cluster, the share that also share a truth component."""
    truth_of = closure_labels(zip(truth["a"], truth["b"]))
    out_sizes = Counter(cluster_of.values())
    joint = Counter((c, truth_of.get(x, x)) for x, c in cluster_of.items())
    predicted = sum(n * (n - 1) // 2 for n in out_sizes.values())
    agreed = sum(n * (n - 1) // 2 for n in joint.values())
    return agreed / predicted if predicted else 1.0


def frame_hash(pdf: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent content hash of ``cols``."""
    rows = sorted(map(repr, pdf[cols].itertuples(index=False, name=None)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
