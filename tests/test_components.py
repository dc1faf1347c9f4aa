"""Connected components vs union-find oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from deduplication_and_compression_spark.operators.components import (
    connected_components,
)


def _oracle_labels(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for x in list(parent):
        r = find(x)
        out[x] = r
    # root label = min member; path compression above already yields min
    comp: dict[str, list[str]] = {}
    for x, r in out.items():
        comp.setdefault(r, []).append(x)
    return {x: min(members) for r, members in comp.items() for x in members}


@pytest.mark.parametrize("case", ["chain", "stars", "random", "cliqueish"])
def test_cc_local_solve_matches_distributed(spark, case):
    """Numeric-id edge sets at or below cfg.cc_local_max_edges take the
    driver union-find fast path (r7); its labels must be identical to
    the distributed star rounds' (forced via cc_local_max_edges=0) and
    to the oracle."""
    from dataclasses import replace

    from deduplication_and_compression_spark.config import DEFAULT_CONFIG

    rng = np.random.default_rng(11)
    if case == "chain":
        edges = [(i, i + 1) for i in range(200)]
    elif case == "stars":
        edges = [(k * 1000, k * 1000 + i) for k in range(5) for i in range(1, 31)]
    elif case == "random":
        edges = [(int(rng.integers(300)), int(rng.integers(300))) for _ in range(400)]
        edges = [(a, b) for a, b in edges if a != b]
    else:
        edges = [(i, j) for i in range(20) for j in range(i + 1, 20)] + [(0, 99)]
    pdf = pd.DataFrame(edges, columns=["a", "b"])
    df = spark.createDataFrame(pdf)
    local = {(r["id"], r["cluster_id"])
             for r in connected_components(df).collect()}
    dist_cfg = replace(DEFAULT_CONFIG, cc_local_max_edges=0)
    dist = {(r["id"], r["cluster_id"])
            for r in connected_components(df, dist_cfg).collect()}
    assert local == dist
    expect = {(x, r) for x, r in _oracle_labels(edges).items()}
    assert local == expect


def test_cc_empty_edges_no_crash(spark):
    df = spark.createDataFrame([], "a: long, b: long")
    assert connected_components(df).count() == 0


@pytest.mark.parametrize("case", ["chain", "stars", "random", "cliqueish"])
def test_cc_matches_union_find(spark, case):
    rng = np.random.default_rng(7)
    if case == "chain":
        edges = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(200)]
    elif case == "stars":
        edges = [(f"s{k}_hub", f"s{k}_m{i}") for k in range(5) for i in range(30)]
    elif case == "random":
        n = 300
        edges = [
            (f"r{int(rng.integers(n)):04d}", f"r{int(rng.integers(n)):04d}")
            for _ in range(400)
        ]
        edges = [(a, b) for a, b in edges if a != b]
    else:
        edges = [
            (f"c{i:02d}", f"c{j:02d}") for i in range(20) for j in range(i + 1, 20)
        ] + [("c00", "z99")]
    pdf = pd.DataFrame(edges, columns=["a", "b"])
    df = spark.createDataFrame(pdf)
    # string ids ≤ the local gate take the driver union-find (r7);
    # force the distributed star rounds too so both paths stay covered
    from dataclasses import replace as _replace

    from deduplication_and_compression_spark.config import DEFAULT_CONFIG

    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    dist = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            df, _replace(DEFAULT_CONFIG, cc_local_max_edges=0)
        ).collect()
    }
    expect = _oracle_labels(edges)
    assert got == expect
    assert dist == expect
