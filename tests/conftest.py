from __future__ import annotations

import re
from contextlib import contextmanager

import pandas as pd
import pytest

from deduplication_and_compression_spark.config import DEFAULT_CONFIG
from deduplication_and_compression_spark.fixtures.generator import generate_images
from deduplication_and_compression_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="dedup-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cfg():
    return DEFAULT_CONFIG


@pytest.fixture(scope="session")
def fixture_pdf():
    """(images, truth_pairs) pandas frames, 1000 rows, seed 42."""
    return generate_images(1000, seed=42)


@pytest.fixture(scope="session")
def images_df(spark, fixture_pdf, tmp_path_factory):
    images, _ = fixture_pdf
    p = tmp_path_factory.mktemp("fixture") / "images.parquet"
    images.to_parquet(p, index=False)
    df = spark.read.parquet(str(p)).repartition(8, "image_id").cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def truth_pairs(fixture_pdf) -> pd.DataFrame:
    return fixture_pdf[1]


@contextmanager
def above_gate(spark):
    """Turn broadcasting off, which sends every broadcast-gated operator
    (the exact Jaccard, the screen) to its plan above the gate; the
    prior threshold is restored afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def executed_python_nodes(df) -> list[str]:
    """Run ``df`` and return the Python-evaluating nodes of its final
    adaptive plan, one line each (a cached plan's nodes included)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return re.findall(
        r"(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow)[^\n]*", final
    )


def pairs_set(pdf: pd.DataFrame) -> set[tuple[str, str]]:
    return {(min(a, b), max(a, b)) for a, b in zip(pdf["a"], pdf["b"])}


def transitive_closure_pairs(pairs: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Union-find closure: all in-component pairs implied by the given
    edge set (clustering merges tiers, so recall is measured on the
    closure)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    out: set[tuple[str, str]] = set()
    for members in comps.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out
