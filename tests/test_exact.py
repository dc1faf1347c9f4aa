"""Exact tier vs brute-force oracle (SURVEY.md §7 step 2)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from deduplication_and_compression_spark.operators.assign import (
    assignments_from_labels, dedup_ratio, payload_bytes, savings,
)
from deduplication_and_compression_spark.operators.components import (
    connected_components,
)
from deduplication_and_compression_spark.operators.exact import exact_pairs
from tests.conftest import pairs_set, transitive_closure_pairs


def brute_force_exact(images: pd.DataFrame) -> set[tuple[str, str]]:
    groups: dict[tuple, list[str]] = {}
    for r in images.itertuples():
        groups.setdefault((bytes(r.bytes), r.caption), []).append(r.image_id)
    out = set()
    for ids in groups.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                out.add((ids[i], ids[j]))
    return out


def test_exact_pairs_match_oracle(images_df, fixture_pdf):
    images, _ = fixture_pdf
    oracle = brute_force_exact(images)
    got = pairs_set(exact_pairs(images_df).toPandas())
    # engine emits star pairs (rep,member); closure must equal oracle closure
    assert transitive_closure_pairs(got) == oracle
    # and no false positives even before closure
    assert got <= oracle


def exact_assignments(images_df):
    """The pipeline's route to exact-tier assignments: star pairs →
    connected components → labels joined back onto every row."""
    labels = connected_components(exact_pairs(images_df).select("a", "b"))
    return assignments_from_labels(images_df, labels)


def test_exact_assignments_first_occurrence_rule(images_df, fixture_pdf):
    images, _ = fixture_pdf
    asg = exact_assignments(images_df).toPandas()
    assert len(asg) == len(images)
    oracle = brute_force_exact(images)
    closure = transitive_closure_pairs(oracle)
    # representative = min image_id of its cluster
    comp: dict[str, set[str]] = {}
    for a, b in closure:
        comp.setdefault(a, {a}).add(b)
        comp.setdefault(b, {b}).add(a)
    by_id = asg.set_index("image_id")
    for iid, members in comp.items():
        expect_rep = min(members | {iid})
        assert by_id.loc[iid, "representative_id"] == expect_rep
        assert by_id.loc[iid, "is_duplicate"] == (iid != expect_rep)
    # caption equality within exact clusters (input_hint invariant)
    cap = images.set_index("image_id")["caption"]
    dups = asg[asg.is_duplicate]
    assert all(cap[r.image_id] == cap[r.representative_id] for r in dups.itertuples())


def test_savings_accounting(images_df, fixture_pdf):
    images, _ = fixture_pdf
    asg = exact_assignments(images_df)
    pay = payload_bytes(images_df)
    sav = savings(asg, pay).toPandas()
    # oracle
    sizes = {
        r.image_id: len(bytes(r.bytes)) + len(r.caption.encode()) for r in images.itertuples()
    }
    asg_pdf = asg.toPandas()
    import collections
    agg = collections.defaultdict(lambda: [0, 0, None])
    for r in asg_pdf.itertuples():
        e = agg[r.cluster_id]
        e[0] += 1
        e[1] += sizes[r.image_id]
        if not r.is_duplicate:
            e[2] = sizes[r.image_id]
    expect = {
        cid: (m, bt, bt - rep) for cid, (m, bt, rep) in agg.items() if m > 1
    }
    got = {r.cluster_id: (r.members, r.bytes_total, r.bytes_saved) for r in sav.itertuples()}
    assert got == expect
    # global ratio row exists and is consistent
    ratio = dedup_ratio(asg, pay).toPandas().iloc[0]
    assert ratio.rows_total == len(images)
    assert ratio.bytes_after_dedup + sum(
        v[2] for v in expect.values()
    ) == ratio.bytes_total


def test_hot_cluster_present(fixture_pdf):
    """The generator must plant a skew-exercising hot cluster (~5% of N)."""
    images, truth = fixture_pdf
    exact = truth[truth.tier == "exact"]
    from collections import Counter
    deg = Counter(exact["a"]).most_common(1)
    assert deg and deg[0][1] >= 40  # hot rep paired with ≥40 members


def test_exact_dedup_docs_null_text_rows_kept(spark):
    """md5(NULL) is NULL; the groupBy+join-back shape must keep the
    null-hash rows grouped together (null-safe join), matching the SQL
    window oracle's partition semantics (r4 code-review finding)."""
    from deduplication_and_compression_spark.operators.textops import (
        exact_dedup_docs,
    )
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["rep_id"], r["is_duplicate"])
           for r in exact_dedup_docs(df).collect()}
    assert out == {1: (1, False), 2: (1, True), 3: (3, False)}


def test_zipf_generator_edge_sizes():
    from deduplication_and_compression_spark.fixtures.generator import (
        generate_zipf_docs,
    )
    docs, truth = generate_zipf_docs(1, seed=3)
    assert len(docs) == 1 and len(truth) == 0
    docs, truth = generate_zipf_docs(2, seed=3)
    assert len(docs) == 2 and len(truth) == 1


def test_leakage_safe_split_cluster_coherent(spark, images_df):
    """Every member of a cluster gets the SAME split (the leakage
    guarantee), singletons are their own cluster, the train fraction
    lands near frac_train, assignment is deterministic, and salt
    re-deals it without touching membership."""
    import hashlib

    from deduplication_and_compression_spark.operators.assign import (
        leakage_safe_split,
    )
    from deduplication_and_compression_spark.operators.components import (
        connected_components,
    )
    from deduplication_and_compression_spark.operators.exact import exact_pairs

    pairs = exact_pairs(images_df)
    labels = connected_components(pairs.select("a", "b"))
    asg = assignments_from_labels(images_df, labels)
    out = leakage_safe_split(asg, frac_train=0.9).toPandas()

    assert len(out) == images_df.count()
    # cluster coherence: one split value per cluster_id
    per_cluster = out.groupby("cluster_id")["split"].nunique()
    assert (per_cluster == 1).all()
    # fraction lands near 0.9 at cluster granularity (binomial over
    # ~independent 60-bit hashes; ±6% is ~4 sigma at this n)
    frac = (out["split"] == "train").mean()
    assert 0.84 < frac < 0.96, frac
    # deterministic: bucket is exactly the md5-prefix rule
    row = out.iloc[0]
    want = int(hashlib.md5(row["cluster_id"].encode()).hexdigest()[:15], 16) % 10000
    assert int(row["split_bucket"]) == want
    # re-run identical; salted run differs somewhere but keeps coherence
    again = leakage_safe_split(asg, frac_train=0.9).toPandas()
    assert out.sort_values("image_id").reset_index(drop=True).equals(
        again.sort_values("image_id").reset_index(drop=True))
    salted = leakage_safe_split(asg, frac_train=0.9, salt="s1").toPandas()
    assert (salted.groupby("cluster_id")["split"].nunique() == 1).all()
    merged = out.merge(salted, on="image_id", suffixes=("", "_s"))
    assert (merged["split_bucket"] != merged["split_bucket_s"]).any()


def test_elect_representatives_policy(spark):
    """Highest score wins; ties and all-null-score clusters fall back
    to min id; singletons rep themselves; output covers every row."""
    import pandas as pd

    from deduplication_and_compression_spark.operators.assign import (
        elect_representatives,
    )

    asg = spark.createDataFrame(pd.DataFrame({
        "doc_id":     ["a1", "a2", "a3", "b1", "b2", "c1", "c2", "s1"],
        "cluster_id": ["a1", "a1", "a1", "b1", "b1", "c1", "c1", "s1"],
    }))
    scores = spark.createDataFrame(
        [("a1", 10), ("a2", 99), ("a3", 99),   # tie at 99 -> min id a2
         ("b1", None),                         # b2's row MISSING: the
         # left join makes it behave like a null score (r6 review) —
         # all-null/missing cluster b -> min id b1
         ("c1", 5), ("c2", None),              # null loses to 5 -> c1
         ("s1", 1)],
        "doc_id string, quality_bp long",
    )
    out = elect_representatives(asg, scores, id_col="doc_id").toPandas()
    rep = dict(zip(out["doc_id"], out["rep_id"]))
    assert rep == {"a1": "a2", "a2": "a2", "a3": "a2",
                   "b1": "b1", "b2": "b1",
                   "c1": "c1", "c2": "c1", "s1": "s1"}
    dup = dict(zip(out["doc_id"], out["is_duplicate"]))
    assert dup == {d: (d != r) for d, r in rep.items()}


def test_split_and_election_plan_shapes(spark):
    """The docstring scale claims as plan gates: leakage_safe_split
    adds NO exchange (pure per-row map over the input partitioning);
    elect_representatives plans keyed joins + partial aggs — no Window
    over the corpus, no cartesian product."""
    import pandas as pd

    from deduplication_and_compression_spark.operators.assign import (
        elect_representatives, leakage_safe_split,
    )

    asg = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["a"], "cluster_id": ["a"]}))
    scores = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["a"], "quality_bp": [1]}))
    split_plan = (leakage_safe_split(asg, id_col="doc_id")
                  ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in split_plan, split_plan
    elect_plan = (elect_representatives(asg, scores, id_col="doc_id")
                  ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in elect_plan, elect_plan
    assert "Cartesian" not in elect_plan, elect_plan
