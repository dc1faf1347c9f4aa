"""Unit/property tests for the numpy text kernels."""

from __future__ import annotations

import io
import math
from contextlib import nullcontext, redirect_stdout

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from deduplication_and_compression_spark.functions import hashing as H
from deduplication_and_compression_spark.functions.text import (
    lcs_length, suffix_array, winnow_fingerprints,
)
from tests.conftest import above_gate


def _scalar_token_hashes(text: str) -> np.ndarray:
    """Independent per-token scalar reference for the batched kernel:
    ASCII-whitespace split over UTF-8 bytes, length-prefixed polynomial
    fold, splitmix64."""
    ws = set(b"\t\n\x0b\x0c\r ")
    buf = text.encode("utf-8")
    toks, cur = [], []
    for ch in buf:
        if ch in ws:
            if cur:
                toks.append(bytes(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        toks.append(bytes(cur))
    out = np.empty(len(toks), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, t in enumerate(toks):
            acc = np.uint64(len(t))
            for c in t:
                acc = acc * H._POLY_BASE + np.uint64(c)
            out[i] = acc
    return H.splitmix64(out)


@given(st.lists(st.text(alphabet="abcdé漢 \t\n", max_size=80), max_size=20))
@settings(max_examples=60, deadline=None)
def test_token_hashes_batch_matches_scalar(texts):
    flat, counts = H.token_hashes_batch(texts)
    assert counts.sum() == flat.shape[0]
    pos = 0
    for i, t in enumerate(texts):
        ref = _scalar_token_hashes(t)
        got = flat[pos : pos + counts[i]]
        pos += counts[i]
        assert ref.shape == got.shape and (ref == got).all(), repr(t)


@given(st.lists(st.text(alphabet="abcdef \t", max_size=120), max_size=15))
@settings(max_examples=40, deadline=None)
def test_simhash_batch_matches_per_row_reference(texts):
    got = H.simhash_batch(texts)
    ref = np.array(
        [H.simhash_from_features(_scalar_token_hashes(t)) for t in texts],
        dtype=np.int64,
    )
    assert (got == ref).all()


def test_token_hashes_long_token_fallback():
    """Tokens past the vectorized width take the scalar path — outputs
    must be identical either way."""
    texts = ["x" * (H._LONG_TOKEN + 37) + " short", "y" * 500]
    flat, counts = H.token_hashes_batch(texts)
    assert counts.tolist() == [2, 1]
    ref = np.concatenate([_scalar_token_hashes(t) for t in texts])
    assert (flat == ref).all()


def _naive_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


@given(st.binary(min_size=0, max_size=60))
@settings(max_examples=60, deadline=None)
def test_suffix_array_sorts_suffixes(data):
    s = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    sa = suffix_array(s)
    suffixes = [bytes(data[i:]) for i in sa]
    assert suffixes == sorted(bytes(data[i:]) for i in range(len(data)))


@given(
    st.text(alphabet="abcd ", min_size=0, max_size=50),
    st.text(alphabet="abcd ", min_size=0, max_size=50),
)
@settings(max_examples=80, deadline=None)
def test_lcs_matches_naive(a, b):
    assert lcs_length(a, b) == _naive_lcs(a, b)


@given(
    st.text(alphabet="abcdefgh ", min_size=40, max_size=120),
    st.integers(min_value=0, max_value=60),
    st.text(alphabet="xyzuvw", min_size=0, max_size=30),
    st.text(alphabet="xyzuvw", min_size=0, max_size=30),
)
@settings(max_examples=60, deadline=None)
def test_winnowing_guarantee(base, start, pre, post):
    """Any shared substring of length >= L yields a shared fingerprint."""
    L = 32
    start = min(start, len(base) - L)
    shared = base[start : start + L]
    a = base
    b = pre + shared + post
    fa = set(winnow_fingerprints(a, L).tolist())
    fb = set(winnow_fingerprints(b, L).tolist())
    assert fa & fb, "winnowing missed a planted shared L-substring"


# ---------------------------------------------------------------- Zipf regime

def test_zipf_plans_agree_and_find_planted_pairs(spark):
    """On a Zipfian-vocabulary corpus (realistic token frequencies)
    both exact Jaccard-join plans must produce identical output and
    every planted near-dup pair must be found (VERDICT r3 Next #2)."""
    from deduplication_and_compression_spark.fixtures.generator import (
        generate_zipf_docs,
    )
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs,
        bigram_jaccard_pairs_allpairs,
    )

    docs_pdf, truth = generate_zipf_docs(250, seed=13)
    docs = spark.createDataFrame(docs_pdf)
    pp = {(r.a, r.b, r.jaccard_bp)
          for r in bigram_jaccard_pairs(docs).collect()}
    ap = {(r.a, r.b, r.jaccard_bp)
          for r in bigram_jaccard_pairs_allpairs(docs).collect()}
    assert pp == ap and len(pp) > 0
    found = {(a, b) for a, b, _ in pp}
    planted = {(int(r.a), int(r.b)) for r in truth.itertuples()}
    assert planted <= found, planted - found


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _edge_docs(spark, id_type: str):
    """Null and duplicate doc_id rows (identical and paragraph rows),
    null/empty/one-word texts, negative ids and (bigint, string) ids
    past 2^31; string ids are the integers' decimal text, whose order
    is not the integers'."""
    big = 1 << 30 if id_type == "int" else 1 << 33
    rows = [
        (None, "a b c"), (1, "a b c"), (1, "a b c"), (2, "a b c d"),
        (3, None), (4, ""), (5, "x"), (-7, "a b c"), (big, "a b c d"),
        (6, "  a  b  "), (7, "b c"), (-(big + 1), "c d e"), (9, "c d e f"),
        (10, "a b c"), (10, "d e f"),
    ]
    if id_type == "string":
        rows = [(None if d is None else str(d), t) for d, t in rows]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


@pytest.mark.parametrize("corpus", ["zipf", "edge_bigint", "edge_int",
                                    "edge_string", "empty"])
@pytest.mark.parametrize("threshold_bp", [1, 5000])
def test_allpairs_direct_kernel_matches_join(spark, corpus, threshold_bp):
    """The direct-addressed counting kernel and the PPJoin plan it
    hands off to above the broadcast gate give the same rows, values
    and column types."""
    from deduplication_and_compression_spark.fixtures.generator import (
        generate_zipf_docs,
    )
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs_allpairs,
    )

    if corpus == "zipf":
        docs = spark.createDataFrame(generate_zipf_docs(250, seed=13)[0])
    elif corpus == "empty":
        docs = spark.createDataFrame([], "doc_id int, text string")
    else:
        docs = _edge_docs(spark, corpus.split("_")[1])

    def run():
        out = bigram_jaccard_pairs_allpairs(docs, threshold_bp)
        rows = [tuple(r) for r in out.collect()]
        assert len(rows) == len(set(rows))
        return set(rows), out.dtypes, _plan(out)

    direct, direct_types, direct_plan = run()
    with above_gate(spark):
        joined, join_types, join_plan = run()
    assert "MapInPandas" in direct_plan and "MapInPandas" not in join_plan
    assert direct == joined
    assert direct_types == join_types
    assert (len(direct) > 0) == (corpus != "empty")
    assert all(bp <= 10000 for _, _, bp in direct)


def test_allpairs_direct_kernel_plan(spark):
    """Integral and string ids take the direct kernel under the gate:
    one MapInPandas and no join on the bigram.  Threshold -1 takes the
    PPJoin plan, with no MapInPandas."""
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs_allpairs,
    )

    docs = _edge_docs(spark, "bigint")
    as_str = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    for d in (docs, as_str):
        plan = _plan(bigram_jaccard_pairs_allpairs(d))
        assert plan.count("MapInPandas") == 1, plan
        assert "Join" not in plan and "bigram" not in plan, plan
        with above_gate(spark):
            plan = _plan(bigram_jaccard_pairs_allpairs(d))
        assert "MapInPandas" not in plan and "array_intersect" in plan, plan


def test_allpairs_duplicate_rows_bounded_jaccard(spark):
    """Duplicate doc_id rows are one set per doc: under ANSI no plan
    divides by zero, and no jaccard_bp exceeds 10000."""
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs, bigram_jaccard_pairs_allpairs,
        bigram_jaccard_pairs_auto,
    )

    assert spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    docs = spark.createDataFrame([(1, "a b"), (1, "a b"), (2, "a b"), (2, "a b")],
                                 "doc_id bigint, text string")
    for gate in (nullcontext, above_gate):
        for plan in (bigram_jaccard_pairs_allpairs, bigram_jaccard_pairs,
                     bigram_jaccard_pairs_auto):
            with gate(spark):
                got = {tuple(r) for r in plan(docs, 0).collect()}
            assert got == {(1, 2, 10000)}, (gate, plan)


def _naive_pairs(doc_ids, bigrams, threshold_bp):
    """Reference for the direct kernel: Jaccard over each doc's set of
    non-null bigrams, pair by pair."""
    sets: dict = {}
    for d, g in zip(doc_ids, bigrams):
        if g is not None:
            sets.setdefault(d, set()).add(g)
    out = set()
    docs = sorted(sets)
    for x, a in enumerate(docs):
        for b in docs[x + 1:]:
            i = len(sets[a] & sets[b])
            if i == 0:
                continue
            bp = math.floor(float(i) / float(len(sets[a] | sets[b])) * 10000.0)
            if bp >= threshold_bp:
                out.add((a, b, bp))
    return out


@given(
    st.lists(st.tuples(st.integers(-3, 12),
                       st.one_of(st.none(), st.sampled_from("pqrst"))),
             max_size=100),
    st.integers(-50, 10050),
    st.integers(1, 4),
    # (_COUNTER_BUDGET, _MIN_DENSE_BLOCK, _GATHER_CAP): one dense
    # block; dense blocks of a few docs gathered in small passes; sort
    st.sampled_from([(1 << 22, 32, 1 << 22), (64, 1, 7), (4, 32, 5)]),
)
@example([(d, g) for d in range(10) for g in "pqrs"] + [(3, "p"), (4, None)],
         0, 2, (64, 1, 7))
@example([(d, g) for d in range(10) for g in "pqrs"] + [(3, "p"), (4, None)],
         0, 2, (4, 32, 5))
@settings(max_examples=80, deadline=None)
def test_count_block_pairs_matches_naive(rows, threshold_bp, n_tasks, sizing):
    """The kernel's numpy half against a pair-by-pair count, over any
    task split, with the sizing constants shrunk so dense blocks of a
    few docs, sort-counted blocks and a doc's gather split over several
    passes all run."""
    import pandas as pd

    from deduplication_and_compression_spark.operators import textops

    names = ("_COUNTER_BUDGET", "_MIN_DENSE_BLOCK", "_GATHER_CAP")
    old = [getattr(textops, n) for n in names]
    for n, v in zip(names, sizing):
        setattr(textops, n, v)
    try:
        doc_ids = np.array([d for d, _ in rows], dtype=np.int64)
        bigrams = pd.Series([g for _, g in rows], dtype=object)
        inc, vol = textops._factorize_incidence(doc_ids, bigrams)
        cuts = np.linspace(0, len(vol) - 1, n_tasks + 1).astype(int).tolist()
        got = []
        for lo, hi in zip(cuts, cuts[1:]):
            for f in textops._count_block_pairs(inc, lo, hi, threshold_bp):
                got += list(f.itertuples(index=False, name=None))
    finally:
        for n, v in zip(names, old):
            setattr(textops, n, v)
    assert len(got) == len(set(got))
    assert set(got) == _naive_pairs(doc_ids.tolist(), list(bigrams), threshold_bp)


def test_jaccard_plan_pick_per_regime():
    """The cost-based pick across its three measured regimes (numbers
    from the r4 bench host pinning, see ALLPAIRS_WORK_FLOOR):
    tiny-vocab → allpairs; Zipf-but-small → allpairs (work floor);
    Zipf at scale → ppjoin."""
    from deduplication_and_compression_spark.operators.textops import (
        choose_jaccard_plan,
    )
    # bench docs regime: ~931 distinct bigrams over 5000 docs → dense
    # posting lists, no rare tokens for the prefix filter to exploit
    assert choose_jaccard_plan(931, 5000, 2_000_000_000) == "allpairs"
    # 10k-doc Zipf fixture: rare tail exists but est. 31M join rows —
    # the naive join finishes before ppjoin's extra stages amortize
    assert choose_jaccard_plan(80_000, 10_000, 31_000_000) == "allpairs"
    # 30k-doc Zipf fixture: 280M est. join rows → pruning pays
    assert choose_jaccard_plan(240_000, 30_000, 280_000_000) == "ppjoin"
    # unknown volume: fall back to the vocab-vs-corpus discriminator
    assert choose_jaccard_plan(240_000, 30_000) == "ppjoin"
    assert choose_jaccard_plan(931, 5000) == "allpairs"


def test_token_heavy_hitters_semantics_and_plan(spark):
    """Deterministic top-k: occurrences DESC then token ASC; doc_freq
    counts documents, not occurrences; null/empty texts contribute
    nothing; and the final k is a TakeOrderedAndProject (per-partition
    heads), never a global Sort."""
    import io
    from contextlib import redirect_stdout

    import pandas as pd

    from deduplication_and_compression_spark.operators.textops import (
        token_heavy_hitters,
    )

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b a", "a c", None, "   "],
    }))
    out = token_heavy_hitters(df, k=2)
    got = out.toPandas()
    assert list(got.itertuples(index=False, name=None)) == [
        ("a", 3, 2),  # 2 occurrences in doc 1 + 1 in doc 2; 2 docs
        ("b", 1, 1),  # ties with c at 1; 'b' < 'c' wins the cut
    ]
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan


def test_scrub_pii_semantics(spark):
    """Emails, dotted-quad IPs and phone shapes are replaced by
    placeholder tokens and counted; clean text is untouched; null text
    stays null with null counts."""
    import pandas as pd

    from deduplication_and_compression_spark.operators.textops import scrub_pii

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [
            "mail a.b+c@ex-ample.co.uk or ping 10.0.0.1 now",
            "call 555-123-4567 then 1.2.3.4 and foo@bar.io",
            "no pii here just words 123 45.6",
            None,
            "write admin@10.0.0.1.com for access",  # IP inside an email
        ],
    }))
    out = scrub_pii(df).toPandas().set_index("doc_id")
    # overlap: one [EMAIL] placeholder, and the counts reconcile —
    # the inner IP must NOT also count (r6 code-review fix)
    assert out.loc[5, "text_clean"] == "write [EMAIL] for access"
    assert (int(out.loc[5, "n_emails"]), int(out.loc[5, "n_ips"])) == (1, 0)
    assert out.loc[1, "text_clean"] == "mail [EMAIL] or ping [IP] now"
    assert out.loc[2, "text_clean"] == "call [PHONE] then [IP] and [EMAIL]"
    assert out.loc[3, "text_clean"] == "no pii here just words 123 45.6"
    assert pd.isna(out.loc[4, "text_clean"])
    assert (int(out.loc[1, "n_emails"]), int(out.loc[1, "n_ips"]),
            int(out.loc[2, "n_phones"])) == (1, 1, 1)
    assert (out.loc[3, ["n_emails", "n_ips", "n_phones"]] == 0).all()
    assert out.loc[4, ["n_emails", "n_ips", "n_phones"]].isna().all()
