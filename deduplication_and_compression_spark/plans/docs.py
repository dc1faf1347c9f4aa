"""Checkpoint-free tiered document-corpus pairs: the same tier builders
``plans.pipeline.run_pipeline`` runs over the ``DOCS`` contract, built
as one lazy plan with no checkpoint tables.

The docs CLI (``main.run_docs_mode``) goes through ``run_pipeline``
itself; this entry point is for callers that want the (a, b, tier)
union over a (doc_id, text) frame without an output directory.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame

from ..config import DedupConfig, DEFAULT_CONFIG
from ..operators.pairs import union_pairs
from .pipeline import ALL_TIERS, DOCS, tier_frames

DOC_TIERS = ALL_TIERS


def docs_tier_pairs(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    tiers: tuple[str, ...] = DOC_TIERS,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """(a, b, tier) candidate-pair union over the requested doc tiers.

    ``n_docs`` picks the SimHash tier's block count (d+1 blocks up to
    10^7 docs, 8 above; the caller has usually just counted the corpus
    to materialize its cache anyway); omitted, the tier keys d+1
    blocks.  Plan build runs no count either way.

    Caller owns the persist scope: each tier's signatures, key tables
    and pairs are scoped-persisted here, as are the tiers' internal
    candidate tables.
    """
    contract = replace(DOCS, id_col=id_col, text_col=text_col,
                       exact_cols=(text_col,))
    return union_pairs(**tier_frames(docs, contract, cfg, tiers, n_rows=n_docs))
