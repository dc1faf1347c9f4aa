"""Pinned pipeline configuration.

The reference hard-codes its knobs (chunk cap 4096 at
/root/reference/App/Host.cpp:20, rolling-hash mask 0x0FFF at
App/Host.cpp:302, 12-bit LZW codes at Server/encoder.cpp:91-96).  We
keep the same discipline: ONE frozen config object shared by the
pipeline, the brute-force oracles, and the tests, so "identical
shingle/signature config" (BASELINE.json north_rule) is a single
source of truth rather than scattered literals.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict
import hashlib
import json


@dataclass(frozen=True)
class DedupConfig:
    # --- MinHash over caption shingles (SURVEY.md §7 step 3) ---
    shingle_k: int = 5            # character k-gram width
    num_perm: int = 128           # MinHash signature length
    lsh_bands: int = 32           # b bands ...
    lsh_rows: int = 4             # ... of r rows; b*r == num_perm
    minhash_seed: int = 0x5EED_CAFE
    jaccard_threshold: float = 0.5  # detector: edge iff true Jaccard ≥ this
    # fixture generator plants near-dup captions at ≥ this Jaccard, so the
    # per-pair LSH hit probability 1-(1-J^r)^b is ≥ 0.998 and overall
    # recall ≥ 0.99 is achievable by construction
    plant_jaccard: float = 0.65

    # --- SimHash over phash-derived image features (§7 step 4) ---
    hamming_threshold: int = 3    # pairs with Hamming(phash) <= d

    # --- Suffix-array exact-substring pass (§7 step 5) ---
    min_substring_len: int = 32   # L: shared verbatim run to count as dup

    # --- Candidate-pair generation / skew (§7 step 6) ---
    hot_bucket_threshold: int = 64  # bucket size above which we star

    # --- Connected components (§7 step 7) ---
    cc_max_iterations: int = 25
    # Edge count at or below which connected_components solves the
    # component structure on the driver with union-find instead of
    # running O(log n) large-star/small-star shuffle rounds — the same
    # size-gated distributed-vs-local decision as a broadcast-join
    # threshold (≤250k edges = a few MB collected once; each avoided
    # round costs 3 shuffles + 1 action of latency).  The distributed
    # path is unchanged above the gate and for non-integral node ids.
    cc_local_max_edges: int = 250_000

    # --- Verification invariants (BASELINE.json input_hint) ---
    psnr_threshold_db: float = 40.0

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )

    def fingerprint(self) -> str:
        """Stable hash of the config — used to validate checkpoint reuse
        (a checkpoint written under a different config must not be
        resumed from)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
