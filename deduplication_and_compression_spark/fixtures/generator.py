"""Deterministic synthetic image+caption fixture generator.

Implements FIXTURES.md: an ``images`` table with exactly the
BASELINE.json ``input_hint`` schema
``(image_id string, bytes binary, w int32, h int32, fmt string,
caption string, phash int64)`` plus a golden ``truth_pairs`` table
``(a, b, tier)``.

Planted structure mirrors the reference's test corpus
(/root/reference/Test/: Benjamin.txt ≡ Benji.txt byte-identical dup
pair; LittlePrince.txt unique; near-identical HTML pages):

  exact     ~10%  identical bytes+caption, different image_id; one HOT
                  cluster (~5% of N) to exercise LSH bucket skew
  minhash   ~10%  caption word-edits keeping shingle-Jaccard above the
                  configured threshold; identical images
  simhash   ~10%  low-amplitude pixel noise / png→jpg re-encode with
                  phash Hamming ≤ d (verified at generation time);
                  identical captions
  substring ~5%   caption B embeds a ≥L-char verbatim run of caption A
  unique    rest  pairwise dissimilar
  negatives small just-below-threshold controls (NOT in truth_pairs)

Everything derives from one integer seed; no external data.
"""

from __future__ import annotations

import itertools
from pathlib import Path

import numpy as np
import pandas as pd

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions.hashing import char_kgram_hashes, hamming64
from ..functions.images import encode_image, phash64

_SYLLABLES = [
    "ba", "co", "di", "fu", "ge", "ha", "ji", "ka", "lo", "me", "nu", "po",
    "qua", "ri", "so", "ta", "ul", "ve", "wi", "xo", "yu", "zen", "mar",
    "tel", "sun", "riv", "oak", "fen", "gal", "hol",
]


def _make_vocab(rng: np.random.Generator, n_words: int = 420) -> list[str]:
    words = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return sorted(words)


def _caption(rng: np.random.Generator, vocab: list[str], n_words: int) -> str:
    idx = rng.integers(0, len(vocab), size=n_words)
    return " ".join(vocab[i] for i in idx)


def _edit_caption(rng: np.random.Generator, vocab: list[str], cap: str, n_edits: int) -> str:
    words = cap.split()
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(words)))
        w = vocab[int(rng.integers(0, len(vocab)))]
        if op == 0 and len(words) > 4:
            words[pos] = w
        elif op == 1:
            words.insert(pos, w)
        elif len(words) > 4:
            words.pop(pos)
    return " ".join(words)


def _jaccard(a: str, b: str, k: int) -> float:
    sa = set(char_kgram_hashes(a, k).tolist())
    sb = set(char_kgram_hashes(b, k).tolist())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / max(1, len(sa | sb))


def _base_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Sum of 3 random-frequency plaids + noise: enough pattern entropy
    that unrelated images land > hamming_threshold apart in phash space
    even at 10^5+ rows (a single-sinusoid family caused massive
    cross-image phash collisions at 20k rows)."""
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.full((h, w, 3), 127.5, dtype=np.float64)
    for _ in range(3):
        fx, fy = rng.uniform(0.5, 6.0, size=2)
        phase = rng.uniform(0, 2 * np.pi, size=3)
        amp = rng.uniform(25, 60)
        for c in range(3):
            img[:, :, c] += amp * np.sin(
                fx * xx / w * 2 * np.pi + fy * yy / h * 2 * np.pi + phase[c]
            )
    img += rng.normal(0, 10, size=img.shape)
    return img.clip(0, 255).astype(np.uint8)


def _perturb_within_hamming(
    rng: np.random.Generator, pixels: np.ndarray, max_hamming: int
) -> np.ndarray:
    """Low-amplitude noise with verified phash Hamming ≤ max_hamming.

    Amplitudes stay ≤ 1.5σ so every planted member also satisfies the
    PSNR ≥ 40 dB per-row invariant (σ=1.5 → MSE ≈ 2.25 → ~44.6 dB;
    σ=3 would plant ~38.6 dB pairs that violate the invariant the
    pipeline tests assert)."""
    ref = phash64(pixels)
    for amplitude in (1.5, 0.75, 0.0):
        cand = (
            (pixels.astype(np.float64) + rng.normal(0, amplitude, size=pixels.shape))
            .clip(0, 255)
            .astype(np.uint8)
        )
        d = int(hamming64(np.array([ref]), np.array([phash64(cand)]))[0])
        if d <= max_hamming:
            return cand
    return pixels.copy()


def generate_images(
    n_rows: int,
    seed: int = 42,
    cfg: DedupConfig = DEFAULT_CONFIG,
    image_dim: tuple[int, int] = (32, 64),
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (images_df, truth_pairs_df) as pandas DataFrames."""
    rng = np.random.default_rng(seed)
    # vocabulary grows with table size: a fixed vocab makes random
    # captions measurably similar at 10^4+ rows, which is not how real
    # web captions behave and melts everything into one cluster
    vocab = _make_vocab(rng, n_words=max(420, n_rows // 4))
    fmts = ["raw", "png", "jpg"]

    # --- row plans: list of (caption, pixels, fmt) per cluster ---
    plans: list[tuple[str, np.ndarray, str]] = []  # one entry per row
    truth: list[tuple[int, int, str]] = []  # (row_idx_a, row_idx_b, tier)

    def new_image() -> np.ndarray:
        w = int(rng.integers(image_dim[0], image_dim[1] + 1))
        h = int(rng.integers(image_dim[0], image_dim[1] + 1))
        return _base_pixels(rng, w, h)

    def add_cluster(rows: list[tuple[str, np.ndarray, str]], tier: str | None):
        start = len(plans)
        plans.extend(rows)
        if tier is not None:
            idxs = range(start, start + len(rows))
            if len(rows) > 200:
                # hot clusters: star truth pairs only — closure-equivalent
                # for recall, avoids O(k²) truth explosion at bench scale
                truth.extend((start, j, tier) for j in idxs if j != start)
            else:
                for i, j in itertools.combinations(idxs, 2):
                    truth.append((i, j, tier))

    n_exact = max(0, int(n_rows * 0.10))
    n_minhash = int(n_rows * 0.10)
    n_simhash = int(n_rows * 0.10)
    n_substr = int(n_rows * 0.05)

    # 1. exact clusters (incl. one hot cluster when big enough)
    budget = n_exact
    if n_rows >= 200:
        hot = max(4, n_rows // 20)
        cap = _caption(rng, vocab, int(rng.integers(8, 30)))
        px = new_image()
        fmt = "png"
        add_cluster([(cap, px, fmt)] * hot, "exact")
        budget -= hot
    while budget >= 2:
        size = int(min(budget, rng.integers(2, 6)))
        cap = _caption(rng, vocab, int(rng.integers(8, 30)))
        px = new_image()
        fmt = fmts[int(rng.integers(0, 3))]
        add_cluster([(cap, px, fmt)] * size, "exact")
        budget -= size

    # 2. near-duplicate captions (MinHash tier); images identical in-cluster
    budget = n_minhash
    while budget >= 2:
        size = int(min(budget, rng.integers(2, 4)))
        base = _caption(rng, vocab, int(rng.integers(14, 30)))
        px = new_image()
        fmt = fmts[int(rng.integers(0, 3))]
        rows = [(base, px, fmt)]
        for _ in range(size - 1):
            for n_edits in (2, 1):
                cand = _edit_caption(rng, vocab, base, n_edits)
                if _jaccard(base, cand, cfg.shingle_k) >= cfg.plant_jaccard:
                    break
            else:
                cand = base
            rows.append((cand, px, fmt))
        add_cluster(rows, "minhash")
        budget -= size

    # 3. near-duplicate images (SimHash tier); captions identical in-cluster
    budget = n_simhash
    while budget >= 2:
        size = int(min(budget, rng.integers(2, 4)))
        cap = _caption(rng, vocab, int(rng.integers(8, 30)))
        px = new_image()
        rows = [(cap, px, "png")]
        for m in range(size - 1):
            pert = _perturb_within_hamming(rng, px, cfg.hamming_threshold)
            rows.append((cap, pert, "jpg" if m == 0 else "png"))
        add_cluster(rows, "simhash")
        budget -= size

    # 4. exact-substring captions (suffix-array tier)
    budget = n_substr
    while budget >= 2:
        base = _caption(rng, vocab, int(rng.integers(12, 24)))
        # carve a verbatim run of ≥ L chars
        need = cfg.min_substring_len
        run = base[: max(need + 8, len(base) // 2)]
        other = (
            _caption(rng, vocab, int(rng.integers(4, 9)))
            + " " + run + " "
            + _caption(rng, vocab, int(rng.integers(4, 9)))
        )
        add_cluster([(base, new_image(), "raw"), (other, new_image(), "raw")], "substring")
        budget -= 2

    # 6. negative controls (below-threshold; NOT in truth)
    n_neg = min(6, max(0, n_rows - len(plans) - 2)) // 2 * 2
    for _ in range(n_neg // 2):
        base = _caption(rng, vocab, int(rng.integers(14, 30)))
        cand = _edit_caption(rng, vocab, base, max(6, len(base.split()) // 2))
        if _jaccard(base, cand, cfg.shingle_k) > cfg.jaccard_threshold - 0.1:
            cand = _caption(rng, vocab, int(rng.integers(14, 30)))
        add_cluster(
            [(base, new_image(), "raw"), (cand, new_image(), "raw")], None
        )

    # 5. uniques: fill to n_rows
    while len(plans) < n_rows:
        add_cluster(
            [(_caption(rng, vocab, int(rng.integers(8, 30))), new_image(),
              fmts[int(rng.integers(0, 3))])],
            None,
        )
    plans = plans[:n_rows]
    truth = [(a, b, t) for a, b, t in truth if a < n_rows and b < n_rows]

    # --- materialize rows ---
    ids = [f"img{i:08d}" for i in range(len(plans))]
    recs = []
    for i, (cap, px, fmt) in enumerate(plans):
        blob = encode_image(px, fmt)
        recs.append(
            {
                "image_id": ids[i],
                "bytes": blob,
                "w": np.int32(px.shape[1]),
                "h": np.int32(px.shape[0]),
                "fmt": fmt,
                "caption": cap,
                "phash": np.int64(phash64(px)),
            }
        )
    images = pd.DataFrame.from_records(recs)
    images["w"] = images["w"].astype("int32")
    images["h"] = images["h"].astype("int32")
    images["phash"] = images["phash"].astype("int64")

    tp = pd.DataFrame(
        [(ids[a], ids[b], t) for a, b, t in truth], columns=["a", "b", "tier"]
    )
    return images, tp


def generate_zipf_docs(
    n_docs: int,
    seed: int = 11,
    vocab_size: int | None = None,
    alpha: float = 1.05,
    doc_words: tuple[int, int] = (30, 60),
    dup_frac: float = 0.05,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs, truth_pairs): documents whose tokens follow a Zipf
    distribution — the realistic-text regime the PPJoin prefix filter
    is designed for (a long tail of rare tokens prunes candidates; the
    driver fixture's ~931-bigram tiny vocabulary is its documented
    worst case, VERDICT r3 "what's missing" #3 / Next #2).

    docs: (doc_id:int64, text:string).  truth_pairs: (a, b) planted
    near-dup pairs (word substitutions keeping word-bigram Jaccard
    well above 0.5).  vocab_size defaults to 8×n_docs so distinct
    bigrams ≫ docs, which is both the Zipf-text reality and what
    choose_jaccard_plan labels the prefix plan's regime.
    """
    rng = np.random.default_rng(seed)
    if vocab_size is None:
        vocab_size = max(2000, 8 * n_docs)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks ** (-alpha)
    cdf = np.cumsum(p / p.sum())
    words = np.array([f"w{r:06d}" for r in range(vocab_size)])

    n_dups = min(max(1, int(n_docs * dup_frac)), n_docs - 1)  # keep ≥1 base doc
    n_base = n_docs - n_dups
    lens = rng.integers(doc_words[0], doc_words[1] + 1, size=n_base)
    # one inverse-CDF draw for every token of every doc: rng.choice(p=)
    # rebuilds the CDF per call (O(vocab) each), which is quadratic-ish
    # at bench sizes.  Clamp: cumsum rounding can leave cdf[-1] a few
    # ulps below 1, and a draw in that gap would index past the vocab.
    idx = np.minimum(
        np.searchsorted(cdf, rng.random(int(lens.sum())), side="right"),
        vocab_size - 1,
    )
    flat = words[idx]
    texts: list[str] = []
    pos = 0
    for n in lens:
        texts.append(" ".join(flat[pos : pos + int(n)]))
        pos += int(n)

    truth: list[tuple[int, int]] = []
    for _ in range(n_dups):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split()
        # substitute ~7% of words: each edit severs ≤2 bigrams per side,
        # so J ≥ (n-1-2k)/(n-1+2k) ≈ 0.76 at n=45, k=3 — safely above 0.5
        k = max(1, len(toks) // 15)
        for pos in rng.choice(len(toks), size=k, replace=False):
            toks[int(pos)] = words[int(rng.integers(0, vocab_size))]
        truth.append((src, len(texts)))
        texts.append(" ".join(toks))

    docs = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    tp = pd.DataFrame(truth, columns=["a", "b"]).astype("int64")
    return docs, tp


# independent of GEN_VERSION: bumping one fixture family must not
# invalidate the other's (expensive) cached parquet
ZIPF_GEN_VERSION = 2


def write_zipf_docs(
    out_dir: str | Path, n_docs: int, seed: int = 11
) -> tuple[Path, Path]:
    """Write zipf_docs.parquet + zipf_truth.parquet; idempotent."""
    out = Path(str(out_dir) + f"_zg{ZIPF_GEN_VERSION}")
    out.mkdir(parents=True, exist_ok=True)
    d_path = out / "zipf_docs.parquet"
    t_path = out / "zipf_truth.parquet"
    if d_path.exists() and t_path.exists():
        return d_path, t_path
    docs, truth = generate_zipf_docs(n_docs, seed=seed)
    docs.to_parquet(d_path, index=False)
    truth.to_parquet(t_path, index=False)
    return d_path, t_path


# bump when generate_images' OUTPUT changes for the same (n, seed, cfg):
# cached fixtures (bench .bench_cache) are keyed on this too
GEN_VERSION = 2


def write_fixture(
    out_dir: str | Path, n_rows: int, seed: int = 42, cfg: DedupConfig = DEFAULT_CONFIG
) -> tuple[Path, Path]:
    """Write images.parquet + truth_pairs.parquet; returns the paths.
    Idempotent: skips regeneration if both files already exist."""
    out = Path(str(out_dir) + f"_g{GEN_VERSION}")
    out.mkdir(parents=True, exist_ok=True)
    img_path = out / "images.parquet"
    tp_path = out / "truth_pairs.parquet"
    if img_path.exists() and tp_path.exists():
        return img_path, tp_path
    images, truth = generate_images(n_rows, seed=seed, cfg=cfg)
    images.to_parquet(img_path, index=False)
    truth.to_parquet(tp_path, index=False)
    return img_path, tp_path
