"""Seeded workload inputs, cached on disk by seed, generator version
and config fingerprint.

The engine only ever sees the tables written here.  Generation happens
before any timed region; its wall time is logged, never reported as a
metric.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.fixtures.generator import write_fixture

from . import checks

# bump when a generator below changes its output for the same seed
DENSE_GEN_VERSION = 1
ARRIVALS_GEN_VERSION = 1


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _timed_gen(label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    log(f"{label} generated or loaded in {time.perf_counter() - t0:.2f} s")
    return out


@dataclass(frozen=True)
class ImagesInput:
    images: Path
    truth: Path


def images_input(cache: Path, seed: int, n_rows: int) -> ImagesInput:
    """``fixtures.generator.write_fixture`` table: a 5% hot exact
    cluster plus planted exact/minhash/simhash/substring duplicates."""
    # write_fixture appends GEN_VERSION to the directory and reuses it
    stem = cache / f"images_n{n_rows}_s{seed}_{CFG.fingerprint()}"
    img, truth = _timed_gen(f"{n_rows} images",
                            lambda: write_fixture(stem, n_rows, seed=seed, cfg=CFG))
    return ImagesInput(img, truth)


# A tiny vocabulary shaped like the engine's `documents` contract table
# (31 words, 931 distinct bigrams, 5k docs): 30 words give at most 900
# distinct bigrams, fewer than the docs once there are well over 900 of
# them, so every posting list is dense and the Jaccard cost model's
# tiny-vocabulary rule picks the all-pairs plan.  Words are drawn
# uniformly: with skewed frequencies random docs share most of their
# SimHash features (at Zipf exponent 0.8 over 20 words, about 440 false
# SimHash pairs in 500 docs, which chain nearly every doc into one
# cluster).
DENSE_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()


@dataclass(frozen=True)
class DocsInput:
    docs: Path
    truth: Path


def _dense_corpus(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    words = np.array(DENSE_WORDS)
    n_dups = max(1, n_docs // 20)
    n_base = n_docs - n_dups
    # 10-40 words per doc (the contract table runs to 99): over a 30-word
    # vocabulary long docs converge to one word histogram, and random
    # pairs of them land within the SimHash tier's Hamming threshold
    texts = [
        " ".join(words[rng.integers(0, len(words), size=int(rng.integers(10, 41)))])
        for _ in range(n_base)
    ]
    truth = []
    for _ in range(n_dups):
        src = int(rng.integers(0, n_base))
        base = texts[src].split()
        for _attempt in range(20):
            toks = list(base)
            for pos in rng.choice(len(toks), size=max(1, len(toks) // 15), replace=False):
                toks[int(pos)] = str(words[int(rng.integers(0, len(words)))])
            cand = " ".join(toks)
            # planted pairs clear both detectors' thresholds with margin
            if (checks.bigram_jaccard(texts[src], cand) >= 0.6
                    and checks.kgram_jaccard(texts[src], cand, CFG.shingle_k) >= 0.6):
                break
        else:
            cand = texts[src]
        truth.append((src, len(texts)))
        texts.append(cand)
    docs = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return docs, pd.DataFrame(truth, columns=["a", "b"]).astype("int64")


def dense_docs_input(cache: Path, seed: int, n_docs: int) -> DocsInput:
    out = cache / f"dense_n{n_docs}_s{seed}_{CFG.fingerprint()}_v{DENSE_GEN_VERSION}"
    docs_p, truth_p = out / "docs.parquet", out / "truth.parquet"
    if not truth_p.exists():
        docs, truth = _timed_gen(f"{n_docs} dense docs",
                                 lambda: _dense_corpus(n_docs, seed))
        out.mkdir(parents=True, exist_ok=True)
        docs.to_parquet(docs_p, index=False)
        truth.to_parquet(truth_p, index=False)
    return DocsInput(docs_p, truth_p)


_SYLLABLES = (
    "ba co di fu ge ha ji ka lo me nu po qua ri so ta ul ve wi xo yu zen "
    "mar tel sun riv oak fen gal hol"
).split()


@dataclass(frozen=True)
class ArrivalsInput:
    files: Path          # directory of one-micro-batch parquet files
    truth: Path          # planted (id, ref_id) near-duplicate edges
    n_files: int


def _arrivals(images: pd.DataFrame, n_files: int, rows_per_file: int, seed: int):
    """Arriving rows screened against the images table: word-edited
    near-duplicates of table captions, unseen captions, and a few exact
    copies of the hot cluster's caption.  A planted edge joins an
    arrival to every table row whose caption equals its source."""
    rng = np.random.default_rng(seed + 1)
    vocab = sorted({"".join(rng.choice(_SYLLABLES, size=int(rng.integers(2, 5))))
                    for _ in range(2000)})
    ids_by_caption = images.groupby("caption")["image_id"].apply(list).to_dict()
    hot = max(ids_by_caption, key=lambda c: len(ids_by_caption[c]))
    sources = [c for c in ids_by_caption if c != hot and len(c.split()) >= 8]

    def edited(cap: str) -> str | None:
        for n_edits in (2, 1):
            toks = cap.split()
            for _ in range(n_edits):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            cand = " ".join(toks)
            if checks.kgram_jaccard(cap, cand, CFG.shingle_k) >= CFG.plant_jaccard:
                return cand
        return None

    files, truth = [], []
    for f in range(n_files):
        rows = []
        for r in range(rows_per_file):
            aid = f"arr{f:04d}_{r:04d}"
            if r == 0 and f % 4 == 0:
                rows.append((aid, hot))
                truth.extend((aid, j) for j in ids_by_caption[hot])
                continue
            src = sources[int(rng.integers(0, len(sources)))] if rng.random() < 0.3 else None
            cand = edited(src) if src is not None else None
            if cand is None:
                rows.append((aid, " ".join(rng.choice(vocab, size=int(rng.integers(8, 30))))))
            else:
                rows.append((aid, cand))
                truth.extend((aid, j) for j in ids_by_caption[src])
        files.append(pd.DataFrame(rows, columns=["image_id", "caption"]))
    return files, pd.DataFrame(truth, columns=["id", "ref_id"])


def arrivals_input(images: ImagesInput, seed: int, n_files: int,
                   rows_per_file: int) -> ArrivalsInput:
    out = images.images.parent / f"arrivals_f{n_files}x{rows_per_file}_v{ARRIVALS_GEN_VERSION}"
    truth_p = out / "truth.parquet"
    if not truth_p.exists():
        table = pd.read_parquet(images.images, columns=["image_id", "caption"])
        files, truth = _timed_gen(
            f"{n_files}x{rows_per_file} arriving rows",
            lambda: _arrivals(table, n_files, rows_per_file, seed))
        (out / "files").mkdir(parents=True, exist_ok=True)
        for i, pdf in enumerate(files):
            # the stream source reads the full images schema; the
            # screen only looks at image_id and caption
            pdf.assign(
                bytes=[b""] * len(pdf), w=np.int32(0), h=np.int32(0),
                fmt="raw", phash=np.int64(0),
            )[["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]].to_parquet(
                out / "files" / f"batch-{i:04d}.parquet", index=False)
        truth.to_parquet(truth_p, index=False)
    return ArrivalsInput(out / "files", truth_p, n_files)
