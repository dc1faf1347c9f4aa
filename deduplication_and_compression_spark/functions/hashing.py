"""Vectorized (numpy) hashing primitives.

These are the signature kernels the pandas/Arrow UDFs call — and the
SAME functions the brute-force pytest oracles call, so pipeline and
oracle can never drift on "identical shingle/signature config"
(BASELINE.json north_rule).

Everything is uint64 arithmetic with natural wraparound; no per-row
Python, no per-shingle Python.  The reference computes one SHA-256 per
4096-byte chunk (/root/reference/SHA_algorithm/SHA256.cpp:176-223) and
ships an (unused) xxhash64 (/root/reference/CDC/CDC.h:24-202); here the
non-cryptographic role is filled by splitmix64-mixed polynomial hashes,
and the cryptographic role by Spark's built-in ``sha2``/``md5``.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64

# splitmix64 constants (public domain, Vigna)
_SM_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)

# polynomial rolling-hash base (odd => invertible mod 2^64)
_POLY_BASE = _U64(0x100000001B3)  # FNV prime, reused as poly base


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array.

    In-place arithmetic on one working copy: the naive chained
    expression allocates ~10 temporaries, which at 10^7-element inputs
    (150 MB each) leaves the malloc fast path and page-faults its way
    to a 10x slowdown."""
    with np.errstate(over="ignore"):
        z = np.array(x, dtype=_U64, copy=True)
        z += _SM_GAMMA
        z ^= z >> _U64(30)
        z *= _SM_M1
        z ^= z >> _U64(27)
        z *= _SM_M2
        z ^= z >> _U64(31)
    return z


def make_seeds(n: int, seed: int) -> np.ndarray:
    """n decorrelated uint64 seeds derived from one master seed."""
    return splitmix64(np.arange(1, n + 1, dtype=_U64) * _U64(seed | 1))


def char_kgram_hashes(text: str, k: int) -> np.ndarray:
    """uint64 hashes of every UTF-8 byte k-gram of ``text``.

    Fully vectorized: one polynomial pass over the byte array, then a
    splitmix64 mix.  Returns an empty array for texts shorter than k.
    """
    buf = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = buf.shape[0]
    if n < k:
        return np.empty(0, dtype=_U64)
    h = np.zeros(n - k + 1, dtype=_U64)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = h * _POLY_BASE + buf[j : n - k + 1 + j].astype(_U64)
    return splitmix64(h)


# modular inverse of the (odd) poly base mod 2^64, by Newton iteration:
# x <- x*(2 - B*x) doubles correct bits each step
def _mod_inverse_u64(b: np.uint64) -> np.uint64:
    x = b  # correct to 3 bits
    with np.errstate(over="ignore"):
        for _ in range(6):
            x = x * (_U64(2) - b * x)
    return x


_POLY_BASE_INV = _mod_inverse_u64(_POLY_BASE)

_WS_BYTES = np.zeros(256, dtype=bool)
_WS_BYTES[[9, 10, 11, 12, 13, 32]] = True  # \t \n \v \f \r space

# tokens longer than this fall off the vectorized padded-matrix path
# (a lone megabyte "token" would make the matrix n_tokens x 1M)
_LONG_TOKEN = 64


def _poly_fold_padded(vals: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Polynomial fold over a right-zero-padded (n_tokens, maxlen) byte
    matrix, then undo the padding: padding with zero bytes multiplies
    the true hash by BASE^pad, and BASE is odd hence invertible mod
    2^64, so hash = padded * BASE^-pad — batch-size-independent."""
    n, maxlen = vals.shape
    with np.errstate(over="ignore"):
        acc = lengths.astype(_U64)  # length-prefixed: "a" != "a\0"
        for j in range(maxlen):
            acc = acc * _POLY_BASE + vals[:, j]
        inv_pows = np.empty(maxlen + 1, dtype=_U64)
        inv_pows[0] = _U64(1)
        np.multiply.accumulate(
            np.full(maxlen, _POLY_BASE_INV, dtype=_U64), out=inv_pows[1:]
        )
        acc *= inv_pows[maxlen - lengths]
    return acc


def token_hashes_batch(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """uint64 token hashes for a whole Arrow batch at once.

    Returns (flat_hashes, tokens_per_text).  Tokenization is
    ASCII-whitespace runs over the UTF-8 bytes (one joined buffer, one
    vectorized boundary scan — zero per-token Python); each token's
    hash is the length-prefixed polynomial fold of its bytes, computed
    for ALL tokens simultaneously via a padded byte matrix + modular
    inverse correction (see _poly_fold_padded).  Tokens longer than
    _LONG_TOKEN bytes (vanishingly rare in natural text) take a scalar
    fallback so the matrix stays narrow.
    """
    counts = np.zeros(len(texts), dtype=np.int64)
    if not texts:
        return np.empty(0, dtype=_U64), counts
    bufs = [t.encode("utf-8") for t in texts]
    sizes = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    # separator byte between texts so tokens never straddle a boundary
    joined = np.frombuffer(b" ".join(bufs), dtype=np.uint8)
    n = joined.shape[0]
    if n == 0:
        return np.empty(0, dtype=_U64), counts
    ws = _WS_BYTES[joined]
    tok = ~ws
    starts = np.flatnonzero(tok & np.r_[True, ws[:-1]])
    ends = np.flatnonzero(tok & np.r_[ws[1:], True])  # inclusive
    if starts.shape[0] == 0:
        return np.empty(0, dtype=_U64), counts
    # map token -> source text via the text start offsets
    text_offs = np.zeros(len(bufs), dtype=np.int64)
    np.cumsum(sizes[:-1] + 1, out=text_offs[1:])
    owner = np.searchsorted(text_offs, starts, side="right") - 1
    np.add.at(counts, owner, 1)

    lengths = ends - starts + 1
    out = np.empty(starts.shape[0], dtype=_U64)
    short = lengths <= _LONG_TOKEN
    if short.any():
        s_start, s_len = starts[short], lengths[short]
        maxlen = int(s_len.max())
        idx = s_start[:, None] + np.arange(maxlen, dtype=np.int64)[None, :]
        valid = idx <= (s_start + s_len - 1)[:, None]
        vals = np.where(valid, joined[np.minimum(idx, n - 1)], 0).astype(_U64)
        out[short] = _poly_fold_padded(vals, s_len)
    if not short.all():
        long_idx = np.flatnonzero(~short)
        with np.errstate(over="ignore"):
            for i in long_idx:
                b = joined[starts[i] : ends[i] + 1].astype(_U64)
                acc = _U64(lengths[i])
                for c in b:
                    acc = acc * _POLY_BASE + c
                out[i] = acc
    return splitmix64(out), counts


def simhash_batch(texts: list[str], bits: int = 64,
                  tile_tokens: int = 1 << 16) -> np.ndarray:
    """int64 SimHash per text, fully batched: one token-hash pass, then
    per-tile unpackbits + int32 reduceat over the bit matrix (the
    ±1-sum sign test becomes 2*ones > n_tokens).  Texts with no tokens
    hash to 0, matching simhash_from_features on an empty array."""
    assert bits == 64, "batched kernel is 64-bit (uint64 carrier)"
    flat, counts = token_hashes_batch(texts)
    n_texts = len(texts)
    out = np.zeros(n_texts, dtype=np.int64)
    if flat.shape[0] == 0:
        return out
    doc_start = np.zeros(n_texts, dtype=np.int64)
    np.cumsum(counts[:-1], out=doc_start[1:])
    nz = np.flatnonzero(counts > 0)
    ones = np.zeros((n_texts, 64), dtype=np.int64)
    # tile over tokens so the unpacked (tokens x 64) matrix stays cache-sized;
    # tiles are split on document boundaries so reduceat segments are whole
    d = 0
    while d < nz.shape[0]:
        e = d
        tok0 = doc_start[nz[d]]
        while e < nz.shape[0] and doc_start[nz[e]] + counts[nz[e]] - tok0 <= tile_tokens:
            e += 1
        e = max(e, d + 1)  # a single huge doc still forms one tile
        docs = nz[d:e]
        lo = doc_start[docs[0]]
        hi = doc_start[docs[-1]] + counts[docs[-1]]
        bitmat = np.unpackbits(
            flat[lo:hi].view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        ).astype(np.int32)
        ones[docs] = np.add.reduceat(bitmat, doc_start[docs] - lo, axis=0)
        d = e
    is_set = (2 * ones[nz]) > counts[nz, None]
    packed = (
        is_set.astype(_U64) << np.arange(64, dtype=_U64)[None, :]
    ).sum(axis=1, dtype=_U64)
    out[nz] = packed.view(np.int64)
    return out


def minhash_signature(shingles: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """MinHash signature: for each seed p, min over shingles of
    splitmix64(shingle ^ seed_p).  Returns uint64[len(seeds)].

    Empty shingle set → all-max sentinel (never collides with a real
    signature because splitmix64 output 0xFFFF...F is a measure-zero hit
    per lane across all 128 lanes).
    """
    if shingles.shape[0] == 0:
        return np.full(seeds.shape[0], np.iinfo(np.uint64).max, dtype=_U64)
    u = np.unique(shingles)
    # (S x P) matrix in chunks of seeds to bound memory
    out = np.empty(seeds.shape[0], dtype=_U64)
    step = 32
    for s in range(0, seeds.shape[0], step):
        block = splitmix64(u[:, None] ^ seeds[None, s : s + step])
        out[s : s + step] = block.min(axis=0)
    return out


def minhash_signatures_batch(
    texts: "list[str]", k: int, seeds: np.ndarray, tile_rows: int = 16
) -> np.ndarray:
    """Batch MinHash: returns uint64[(n_texts, n_perm)].

    Row-tiled: shingle hashes for ~tile_rows texts at a time are mixed
    against all seeds in ONE preallocated (shingles x n_perm) buffer
    that stays L3-resident, then reduced per text with a single
    axis-0 reduceat.  The earlier whole-batch formulations were
    memory-bandwidth-bound (128 passes over a 100 MB+ array) and went
    superlinear once temporaries left the cache; this shape is linear
    in batch size and allocation-free in the hot loop.
    """
    per_row = [np.unique(char_kgram_hashes(t, k)) for t in texts]
    counts = np.array([a.shape[0] for a in per_row], dtype=np.int64)
    n = len(texts)
    nperm = seeds.shape[0]
    out = np.empty((n, nperm), dtype=_U64)
    out.fill(np.uint64(np.iinfo(np.uint64).max))
    max_shingles = 0
    for i in range(0, n, tile_rows):
        max_shingles = max(max_shingles, int(counts[i : i + tile_rows].sum()))
    if max_shingles == 0:
        return out
    buf = np.empty((max_shingles, nperm), dtype=_U64)
    tmp = np.empty((max_shingles, nperm), dtype=_U64)
    c30, c27, c31 = _U64(30), _U64(27), _U64(31)
    with np.errstate(over="ignore"):
        for i in range(0, n, tile_rows):
            rows = [a for a in per_row[i : i + tile_rows] if a.shape[0] > 0]
            if not rows:
                continue
            cat = np.concatenate(rows)
            m = cat.shape[0]
            b, t = buf[:m], tmp[:m]
            np.bitwise_xor(cat[:, None], seeds[None, :], out=b)
            # in-place splitmix64 over the tile
            b += _SM_GAMMA
            np.right_shift(b, c30, out=t); b ^= t
            b *= _SM_M1
            np.right_shift(b, c27, out=t); b ^= t
            b *= _SM_M2
            np.right_shift(b, c31, out=t); b ^= t
            tc = counts[i : i + tile_rows]
            nz = np.flatnonzero(tc > 0)
            starts = np.zeros(nz.shape[0], dtype=np.int64)
            np.cumsum(tc[nz][:-1], out=starts[1:])
            out[i + nz] = np.minimum.reduceat(b, starts, axis=0)
    return out


def _kgram_overlap(
    texts_a: "list[str]", texts_b: "list[str]", k: int
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """(inter, na, nb) per (a, b) text pair: shared and per-side
    distinct byte k-gram counts, with NO per-pair Python set ops: all
    k-gram sets are concatenated with their pair index and ONE global
    lexsort finds per-pair duplicates (a value sorted adjacent within
    the same pair appears in both sides, since each side is unique'd
    first); the intersection sizes then come from one bincount."""
    n = len(texts_a)
    ua = [np.unique(char_kgram_hashes(t or "", k)) for t in texts_a]
    ub = [np.unique(char_kgram_hashes(t or "", k)) for t in texts_b]
    na = np.fromiter((a.size for a in ua), dtype=np.int64, count=n)
    nb = np.fromiter((b.size for b in ub), dtype=np.int64, count=n)
    if int(na.sum() + nb.sum()) == 0:
        return np.zeros(n, dtype=np.int64), na, nb
    cat = np.concatenate(ua + ub)
    pid = np.concatenate([np.repeat(np.arange(n), na), np.repeat(np.arange(n), nb)])
    order = np.lexsort((cat, pid))
    sc, sp = cat[order], pid[order]
    dup = (sp[1:] == sp[:-1]) & (sc[1:] == sc[:-1])
    return np.bincount(sp[1:][dup], minlength=n), na, nb


def jaccard_batch(texts_a: "list[str]", texts_b: "list[str]", k: int) -> np.ndarray:
    """Exact k-shingle Jaccard for a whole batch of (a, b) text pairs
    (one lexsort + bincount pass: _kgram_overlap).  Two contentless
    texts score 0.0 (no similarity evidence)."""
    inter, na, nb = _kgram_overlap(texts_a, texts_b, k)
    union = na + nb - inter
    return np.where(union > 0, inter / np.maximum(union, 1), 0.0)


def shared_kgram_batch(
    texts_a: "list[str]", texts_b: "list[str]", k: int
) -> np.ndarray:
    """bool per (a, b) text pair: do the two sides share at least one
    byte k-gram?  Shared-k-gram ⟺ longest common substring ≥ k (any
    common run of length ≥ k contains a common k-gram, and a shared
    k-gram IS a common run of length k), so this is the exact
    substring-tier verification — with zero per-pair Python: the same
    one-lexsort pass as jaccard_batch (collision caveat 2^-64 per gram
    pair); functions/text.py:lcs_length is the brute-force TEST oracle.
    """
    return _kgram_overlap(texts_a, texts_b, k)[0] > 0


def band_hashes(signature: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Hash each band of ``rows`` consecutive signature lanes to one
    uint64 bucket key.  signature: uint64[(n, bands*rows)] or
    uint64[bands*rows].  Returns same leading shape with trailing dim
    ``bands``."""
    sig = np.asarray(signature, dtype=_U64)
    single = sig.ndim == 1
    if single:
        sig = sig[None, :]
    grouped = sig.reshape(sig.shape[0], bands, rows)
    h = np.full((sig.shape[0], bands), _U64(1469598103934665603), dtype=_U64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            h = (h ^ grouped[:, :, r]) * _POLY_BASE
    h = splitmix64(h)
    return h[0] if single else h


def simhash_from_features(
    feature_hashes: np.ndarray, weights: np.ndarray | None = None, bits: int = 64
) -> int:
    """Classic SimHash (Charikar 2002): sum signed weights per bit of
    each feature hash; sign of the sum gives the output bit."""
    if feature_hashes.shape[0] == 0:
        return 0
    bit_matrix = (
        (feature_hashes[:, None] >> np.arange(bits, dtype=_U64)[None, :]) & _U64(1)
    ).astype(np.int64)
    signed = bit_matrix * 2 - 1
    if weights is not None:
        signed = signed * weights[:, None].astype(np.int64)
    sums = signed.sum(axis=0)
    out = np.uint64(0)
    bitpos = np.flatnonzero(sums > 0).astype(np.uint64)
    for b in bitpos:
        out |= _U64(1) << b
    return int(out.astype(np.int64))  # reinterpret as signed for Spark LongType


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized popcount(xor) over int64/uint64 arrays."""
    x = (np.asarray(a).astype(np.int64).view(_U64)) ^ (
        np.asarray(b).astype(np.int64).view(_U64)
    )
    cnt = np.zeros(x.shape, dtype=np.int64)
    for shift in range(0, 64, 8):
        cnt += _POPCOUNT_TABLE[((x >> _U64(shift)) & _U64(0xFF)).astype(np.int64)]
    return cnt


_POPCOUNT_TABLE = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def u64_to_i64(a: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 → int64 (Spark LongType carrier)."""
    return np.asarray(a, dtype=_U64).view(np.int64)
