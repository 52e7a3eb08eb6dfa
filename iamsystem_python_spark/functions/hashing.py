"""Deterministic vectorized hashing kernels (numpy, mod-2^64 wraparound).

These are the batch analogues of iamsystem's per-token work: where the
reference walks tokens one at a time through a trie
(/root/reference/src/iamsystem/matcher/strategy.py:25-99), the dedup
pipeline turns each document into arrays of shingle hashes and folds them
into MinHash / SimHash signatures — all numpy, no per-row Python at the
Spark layer (BASELINE.json input_hint mandate). One MinHash family signs
every doc: ``num_perm`` seeded affine permutations (``minhash_params``),
batched by ``minhash_batch`` and replayed per doc by ``minhash_signature``.

Everything is seeded and process-independent (no builtin ``hash()``, which
is salted per interpreter): token ids come from crc32, mixing uses
splitmix64 constants. Determinism across executors is what makes the
dup-pair recall metric reproducible.
"""

from __future__ import annotations

import zlib
from typing import Dict, Sequence

import numpy as np

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_SPLITMIX_GAMMA = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — good avalanche, vectorized, uint64 in/out."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _SPLITMIX_GAMMA
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


class TokenIdMap:
    """Memoized token → uint64 id (crc32 + splitmix). Batch-scoped cache —
    the in-kernel analogue of CacheFuzzyAlgos (fuzzy/cache.py:18-66)."""

    def __init__(self):
        self._cache: Dict[str, int] = {}

    def ids(self, tokens: Sequence[str]) -> np.ndarray:
        # two C-level passes instead of a per-token Python loop (2.4×):
        # set.difference finds cache misses, one vectorized splitmix call
        # fills them, then map(dict.__getitem__) materializes the ids.
        cache = self._cache
        missing = set(tokens).difference(cache)
        if missing:
            miss = list(missing)
            crcs = np.fromiter(
                (zlib.crc32(t.encode("utf-8", "surrogatepass")) for t in miss),
                dtype=np.uint64,
                count=len(miss),
            )
            cache.update(zip(miss, splitmix64(crcs).tolist()))
        return np.fromiter(
            map(cache.__getitem__, tokens), dtype=np.uint64, count=len(tokens)
        )


def shingle_hashes(token_ids: np.ndarray, k: int) -> np.ndarray:
    """Rolling k-token shingle hashes: polynomial mix of k consecutive token
    ids (mod 2^64), finalized with splitmix64. Returns uint64 array of
    length max(0, n - k + 1); short docs (< k tokens) hash the whole doc."""
    n = len(token_ids)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        k = n
    m = n - k + 1
    acc = np.zeros(m, dtype=np.uint64)
    mult = np.uint64(0x100000001B3)  # FNV-ish odd multiplier
    with np.errstate(over="ignore"):
        for j in range(k):
            acc = acc * mult + token_ids[j : j + m]
    return splitmix64(acc)


def minhash_params(num_perm: int, seed: int) -> tuple:
    """(a, b) odd multipliers/offsets for the mod-2^64 affine hash family."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**62, size=num_perm, dtype=np.int64).astype(np.uint64)
    a |= np.uint64(1)  # odd → bijective mod 2^64
    b = rng.randint(0, 2**62, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signature(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash: sig[i] = min over shingles of (a[i]*x + b[i]) mod 2^64.
    Empty docs get an all-max sentinel signature."""
    num_perm = len(a)
    if len(shingles) == 0:
        return np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    uniq = np.unique(shingles)
    with np.errstate(over="ignore"):
        # (num_perm, n) broadcast — bounded by maxRecordsPerBatch upstream
        hashed = a[:, None] * uniq[None, :] + b[:, None]
    return hashed.min(axis=1)


def minhash_batch(
    shingle_lists, a: np.ndarray, b: np.ndarray, chunk_shingles: int = 1 << 18
) -> np.ndarray:
    """MinHash for MANY docs at once: per-doc (num_perm × n) broadcast
    multiply-add into a PREALLOCATED buffer, then a contiguous-axis min.
    Measured 43× faster single-core than the previous
    ``np.minimum.reduceat``-per-permutation formulation (reduceat's generic
    inner loop runs ~8M elements/s; the broadcast runs at memcpy-like
    speed). The round-1 measurement that made reduceat look better under
    high core counts was the sandbox hypervisor's fresh-page throttle
    penalizing per-doc temp ALLOCATIONS, not real DRAM saturation — hence
    the reusable buffer here: zero allocations in the loop, working set
    ≤ num_perm × chunk_shingles × 8 B (32 MB at 16 perms), L3-friendly.
    Long docs stream through in ``chunk_shingles`` slices with a running
    min. Returns (n_docs, num_perm) uint64; empty docs get the all-max
    sentinel (same convention as minhash_signature)."""
    num_perm = len(a)
    n_docs = len(shingle_lists)
    out = np.full((n_docs, num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    if n_docs == 0:
        return out
    cap = min(chunk_shingles, max(len(s) for s in shingle_lists) or 1)
    buf = np.empty((num_perm, cap), dtype=np.uint64)
    acol = a[:, None]
    bcol = b[:, None]
    with np.errstate(over="ignore"):
        for i, s in enumerate(shingle_lists):
            n = len(s)
            if n == 0:
                continue
            for start in range(0, n, cap):
                seg = s[start : start + cap]
                m = buf[:, : len(seg)]
                np.multiply(acol, seg[None, :], out=m)
                m += bcol
                np.minimum(out[i], m.min(axis=1), out=out[i])
    return out


def simhash_batch(shingle_lists) -> np.ndarray:
    """SimHash for many docs: per-doc ``np.unpackbits`` (little-endian byte
    view → one (n, 64) uint8 matrix) + a single column sum — one pass over
    the data instead of 64 shift-mask-reduceat passes (2.3× faster,
    bit-identical; the per-doc working set is 64·n bytes, L2-resident, so
    no chunking is needed). Returns int64 array; empty docs → 0."""
    n_docs = len(shingle_lists)
    out = np.zeros(n_docs, dtype=np.int64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    for i, s in enumerate(shingle_lists):
        n = len(s)
        if n == 0:
            continue
        bits = np.unpackbits(
            s.view(np.uint8).reshape(n, 8), axis=1, bitorder="little"
        )
        sums = bits.sum(axis=0)
        # canonical tie rule: bit set iff 2·popcount >= n (ties → 1),
        # identical to simhash64 and to the SQL variant
        # (operators/dedup_text.simhash_sql) so signatures are comparable
        # across all three paths
        acc = weights[sums * 2 >= n]
        out[i] = np.bitwise_or.reduce(acc).view(np.int64) if len(acc) else 0
    return out


def band_hashes(sig: np.ndarray, num_bands: int) -> np.ndarray:
    """Split signature into bands and hash each band (LSH banding).
    Returns uint64 array of length num_bands. Band id is mixed into the
    hash so (band_id, band_hash) joins can use the hash alone."""
    r = len(sig) // num_bands
    bands = sig[: num_bands * r].reshape(num_bands, r)
    acc = np.zeros(num_bands, dtype=np.uint64)
    mult = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):
        for j in range(r):
            acc = acc * mult + bands[:, j]
        acc += np.arange(num_bands, dtype=np.uint64) * _SPLITMIX_GAMMA
    return splitmix64(acc)


def band_hashes_batch(sigs: np.ndarray, num_bands: int) -> np.ndarray:
    """band_hashes for a (n_docs, num_perm) signature matrix at once.
    Returns (n_docs, num_bands) uint64."""
    n_docs, num_perm = sigs.shape
    r = num_perm // num_bands
    bands = sigs[:, : num_bands * r].reshape(n_docs, num_bands, r)
    acc = np.zeros((n_docs, num_bands), dtype=np.uint64)
    mult = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):
        for j in range(r):
            acc = acc * mult + bands[:, :, j]
        acc += np.arange(num_bands, dtype=np.uint64)[None, :] * _SPLITMIX_GAMMA
    return splitmix64(acc)


def simhash64(shingles: np.ndarray) -> int:
    """64-bit SimHash: sign of per-bit sums of shingle hashes. Returns a
    Python int (int64-safe) for a LongType column. Canonical tie rule:
    bit set iff 2·popcount >= n (ties → 1), matching ``simhash_batch`` and
    the SQL variant (operators/dedup_text.simhash_sql)."""
    if len(shingles) == 0:
        return 0
    bits = (shingles[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    sums = bits.sum(axis=0, dtype=np.int64)
    n = len(shingles)
    v = 0
    for bit in range(64):
        if 2 * int(sums[bit]) >= n:
            v |= 1 << bit
    return v - (1 << 64) if v >= (1 << 63) else v


def hamming64(x: int, y: int) -> int:
    return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two shingle-hash sets."""
    ua, ub = np.unique(a), np.unique(b)
    if len(ua) == 0 and len(ub) == 0:
        return 1.0
    inter = len(np.intersect1d(ua, ub, assume_unique=True))
    return inter / (len(ua) + len(ub) - inter)


def winnow_fingerprints_np(text: str, k: int, w: int) -> np.ndarray:
    """Vectorized winnowing fingerprint set (Schleimer/Wilkerson/Aiken
    2003) of one text: lowercase → char k-gram rolling polynomial hashes
    (splitmix64-finalized, same family as shingle_hashes) → sliding
    window-w minima → unique values. uint64 array, ≥1 entry for any
    text (empty text hashes a zero sentinel).

    Same VALUE SEMANTICS as operators/dedup_text.winnow_fingerprints
    (identical gram/window/distinct structure, the ≥w+k−1
    shared-substring guarantee, ~2/(w+1) density) but a different hash
    family — the SQL path's sha256-mod-P is cross-engine replayable for
    the DuckDB oracle; this kernel is the throughput path (no per-gram
    sha256, no interpreted higher-order functions). Codepoints come from
    utf-32-le frombuffer (C speed), so unicode matches Python/Spark
    character semantics exactly."""
    cps = np.frombuffer(
        text.lower().encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    if len(cps) == 0:
        cps = np.zeros(1, dtype=np.uint64)
    hs = shingle_hashes(cps, k)
    if len(hs) >= w:
        wins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
    else:
        wins = hs.min(keepdims=True)
    return np.unique(wins)
