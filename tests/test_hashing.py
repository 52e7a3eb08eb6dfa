"""Unit tests for the numpy hashing kernels (no Spark needed): determinism,
batch/per-doc equivalence, MinHash estimator quality, SimHash locality."""

from __future__ import annotations

import numpy as np

from iamsystem_python_spark.functions.hashing import (
    TokenIdMap,
    band_hashes,
    band_hashes_batch,
    hamming64,
    jaccard,
    minhash_batch,
    minhash_params,
    minhash_signature,
    shingle_hashes,
    simhash64,
    simhash_batch,
    splitmix64,
)


def test_token_ids_deterministic_across_instances():
    ids1 = TokenIdMap().ids(["def", "foo", "return", "def"])
    ids2 = TokenIdMap().ids(["def", "foo", "return", "def"])
    assert (ids1 == ids2).all()
    assert ids1[0] == ids1[3]
    assert ids1[0] != ids1[1]


def test_shingle_hashes_short_doc():
    ids = TokenIdMap().ids(["a", "b"])
    sh = shingle_hashes(ids, 5)  # doc shorter than k → whole-doc shingle
    assert len(sh) == 1
    assert len(shingle_hashes(np.empty(0, dtype=np.uint64), 5)) == 0


def test_shingle_position_sensitivity():
    m = TokenIdMap()
    a = shingle_hashes(m.ids(["a", "b", "c"]), 3)
    b = shingle_hashes(m.ids(["c", "b", "a"]), 3)
    assert a[0] != b[0]


def test_minhash_batch_equals_per_doc():
    rng = np.random.RandomState(0)
    a, b = minhash_params(64, 42)
    docs = [
        np.unique(rng.randint(0, 2**60, size=n).astype(np.uint64))
        for n in (0, 1, 7, 100, 999)
    ]
    batch = minhash_batch(docs, a, b, chunk_shingles=128)  # force chunking
    for i, d in enumerate(docs):
        assert (batch[i] == minhash_signature(d, a, b)).all()


def test_band_hashes_batch_equals_per_doc():
    rng = np.random.RandomState(1)
    sigs = rng.randint(0, 2**60, size=(10, 128)).astype(np.uint64)
    batch = band_hashes_batch(sigs, 32)
    for i in range(10):
        assert (batch[i] == band_hashes(sigs[i], 32)).all()


def test_simhash_batch_equals_per_doc():
    rng = np.random.RandomState(2)
    docs = [rng.randint(0, 2**63, size=n).astype(np.uint64) for n in (0, 3, 50, 500)]
    batch = simhash_batch(docs)
    for i, d in enumerate(docs):
        assert batch[i] == simhash64(d)


def test_minhash_estimates_jaccard():
    """Estimator sanity: |est − true| small at 256 perms over many pairs."""
    rng = np.random.RandomState(3)
    a, b = minhash_params(256, 42)
    base = np.unique(rng.randint(0, 2**60, size=1000).astype(np.uint64))
    errs = []
    for frac in (0.9, 0.7, 0.5, 0.3):
        keep = rng.rand(len(base)) < frac
        other = np.concatenate(
            [base[keep], rng.randint(0, 2**60, size=int((1 - frac) * 1000)).astype(np.uint64)]
        )
        true_j = jaccard(base, other)
        est = (minhash_signature(base, a, b) == minhash_signature(other, a, b)).mean()
        errs.append(abs(true_j - est))
    assert max(errs) < 0.08, errs


def test_simhash_locality():
    """Near-identical shingle sets → tiny Hamming distance; random → ~32."""
    rng = np.random.RandomState(4)
    base = rng.randint(0, 2**63, size=2000).astype(np.uint64)
    near = base.copy()
    near[:20] = rng.randint(0, 2**63, size=20).astype(np.uint64)
    far = rng.randint(0, 2**63, size=2000).astype(np.uint64)
    d_near = hamming64(simhash64(base), simhash64(near))
    d_far = hamming64(simhash64(base), simhash64(far))
    assert d_near <= 8
    assert d_far >= 16


def test_splitmix_avalanche():
    x = np.array([1, 2], dtype=np.uint64)
    h = splitmix64(x)
    assert bin(int(h[0]) ^ int(h[1])).count("1") > 16


def test_simhash_tie_rule_unified():
    """Canonical tie rule: bit set iff 2·popcount >= n (ties → 1) — the
    same rule in the scalar path, the batch kernel, and the SQL variant
    (operators/dedup_text.simhash_sql), so signatures are comparable
    across all three paths (round-2 VERDICT #5)."""
    # two shingles, bit 0 split exactly 1/1 → tie → bit 0 SET
    s = np.array([0, 1], dtype=np.uint64)
    assert simhash64(s) & 1 == 1
    assert int(simhash_batch([s])[0]) & 1 == 1
    # an empty-tie corner: 4 shingles, bit 1 split 2/2 → set
    s2 = np.array([0b10, 0b10, 0b00, 0b01], dtype=np.uint64)
    assert simhash64(s2) & 0b10 == 0b10
    assert int(simhash_batch([s2])[0]) & 0b10 == 0b10
    # majority-0 bits stay clear: bit 2 appears once out of 4 (2*1 < 4)
    s3 = np.array([0b100, 0, 0, 0], dtype=np.uint64)
    assert simhash64(s3) & 0b100 == 0
    assert int(simhash_batch([s3])[0]) & 0b100 == 0

