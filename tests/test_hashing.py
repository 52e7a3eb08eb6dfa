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
    simhash_blocks,
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


def test_simhash_blocks_pigeonhole():
    x = simhash64(np.arange(100, dtype=np.uint64))
    blocks = simhash_blocks(x, 4)
    assert len(blocks) == 4
    # flipping ≤3 bits leaves ≥1 of 4 16-bit blocks identical
    y = x ^ 0b111
    assert sum(a == b for a, b in zip(blocks, simhash_blocks(y, 4))) >= 1


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


def test_oph_minhash_properties():
    """One-permutation MinHash (oph_minhash_batch): shape/sentinel
    conventions, determinism, full densification, and power-of-two guard."""
    import numpy as np

    from iamsystem_python_spark.functions.hashing import oph_minhash_batch

    rng = np.random.default_rng(7)
    docs = [np.unique(rng.integers(0, 2**63, size=n).astype(np.uint64))
            for n in (1, 3, 50, 400)]
    sigs = oph_minhash_batch(docs + [np.empty(0, dtype=np.uint64)], 128, seed=42)
    assert sigs.shape == (5, 128) and sigs.dtype == np.uint64
    # empty doc keeps the all-max sentinel row (minhash_batch convention)
    assert (sigs[4] == np.iinfo(np.uint64).max).all()
    # every non-empty doc densifies completely — even the 1-shingle doc
    assert not (sigs[:4] == np.iinfo(np.uint64).max).any()
    # deterministic, batch-composition independent
    again = oph_minhash_batch(docs, 128, seed=42)
    assert (sigs[:4] == again).all()
    solo = oph_minhash_batch([docs[2]], 128, seed=42)
    assert (solo[0] == sigs[2]).all()
    # different seed routes bins differently
    other = oph_minhash_batch(docs, 128, seed=43)
    assert not (other == sigs[:4]).all()
    import pytest

    with pytest.raises(ValueError):
        oph_minhash_batch(docs, 100, seed=42)


def test_oph_minhash_estimates_jaccard():
    """Matching-bin fraction estimates Jaccard with accuracy comparable to
    the k-perm affine family (Li/Owen/Zhang 2012; densification per
    Shrivastava & Li 2014 keeps P(match) ≈ J for sparse bins too)."""
    import numpy as np

    from iamsystem_python_spark.functions.hashing import oph_minhash_batch

    rng = np.random.default_rng(0)
    errs = []
    for _ in range(40):
        base = rng.integers(0, 2**63, size=400).astype(np.uint64)
        n_shared = int(400 * (rng.random() * 0.8 + 0.15))
        x = np.unique(base)
        y = np.unique(
            np.concatenate(
                [base[:n_shared],
                 rng.integers(0, 2**63, size=400 - n_shared).astype(np.uint64)]
            )
        )
        j = len(np.intersect1d(x, y)) / len(np.union1d(x, y))
        s = oph_minhash_batch([x, y], 128, seed=42)
        errs.append(abs(float((s[0] == s[1]).mean()) - j))
    assert float(np.mean(errs)) < 0.06 and max(errs) < 0.15


def test_oph_identical_docs_identical_sigs():
    import numpy as np

    from iamsystem_python_spark.functions.hashing import oph_minhash_batch

    rng = np.random.default_rng(3)
    x = np.unique(rng.integers(0, 2**63, size=37).astype(np.uint64))
    s = oph_minhash_batch([x, x.copy()], 64, seed=42)
    assert (s[0] == s[1]).all()
