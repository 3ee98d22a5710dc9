"""Sketch kernels: published error bounds + merge associativity under
shuffle-order randomization (north-rule gates). Pure numpy — no Spark."""

import numpy as np
import pytest

from kmtricks_spark.functions.hashing import hash64_u64
from kmtricks_spark.sketches import bloom, cms, hll, kll, tdigest

RNG = np.random.default_rng(7)


def _hashes(n, seed=1):
    return hash64_u64(np.arange(n, dtype=np.uint64), seed=seed)


# ------------------------------------------------------------------- HLL

def test_hll_error_within_bound():
    n = 200_000
    st = hll.add_hashes(hll.create(p=14), _hashes(n))
    est = hll.estimate(st)
    rse = 1.04 / np.sqrt(2**14)
    assert abs(est - n) / n < 4 * rse  # 4 sigma


def test_hll_small_range_linear_counting():
    st = hll.add_hashes(hll.create(p=14), _hashes(100))
    assert abs(hll.estimate(st) - 100) < 5


def test_hll_merge_associative_and_shuffle_invariant():
    hs = _hashes(50_000)
    parts = np.array_split(hs, 13)
    base = None
    for perm in [RNG.permutation(13) for _ in range(20)]:
        st = hll.create(p=12)
        for i in perm:
            st = hll.merge(st, hll.add_hashes(hll.create(p=12), parts[i]))
        if base is None:
            base = st
        assert np.array_equal(st, base)
    whole = hll.add_hashes(hll.create(p=12), hs)
    assert np.array_equal(base, whole)


def test_hll_serde_roundtrip():
    st = hll.add_hashes(hll.create(p=10), _hashes(1000))
    assert np.array_equal(hll.deserialize(hll.serialize(st)), st)


def test_hll_sparse_payload_roundtrip_and_size():
    # low fill -> sparse encoding, much smaller than dense, same registers
    st = hll.add_hashes(hll.create(p=14), _hashes(50))
    buf = hll.serialize(st)
    assert buf[:4] == hll.MAGIC_SPARSE and len(buf) < (1 << 14) // 10
    assert np.array_equal(hll.deserialize(buf), st)
    # high fill -> dense
    st2 = hll.add_hashes(hll.create(p=8), _hashes(10_000))
    assert hll.serialize(st2)[:4] == hll.MAGIC


# ------------------------------------------------------------------- CMS

def test_cms_never_underestimates_and_bound():
    eps, delta = 1e-3, 0.01
    w, d = cms.params_for(eps, delta)
    true = RNG.zipf(1.5, size=50_000)
    true = true[true < 1000]
    items, counts = np.unique(true, return_counts=True)
    hs = hash64_u64(items.astype(np.uint64))
    st = cms.add_hashes(cms.create(w, d), hs, counts)
    est = cms.query(st, hs)
    assert (est >= counts).all()
    assert (est - counts <= eps * counts.sum()).all()


def test_cms_merge_equals_whole_and_shuffle_invariant():
    hs = _hashes(10_000)
    cts = RNG.integers(1, 5, size=hs.size)
    parts = np.array_split(np.arange(hs.size), 7)
    whole = cms.add_hashes(cms.create(500, 4), hs, cts)
    for _ in range(10):
        order = RNG.permutation(7)
        st = cms.create(500, 4)
        for i in order:
            st = cms.merge(st, cms.add_hashes(cms.create(500, 4), hs[parts[i]], cts[parts[i]]))
        assert np.array_equal(st, whole)  # integer sums: exactly associative


def test_cms_serde():
    st = cms.add_hashes(cms.create(100, 3), _hashes(50))
    assert np.array_equal(cms.deserialize(cms.serialize(st)), st)


# ------------------------------------------------------------------- KLL

def test_kll_rank_error():
    data = RNG.standard_normal(100_000)
    st = kll.add_values(kll.create(k=200), data)
    xs = np.quantile(data, [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    for q, x in zip([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99], xs):
        r = kll.rank(st, x)
        assert abs(r - q) < 0.03, (q, r)


def test_kll_merge_bound_under_shuffle():
    data = RNG.standard_normal(60_000)
    parts = np.array_split(data, 10)
    for _ in range(5):
        order = RNG.permutation(10)
        st = kll.create(k=200)
        for i in order:
            st = kll.merge(st, kll.add_values(kll.create(k=200), parts[i]))
        assert st.n == data.size
        med = kll.quantile(st, 0.5)
        true_rank = (data <= med).mean()
        assert abs(true_rank - 0.5) < 0.04


def test_kll_serde():
    st = kll.add_values(kll.create(k=128), RNG.standard_normal(5000))
    rt = kll.deserialize(kll.serialize(st))
    assert rt.n == st.n and all(np.array_equal(a, b) for a, b in zip(rt.levels, st.levels))


# --------------------------------------------------------------- t-digest

def test_tdigest_rank_error():
    data = RNG.exponential(size=100_000)
    st = tdigest.add_values(tdigest.create(delta=200), data)
    assert st.means.size <= 250  # compression held
    for q in [0.01, 0.1, 0.5, 0.9, 0.99, 0.999]:
        x = tdigest.quantile(st, q)
        true_rank = (data <= x).mean()
        assert abs(true_rank - q) < 0.02, (q, true_rank)


def test_tdigest_merge_bound_under_shuffle():
    data = RNG.standard_normal(50_000)
    parts = np.array_split(data, 8)
    for _ in range(5):
        order = RNG.permutation(8)
        st = tdigest.create(delta=200)
        for i in order:
            st = tdigest.merge(st, tdigest.add_values(tdigest.create(delta=200), parts[i]))
        for q in [0.1, 0.5, 0.9]:
            x = tdigest.quantile(st, q)
            assert abs((data <= x).mean() - q) < 0.03


def test_tdigest_serde():
    st = tdigest.add_values(tdigest.create(), RNG.standard_normal(1000))
    rt = tdigest.deserialize(tdigest.serialize(st))
    assert np.allclose(rt.means, st.means) and np.allclose(rt.weights, st.weights)


# ------------------------------------------------------------------ Bloom

def test_bloom_membership_and_fpr():
    w = 1 << 16
    n = 4000
    idx = (_hashes(n) % np.uint64(w)).astype(np.int64)
    st = bloom.add_local_indices(bloom.create(w), idx)
    assert bloom.contains_local(st, idx).all()
    probe = (hash64_u64(np.arange(20_000, dtype=np.uint64), seed=99) % np.uint64(w)).astype(np.int64)
    inserted = np.zeros(w, dtype=bool)
    inserted[idx] = True
    neg = probe[~inserted[probe]]
    measured = bloom.contains_local(st, neg).mean()
    bound = bloom.fpr(w, n)
    assert measured <= bound * 1.3 + 0.005


def test_bfc_pack_roundtrip_and_lognb():
    # to_n_b golden cases (packc_test.cpp style): c=0->0, 1->1, 2..3->2, 4..7->3, cap
    counts = np.array([0, 1, 2, 3, 4, 7, 8, 1000], dtype=np.int64)
    packed = bloom.pack_counts(counts, 2)
    cells = bloom.unpack_counts(packed, 2, counts.size)
    assert list(cells) == [0, 1, 2, 2, 3, 3, 3, 3]  # capped at 2^2-1
    packed4 = bloom.pack_counts(counts, 4)
    cells4 = bloom.unpack_counts(packed4, 4, counts.size)
    assert list(cells4) == [0, 1, 2, 2, 3, 3, 4, 10]
