"""Sketch kernels: published error bounds + order independence under
shuffle-order randomization (north-rule gates). The HLL and CMS kernels
are pure numpy; the KLL checks run Spark's native sketch through
sketches/spark.py."""

import numpy as np
import pandas as pd

from kmtricks_spark.functions.hashing import hash64_u64
from kmtricks_spark.sketches import bloom, cms, hll

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
    """Folding 13 parts into one register array in any order gives the
    registers of the whole stream: the register max that the Spark
    aggregate (partial then final) relies on."""
    hs = _hashes(50_000)
    parts = np.array_split(hs, 13)
    whole = hll.add_hashes(hll.create(p=12), hs)
    for perm in [RNG.permutation(13) for _ in range(20)]:
        st = hll.create(p=12)
        for i in perm:
            st = hll.add_hashes(st, parts[i])
        assert np.array_equal(st, whole)


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
            st = st + cms.add_hashes(cms.create(500, 4), hs[parts[i]], cts[parts[i]])
        assert np.array_equal(st, whole)  # integer sums: exactly associative


def test_cms_serde():
    st = cms.add_hashes(cms.create(100, 3), _hashes(50))
    assert np.array_equal(cms.deserialize(cms.serialize(st)), st)


# ------------------------------------------------------------------- KLL

def test_kll_rank_error(spark):
    """Spark's native KLL at k=200 over 100k values (so it compacts):
    kll_rank_rows stays within the rank bound."""
    from pyspark.sql import functions as F

    from kmtricks_spark.sketches.spark import kll_rank_rows, sketch_agg

    data = RNG.standard_normal(100_000)
    df = spark.createDataFrame(pd.DataFrame({"v": data})).select(F.lit("g").alias("g"), "v")
    agg = sketch_agg(df, ["g"], "v", "kll", k=200)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    xs = np.quantile(data, qs)
    got = {r.probe: r.rank for r in kll_rank_rows(agg, ["g"], list(xs)).collect()}
    for q, x in zip(qs, xs):
        assert abs(got[float(x)] - q) < 0.03, (q, got[float(x)])


def test_kll_merge_bound_under_shuffle(spark):
    """The native KLL merged across 10 shuffled partitions keeps n and
    the median's rank bound."""
    from pyspark.sql import functions as F

    from kmtricks_spark.sketches.spark import quantile_rows, sketch_agg

    data = RNG.standard_normal(60_000)
    df = spark.createDataFrame(pd.DataFrame({"v": data}))
    for seed in range(3):
        shuffled = df.select(F.lit("g").alias("g"), "v").orderBy(F.rand(seed)).repartition(10)
        agg = sketch_agg(shuffled, ["g"], "v", "kll", k=200)
        assert agg.select(F.kll_sketch_get_n_double("payload")).collect()[0][0] == data.size
        med = quantile_rows(agg, ["g"], [0.5], "kll").collect()[0]["quantile"]
        assert abs((data <= med).mean() - 0.5) < 0.04


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
