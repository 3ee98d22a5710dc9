"""Property-based checks (hypothesis) for the sketch kernels: bounds and
merge laws must hold for arbitrary inputs, not just the seeded fixtures."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kmtricks_spark.functions.hashing import hash64_u64
from kmtricks_spark.sketches import bloom, cms, hll

small_ints = st.lists(st.integers(0, 10_000), min_size=1, max_size=400)


def _h(vals):
    return hash64_u64(np.asarray(vals, dtype=np.uint64))


@settings(max_examples=40, deadline=None)
@given(small_ints, small_ints)
def test_hll_merge_commutes_and_bounds_union(a, b):
    # folding b into a's registers == folding a into b's == the union
    # stream (lossless register max, whatever the order)
    ab = hll.add_hashes(hll.add_hashes(hll.create(p=10), _h(a)), _h(b))
    ba = hll.add_hashes(hll.add_hashes(hll.create(p=10), _h(b)), _h(a))
    assert np.array_equal(ab, ba)
    su = hll.add_hashes(hll.create(p=10), _h(a + b))
    assert np.array_equal(ab, su)


@settings(max_examples=40, deadline=None)
@given(small_ints)
def test_cms_point_queries_never_underestimate(xs):
    vals, counts = np.unique(np.asarray(xs, dtype=np.uint64), return_counts=True)
    st_ = cms.add_hashes(cms.create(256, 4), hash64_u64(vals), counts)
    est = cms.query(st_, hash64_u64(vals))
    assert (est >= counts).all()
    assert est.sum() <= 4 * counts.sum() * len(vals)  # sanity, loose


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 2**20 - 1), min_size=1, max_size=500))
def test_bloom_no_false_negatives(idx):
    w = 1 << 20
    arr = np.asarray(idx, dtype=np.int64)
    st_ = bloom.add_local_indices(bloom.create(w), arr)
    assert bloom.contains_local(st_, arr).all()


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(0, 2**31 - 1), min_size=1, max_size=200), st.integers(1, 4))
def test_bfc_cells_match_reference_formula(counts, width):
    if 8 % width:
        width = {1: 1, 2: 2, 3: 2, 4: 4}[width]
    c = np.asarray(counts, dtype=np.int64)
    cells = bloom.unpack_counts(bloom.pack_counts(c, width), width, c.size)
    cap = (1 << width) - 1
    expect = np.minimum(np.ceil(np.log2(c + 1.0)).astype(np.int64), cap)
    assert np.array_equal(cells.astype(np.int64), expect)
