"""Window-anchored partitioned Bloom filters: numpy reference kernels.

The reference's key design trick (hash.hpp:31-80, kmer_hash.hpp:244-261):
the global filter of B bits is split into P contiguous windows of
w = round_up(ceil(B/P), 64) bits; a key in partition p sets bit
(XXH64(key) % w) + w*p. Per-(sample, partition) slices are built
independently and the global per-sample filter is the ordered
concatenation of its P slices — no re-hashing, merge = bytewise OR.

The Spark builds and the probe in operators/bloom_stage.py run in the
JVM; these kernels are the test references for them: the layouts the
builds must reproduce byte for byte, and the bit check (contains_local)
that bf_probe must answer like:
* bf / bft — one BITSET slice per (sample, partition), LSB-first per
        byte (A9, count_processor.hpp:84-120); the bft transpose
        (merge.hpp:631-644) yields the same sample-major rows.
* bfc — counting: w-bit cells holding ceil(log2(c+1)) capped at 2^w-1
        (packc.hpp:16-43), pack_counts / unpack_counts.

FPR model: fpr = (1 - e^{-kn/m})^k with k=1 hash (utils.hpp:239-243).
"""

from __future__ import annotations

import math

import numpy as np


def create(window_bits: int) -> np.ndarray:
    if window_bits % 64:
        raise ValueError("window_bits must be a multiple of 64")
    return np.zeros(window_bits // 8, dtype=np.uint8)


def add_local_indices(state: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Set bits for window-local indices in [0, window_bits). LSB-first
    within a byte, like the reference's BITSET (utils.hpp:95-101)."""
    if idx.size == 0:
        return state
    byte = (idx >> 3).astype(np.int64)
    bit = (np.uint8(1) << (idx & 7).astype(np.uint8)).astype(np.uint8)
    np.bitwise_or.at(state, byte, bit)
    return state


def popcount(state: np.ndarray) -> int:
    """Number of set bits = n_set of a slice (cheaper than sort-unique of
    the index list, and identical since duplicates set the same bit)."""
    return int(np.unpackbits(state).sum())


def contains_local(state: np.ndarray, idx: np.ndarray) -> np.ndarray:
    byte = (idx >> 3).astype(np.int64)
    bit = (np.uint8(1) << (idx & 7).astype(np.uint8)).astype(np.uint8)
    return (state[byte] & bit) != 0


def pack_counts(counts: np.ndarray, width: int) -> np.ndarray:
    """bfc cells: to_n_b(c, width) = min(bit_length(c), 2^width - 1)
    (packc.hpp:26-34), packed `width` bits per cell, LSB-first."""
    cap = (1 << width) - 1
    c = counts.astype(np.uint64)
    bl = np.zeros(c.shape, dtype=np.uint8)
    t = c.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = t >= (np.uint64(1) << np.uint64(s))
        bl[m] += np.uint8(s)
        t[m] >>= np.uint64(s)
    bl[t > 0] += np.uint8(1)
    cells = np.minimum(bl, cap).astype(np.uint8)
    per_byte = 8 // width
    n = cells.size
    padded = np.zeros(((n + per_byte - 1) // per_byte) * per_byte, dtype=np.uint8)
    padded[:n] = cells
    out = np.zeros(padded.size // per_byte, dtype=np.uint8)
    for j in range(per_byte):
        out |= padded[j::per_byte] << np.uint8(j * width)
    return out


def unpack_counts(packed: np.ndarray, width: int, n: int) -> np.ndarray:
    per_byte = 8 // width
    mask = np.uint8((1 << width) - 1)
    cells = np.zeros(packed.size * per_byte, dtype=np.uint8)
    for j in range(per_byte):
        cells[j::per_byte] = (packed >> np.uint8(j * width)) & mask
    return cells[:n]


def fpr(m_bits: int, n_items: int, k_hashes: int = 1) -> float:
    """(1 - e^{-kn/m})^k — utils.hpp:239-243."""
    return (1.0 - math.exp(-(k_hashes * n_items) / m_bits)) ** k_hashes
