"""HyperLogLog (dense, 2^p uint8 registers) over 64-bit hashes.

Published bound: relative standard error ~= 1.04 / sqrt(2^p)
(Flajolet et al. 2007); p=14 -> ~0.81%. Replaces the reference's
Bloom-based cardinality backsolve (utils.hpp:245-248).

The Spark path (sketches/spark.py: hll_registers, hll_estimate_col)
computes the same registers and estimate as JVM aggregates; this numpy
kernel is the reference the tests pin it against.
"""

from __future__ import annotations

import numpy as np


def create(p: int = 14) -> np.ndarray:
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4,18]")
    return np.zeros(1 << p, dtype=np.uint8)


def _p_of(state: np.ndarray) -> int:
    return int(state.size).bit_length() - 1


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 (no float round-off)."""
    bl = np.zeros(x.shape, dtype=np.uint8)
    t = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = t >= (np.uint64(1) << np.uint64(s))
        bl[m] += np.uint8(s)
        t[m] >>= np.uint64(s)
    bl[t > 0] += np.uint8(1)
    return bl


def add_hashes(state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    if hashes.size == 0:
        return state
    p = _p_of(state)
    h = hashes.astype(np.uint64, copy=False)
    idx = (h >> np.uint64(64 - p)).astype(np.int64)
    rest = h << np.uint64(p)  # top 64-p bits of the suffix
    # rank = leading zeros of suffix + 1 = (64 - bit_length(rest)) + 1
    rank = (np.uint8(64) - _bit_length_u64(rest)) + np.uint8(1)
    np.maximum.at(state, idx, rank)
    return state


def estimate(state: np.ndarray) -> float:
    m = float(state.size)
    if state.size >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(state.size, 0.7213 / (1 + 1.079 / m))
    inv = np.ldexp(1.0, -state.astype(np.int64))
    raw = alpha * m * m / inv.sum()
    zeros = int((state == 0).sum())
    if raw <= 2.5 * m and zeros:
        return m * np.log(m / zeros)  # linear counting, small range
    return float(raw)
