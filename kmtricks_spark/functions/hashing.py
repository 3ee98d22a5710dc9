"""Hashing kernels: JVM-side Column expressions + numpy-vectorized twins.

The reference hashes k-mers with XXH64 (kmer_hash.hpp:226-330) and anchors
each partition's Bloom bits in a contiguous window:
``idx = (XXH64(kmer) % w) + w * p`` (gatb/sorting_count.hpp:347-363).
We standardize on Spark's built-in ``xxhash64`` on the JVM side so the hot
path never leaves codegen; the numpy twin (used inside Arrow UDFs where we
already hold byte buffers) is a polynomial rolling hash finished with a
splitmix64 avalanche — NOT bit-compatible with xxhash64, and never mixed
with it inside one artifact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# splitmix64 constants (public domain, Steele et al.)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)
_POLY_B = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def part_id_col(key: Column, nb_partitions: int) -> Column:
    """Static repartition: part = XXH64(key) % P (repartition.hpp:45-56)."""
    return F.pmod(F.xxhash64(key), F.lit(nb_partitions)).cast("int").alias("part_id")


def windowed_hash_col(key: Column, window_bits: int, part: Column) -> Column:
    """Global Bloom index local to partition `part` (kmer_hash.hpp:244-261).

    Per-partition outputs become directly concatenable: window w bits,
    partition p owns [p*w, (p+1)*w).
    """
    return (F.pmod(F.xxhash64(key), F.lit(window_bits)) + F.lit(window_bits) * part).alias(
        "hash_idx"
    )


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _SM_GAMMA
        x ^= x >> np.uint64(30)
        x *= _SM_M1
        x ^= x >> np.uint64(27)
        x *= _SM_M2
        x ^= x >> np.uint64(31)
    return x


def hash64_np(windows: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash each row of a (n, width) unsigned-int array to uint64.

    Polynomial accumulate over the columns (bytes, or UCS4 codepoints for
    token hashing) then splitmix64 avalanche. Used for shingle/token
    hashing and sketch inputs in Arrow batches.
    """
    if windows.ndim != 2:
        raise ValueError("expected a (n, width) array")
    acc = np.full(windows.shape[0], np.uint64(seed) + _SM_GAMMA, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(windows.shape[1]):
            acc = acc * _POLY_B + windows[:, j].astype(np.uint64)
    return splitmix64(acc)


def hash64_u64(vals: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash a uint64 array (e.g. packed 8-byte shingles) to uint64."""
    with np.errstate(over="ignore"):
        return splitmix64(vals.astype(np.uint64) + np.uint64(seed) * _SM_GAMMA)
