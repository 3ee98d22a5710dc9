"""Count-Min sketch over 64-bit hashes.

Published bound (Cormode & Muthukrishnan 2005): with width w = ceil(e/eps)
and depth d = ceil(ln(1/delta)), estimate(x) <= true(x) + eps*N with
probability >= 1-delta (never underestimates). Merge = elementwise add
(the Spark build sums cells per (group, cell) in the JVM).

Row hashes are derived from the input hash h as h_i = h1 + i*h2 (Kirsch-
Mitzenmacher double hashing), so callers only supply one 64-bit hash per
item — the same xxhash64 column the rest of the engine uses.
"""

from __future__ import annotations

import math

import numpy as np

from kmtricks_spark.functions.hashing import splitmix64

MAGIC = b"CMS1"


def params_for(eps: float, delta: float) -> tuple[int, int]:
    return math.ceil(math.e / eps), math.ceil(math.log(1.0 / delta))


def create(width: int = 27183, depth: int = 5) -> np.ndarray:
    return np.zeros((depth, width), dtype=np.int64)


def flat_cells(width: int, depth: int, hashes: np.ndarray) -> np.ndarray:
    """(depth, n) cells of the flattened sketch: row i's Kirsch-Mitzenmacher
    index (h1 + i*h2) mod width, offset by i*width."""
    h1 = hashes.astype(np.uint64, copy=False)
    h2 = splitmix64(h1) | np.uint64(1)
    i = np.arange(depth, dtype=np.uint64)[:, None]
    with np.errstate(over="ignore"):
        col = (h1[None, :] + i * h2[None, :]) % np.uint64(width)
    return (col + i * np.uint64(width)).astype(np.int64)


def add_hashes(state: np.ndarray, hashes: np.ndarray, counts: np.ndarray | None = None) -> np.ndarray:
    d, w = state.shape
    c = np.ones(hashes.size, dtype=np.int64) if counts is None else counts.astype(np.int64)
    np.add.at(state, np.divmod(flat_cells(w, d, hashes).ravel(), w), np.tile(c, d))
    return state


def query(state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    d, w = state.shape
    return state[np.divmod(flat_cells(w, d, hashes), w)].min(axis=0, initial=np.iinfo(np.int64).max)


def serialize(state: np.ndarray) -> bytes:
    d, w = state.shape
    return MAGIC + np.array([d, w], dtype=np.int32).tobytes() + state.tobytes()


def deserialize(buf: bytes) -> np.ndarray:
    assert buf[:4] == MAGIC, "bad CMS payload"
    d, w = np.frombuffer(buf[4:12], dtype=np.int32)
    return np.frombuffer(buf[12:], dtype=np.int64, count=d * w).reshape(d, w).copy()
