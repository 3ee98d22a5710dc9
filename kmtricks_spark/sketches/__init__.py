"""Mergeable sketch library (north-rule addition).

Every sketch is a plain-bytes payload with a numpy-vectorized kernel
exposing the same contract:

    create(**params) -> state
    add_hashes(state, uint64[]) / add_values(state, float64[])
    merge(a, b) -> state          (associative & commutative)
    serialize(state) -> bytes / deserialize(bytes) -> state
    estimate / query helpers

Spark integration (spark.py) follows the partial -> merge -> final shape:
mapInPandas computes per-batch partials (no shuffle of raw rows beyond
the grouping), groupBy().applyInPandas merges payloads. Associativity
under shuffle-order randomization is covered by tests for every sketch.

``bloom`` is the exception: it holds the numpy layout kernels that the
JVM Bloom builds in operators/bloom_stage.py must reproduce, plus the
probe-side bit check.
"""

from kmtricks_spark.sketches import bloom, cms, hll, kll, tdigest  # noqa: F401
