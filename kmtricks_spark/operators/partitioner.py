"""Partition placement and salting.

Placement is one expression, ``part_id = XXH64(kgram) % P``
(``functions/hashing.py:part_id_col``, repartition.hpp:45-56). kmtricks
balances partitions from a sampled frequency table (task.hpp:183-199)
because it counts one partition at a time. Here ``part_id`` is attached
after the ``groupBy(sample_id, kgram)``: Spark hashes that shuffle itself
and its map-side partial aggregation absorbs hot keys, so placement does
not change what any stage costs.

Salting: for aggregations whose per-key state is unbounded
(collect_list and friends), two-level agg with a salt column
(groupBy(key, salt) -> groupBy(key)). Plain counts don't need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt in [0, buckets) from a hash of `cols` (default:
    all columns) — NOT random, so retries/resume stay stable."""
    cols = cols or df.columns
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.lit(7)), F.lit(buckets)).cast("int")
    )


def two_level_count(df: DataFrame, keys: list[str], buckets: int = 16) -> DataFrame:
    """Skew-proof count: groupBy(keys, salt).count -> groupBy(keys).sum.

    For plain counts Spark's partial agg usually suffices; use this when
    a single key's rows would overflow one reducer's partition (Zipf-1
    shingles at web scale) or when composing with order-sensitive state.
    """
    salted = with_salt(df, buckets)
    partial = salted.groupBy(*keys, "salt").agg(F.count(F.lit(1)).alias("pcount"))
    return partial.groupBy(*keys).agg(F.sum("pcount").alias("count"))
