"""Post-processing over matrix tables: combine / filter / aggregate.

Reference parity (SURVEY §2.5 J8-J10, §3.3):
* combine  — horizontal merge of matrices from different runs
  (matrix.hpp:395-460, cmd.hpp:370-437): full-outer on kgram, count
  vectors concatenated with zero-fill.
* filter   — join a new sample's counts against an existing matrix
  (matrix.hpp:23-341, cmd.hpp:608-724); output modes m (matrix + new
  column), k (kgrams only in the key sample = anti-join), v (the key
  sample's vector aligned to matrix order = left join).
* aggregate — vertical union of per-partition matrices, optionally
  globally sorted (cmd.hpp:440-606).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_repart_compat(params_a: dict, params_b: dict) -> None:
    """Combine/filter require both runs to share the partitioning config
    — the reference refuses otherwise (task.hpp:136-147): equal k and P,
    so part_id = XXH64(kgram) % P places every kgram alike in both runs.
    A run whose lineage records ``repartition_type: sampled`` (written by
    an earlier version) placed its hot kgrams by a sampled map this
    version no longer reads, so it is refused too."""
    for params in (params_a, params_b):
        if str(params.get("repartition_type")) == "sampled":
            raise ValueError(
                "incompatible runs: a run records repartition_type='sampled'; "
                "its part_ids follow a sampled map — recompute it"
            )
    for key in ("k", "nb_partitions"):
        if str(params_a.get(key)) != str(params_b.get(key)):
            raise ValueError(
                f"incompatible runs: {key}={params_a.get(key)!r} vs {params_b.get(key)!r}"
            )


def combine(a: DataFrame, b: DataFrame, width_a: int, width_b: int) -> DataFrame:
    """J8: full-outer join on kgram; absent side zero-filled.

    `a`/`b`: (part_id, kgram, counts array<long>). Requires the same
    partitioning function on both runs, as the reference enforces
    (task.hpp:136-147) — validate with check_repart_compat on the runs'
    lineage params; part_id is carried from whichever side is present.
    """
    zeros_a = F.array_repeat(F.lit(0).cast("long"), width_a)
    zeros_b = F.array_repeat(F.lit(0).cast("long"), width_b)
    return (
        a.alias("a")
        .join(b.alias("b"), on="kgram", how="full_outer")
        .select(
            F.coalesce(F.col("a.part_id"), F.col("b.part_id")).alias("part_id"),
            F.col("kgram"),
            F.concat(
                F.coalesce(F.col("a.counts"), zeros_a),
                F.coalesce(F.col("b.counts"), zeros_b),
            ).alias("counts"),
        )
    )


def filter_matrix(matrix: DataFrame, key_counts: DataFrame, out: str = "m") -> DataFrame:
    """J9: merge a new sample (key_counts: kgram, count) into/against a matrix.

    out='m': inner join, matrix row + appended new-sample count column.
    out='k': kgrams present only in the key sample (anti-join).
    out='v': key-sample count aligned to matrix order (left join, 0-fill).
    """
    key = key_counts.select("kgram", F.col("count").alias("key_count"))
    if out == "m":
        j = matrix.join(key, "kgram", "inner")
        return j.select(
            "part_id",
            "kgram",
            F.concat(F.col("counts"), F.array(F.col("key_count"))).alias("counts"),
        )
    if out == "k":
        return key.join(matrix.select("kgram"), "kgram", "left_anti").select(
            "kgram", F.col("key_count").alias("count")
        )
    if out == "v":
        j = matrix.join(key, "kgram", "left")
        return j.select(
            "part_id", "kgram", F.coalesce("key_count", F.lit(0)).alias("key_count")
        )
    raise ValueError(f"unknown filter output mode: {out!r}")


def aggregate(parts: list[DataFrame], sorted_output: bool = False) -> DataFrame:
    """J10: union per-partition matrices; --sorted => global orderBy."""
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.orderBy("kgram") if sorted_output else df
