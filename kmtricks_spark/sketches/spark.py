"""Sketches as Spark aggregates: one ``payload`` row per group.

- ``hll``: a register max over the engine's 64-bit hash column
  (compute it JVM-side with F.xxhash64). ``hll_registers`` derives
  (idx, rank) with the same bit arithmetic as ``hll.add_hashes`` and
  takes ``groupBy(groups, idx).max(rank)``; the payload is the exact
  register sum ``struct(m, nz, inv65)`` and ``hll_estimate_col`` is
  ``hll.estimate``'s formula in SQL. No Python in the plan.
- ``kll``: Spark's native ``kll_sketch_agg_double``; ``quantile_rows``
  and ``kll_rank_rows`` read it with ``kll_sketch_get_quantile_double``
  / ``kll_sketch_get_rank_double``. No Python in the plan.
- ``cms``: the Kirsch-Mitzenmacher cells of ``sketches/cms.py`` (uint64
  wrapping arithmetic, which ANSI-mode longs reject, so numpy computes
  them in a mapInPandas). Each batch emits sparse ``(groups, cell, n)``
  rows, the JVM sums them per ``(groups, cell)``, and one applyInPandas
  per group packs the cells into ``cms.serialize``.

Spark's partial (map-side) aggregation bounds the fan-in of every
group, including a single global group. Rows whose hash is null are
dropped: they are not an item.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from kmtricks_spark.sketches import cms

_TWO_65 = 1 << 65


def sketch_agg(
    df: DataFrame, group_cols: list[str], value_col: str, kind: str, *,
    p: int = 14, k: int = 200, width: int = 27183, depth: int = 5,
) -> DataFrame:
    """One (group..., payload) row per group. ``value_col`` is a 64-bit
    hash for hll (``p``) and cms (``width``, ``depth``), a numeric column
    for kll (``k``)."""
    if kind == "hll":
        return hll_payload(hll_registers(df, group_cols, value_col, p), group_cols, p)
    if kind == "kll":
        kll = F.kll_sketch_agg_double(F.col(value_col).cast("double"), k)
        return df.groupBy(*group_cols).agg(kll.alias("payload"))
    if kind == "cms":
        return _cms_agg(df, group_cols, value_col, width, depth)
    raise ValueError(f"kind must be hll|kll|cms, got {kind!r}")


# -------------------------------------------------------------------- HLL

def hll_registers(df: DataFrame, group_cols: list[str], hash_col: str, p: int = 14) -> DataFrame:
    """Non-zero HLL registers (group..., idx, rank), row for row the
    non-zero entries of ``hll.add_hashes``: idx = top p bits of h, rank =
    65 - bit_length(h << p). A register max is order- and
    partition-independent, so this also runs as a streaming aggregate."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4,18]")
    h = F.col(hash_col)
    rest = F.shiftleft(h, p)
    rank = F.lit(65) - F.when(rest == 0, 0).otherwise(F.length(F.bin(rest)))
    return (
        df.where(h.isNotNull())
        .select(*group_cols, F.shiftrightunsigned(h, 64 - p).cast("int").alias("idx"), rank.alias("rank"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rank").alias("rank"))
    )


def hll_payload(registers: DataFrame, group_cols: list[str], p: int) -> DataFrame:
    """Registers -> (group..., payload struct(m, nz, inv65)) with
    inv65 = sum(2^(65 - rank)) over the non-zero registers, summed as an
    exact decimal so the estimate does not depend on row order."""
    inv65 = F.sum(F.pow(F.lit(2.0), F.lit(65) - F.col("rank")).cast("decimal(38,0)"))
    return registers.groupBy(*group_cols).agg(
        F.struct(
            F.lit(1 << p).cast("long").alias("m"),
            F.count(F.lit(1)).alias("nz"),
            inv65.alias("inv65"),
        ).alias("payload")
    )


def hll_estimate_col(payload_col: str = "payload") -> Column:
    """``hll.estimate`` in SQL: raw = alpha m^2 / sum(2^-reg), linear
    counting m ln(m / zeros) while raw <= 2.5 m and a register is zero."""
    pl = F.col(payload_col)
    m, nz = pl["m"], pl["nz"]
    zeros = m - nz
    # sum(2^-reg) = inv65 / 2^65 over non-zero registers + 1 per zero one
    shifted_zeros = zeros.cast("decimal(20,0)") * F.lit(str(_TWO_65)).cast("decimal(21,0)")
    z = (pl["inv65"] + shifted_zeros).cast("double") / float(_TWO_65)
    alpha = (
        F.when(m == 16, 0.673).when(m == 32, 0.697).when(m == 64, 0.709)
        .otherwise(F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m))
    )
    raw = alpha * m * m / z
    return F.when((raw <= 2.5 * m) & (zeros > 0), m * F.log(m / zeros)).otherwise(raw)


# -------------------------------------------------------------------- KLL

def _kll_rows(agg: DataFrame, group_cols: list[str], read, xs: list[float],
              x_name: str, y_name: str) -> DataFrame:
    """``read(payload, array(xs))`` exploded to scalar rows
    (group..., x_name, y_name)."""
    x_arr = F.array(*[F.lit(float(x)) for x in xs])
    return (
        agg.select(*group_cols, F.posexplode(read(F.col("payload"), x_arr)).alias("pos", y_name))
        .withColumn(x_name, F.element_at(x_arr, F.col("pos") + 1))
        .select(*group_cols, x_name, y_name)
    )


def quantile_rows(
    agg: DataFrame, group_cols: list[str], qs: list[float], kind: str = "kll"
) -> DataFrame:
    """KLL quantiles as scalar rows (group..., q, quantile).

    The native sketch uses the inclusive search criterion: with k >= n it
    never compacts and the quantile is the exact order statistic
    sorted[max(ceil(q*n), 1)] (1-based), which binary-exact q fractions
    make comparable against an ANSI-SQL row_number oracle. With k < n it
    compacts at random, so results are within the KLL rank bound only.
    """
    if kind != "kll":
        raise ValueError(f"quantile_rows reads kll sketches, got {kind!r}")
    return _kll_rows(agg, group_cols, F.kll_sketch_get_quantile_double, qs, "q", "quantile")


def kll_rank_rows(agg: DataFrame, group_cols: list[str], probes: list[float]) -> DataFrame:
    """KLL rank estimates (fraction of items <= probe) as scalar rows
    (group..., probe, rank). With k >= n the rank is exactly
    count(x <= probe)/n, so it hash-matches a SQL oracle."""
    return _kll_rows(agg, group_cols, F.kll_sketch_get_rank_double, probes, "probe", "rank")


# -------------------------------------------------------------------- CMS

def _cms_agg(df: DataFrame, group_cols: list[str], hash_col: str, width: int, depth: int) -> DataFrame:
    fields = [df.schema[c] for c in group_cols]
    cell_schema = StructType(fields + [StructField("cell", LongType()), StructField("n", LongType())])

    def cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat = cms.flat_cells(width, depth, pdf[hash_col].to_numpy(np.int64).view(np.uint64))
            rows = pd.DataFrame({c: np.tile(pdf[c].to_numpy(), depth) for c in group_cols})
            rows["cell"] = flat.ravel()
            yield rows.groupby(group_cols + ["cell"], sort=False, dropna=False).size().reset_index(name="n")

    def pack(key, pdf):
        st = np.zeros(depth * width, dtype=np.int64)
        st[pdf["cell"].to_numpy()] = pdf["n"].to_numpy()
        return pd.DataFrame([(*key, cms.serialize(st.reshape(depth, width)))], columns=group_cols + ["payload"])

    summed = (
        df.where(F.col(hash_col).isNotNull())
        .select(*group_cols, hash_col)
        .mapInPandas(cells, schema=cell_schema)
        .groupBy(*group_cols, "cell")
        .agg(F.sum("n").alias("n"))
    )
    out_schema = StructType(fields + [StructField("payload", BinaryType())])
    return summed.groupBy(*group_cols).applyInPandas(pack, schema=out_schema)


def cms_query_driver(payload: bytes, hashes: np.ndarray) -> np.ndarray:
    """Point queries against a collected CMS payload (driver-side)."""
    return cms.query(cms.deserialize(payload), hashes.astype(np.int64).view(np.uint64))
