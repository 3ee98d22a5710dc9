"""Sketches as Spark aggregates: the HLL registers and estimate pinned to
the numpy kernel, partial -> final aggregation equal to the whole,
estimates within bounds vs exact Spark aggregates, and no Python in the
hll/kll plans."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmtricks_spark.sketches import cms, hll
from kmtricks_spark.sketches.spark import (
    hll_estimate_col,
    hll_registers,
    kll_rank_rows,
    quantile_rows,
    sketch_agg,
)


def _u64(values) -> np.ndarray:
    return np.array(values, dtype=np.int64).view(np.uint64)


def test_hll_per_group_vs_exact(spark, docs):
    toks = docs.select(
        F.col("source").alias("g"), F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    hashed = toks.select("g", F.xxhash64("tok").alias("h"))
    est = {
        r.g: r.est
        for r in sketch_agg(hashed, ["g"], "h", "hll", p=14)
        .select("g", hll_estimate_col().alias("est"))
        .collect()
    }
    exact = {
        r.g: r.d for r in toks.groupBy("g").agg(F.countDistinct("tok").alias("d")).collect()
    }
    for g, d in exact.items():
        assert abs(est[g] - d) / max(d, 1) < 0.05, (g, est[g], d)


def test_hll_registers_match_numpy_kernel(spark, docs):
    """Register pin: hll_registers' rows are exactly the non-zero
    registers of hll.add_hashes, and the SQL estimate equals
    hll.estimate to 1e-12 relative, identically under repartition(7)."""
    hashed = docs.select(F.col("source").alias("g"), F.xxhash64("text").alias("h")).cache()
    by_group: dict = {}
    for r in hashed.collect():
        by_group.setdefault(r.g, []).append(r.h)
    try:
        for p in (4, 12, 14):
            regs = hll_registers(hashed, ["g"], "h", p).collect()
            got = {g: {} for g in by_group}
            for r in regs:
                got[r.g][r.idx] = r.rank
            est = [
                {r.g: r.e for r in sketch_agg(src, ["g"], "h", "hll", p=p)
                 .select("g", hll_estimate_col().alias("e")).collect()}
                for src in (hashed, hashed.repartition(7))
            ]
            assert est[0] == est[1], p
            for g, hs in by_group.items():
                st = hll.add_hashes(hll.create(p=p), _u64(hs))
                want = {int(i): int(st[i]) for i in np.flatnonzero(st)}
                assert got[g] == want, (p, g)
                ref = hll.estimate(st)
                assert abs(est[0][g] - ref) <= 1e-12 * ref, (p, g, est[0][g], ref)
    finally:
        hashed.unpersist()


def test_hll_registers_rejects_p_out_of_range(spark):
    df = spark.createDataFrame([("a", 1)], "g string, h long")
    for p in (3, 19):
        with pytest.raises(ValueError, match="p must be"):
            hll_registers(df, ["g"], "h", p)


def test_partial_then_merge_equals_whole(spark, docs):
    """One global group over 7 partitions: Spark's partial (map-side) and
    final aggregation give exactly the sketch of the whole input, for the
    HLL registers and the CMS cells."""
    hashed = docs.select(F.lit("all").alias("g"), F.xxhash64("text").alias("h")).repartition(7)
    whole = _u64([r.h for r in hashed.collect()])
    regs = hll_registers(hashed, ["g"], "h", 12).collect()
    st = np.zeros(1 << 12, dtype=np.uint8)
    st[[r.idx for r in regs]] = [r.rank for r in regs]
    assert np.array_equal(st, hll.add_hashes(hll.create(p=12), whole))
    payload = sketch_agg(hashed, ["g"], "h", "cms", width=257, depth=3).collect()[0]["payload"]
    ref = cms.add_hashes(cms.create(257, 3), whole)
    assert np.array_equal(cms.deserialize(bytes(payload)), ref)


def test_null_hashes_are_not_items(spark):
    """A null hash is no item: one distinct non-null value estimates as 1
    and counts once in every CMS row."""
    df = spark.createDataFrame([("a", 11), ("a", None), ("a", None)], "g string, h long")
    est = sketch_agg(df, ["g"], "h", "hll", p=14).select(hll_estimate_col().alias("e")).collect()
    one = hll.estimate(hll.add_hashes(hll.create(p=14), _u64([11])))
    assert len(est) == 1 and abs(est[0].e - one) <= 1e-12 * one
    payload = sketch_agg(df, ["g"], "h", "cms", width=64, depth=3).collect()[0]["payload"]
    assert cms.deserialize(bytes(payload)).sum(axis=1).tolist() == [1, 1, 1]


def test_hll_overlap_vs_exact(spark, docs):
    """Inclusion-exclusion overlap estimate within combined-sketch error:
    3 sketches contribute, so allow ~3x the single-sketch 3-sigma band.
    The union sketch is sketch_agg over both groups' rows relabelled as
    one group."""
    toks = docs.select(
        F.col("source").alias("g"), F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    hashed = toks.select("g", F.xxhash64("tok").alias("h"))

    def estimates(df):
        return {r.g: r.e for r in sketch_agg(df, ["g"], "h", "hll", p=14)
                .select("g", hll_estimate_col().alias("e")).collect()}

    single = estimates(hashed)
    gs = sorted(single)[:3]
    pairs = [(a, b) for i, a in enumerate(gs) for b in gs[i + 1:]]
    union_rows = None
    for a, b in pairs:
        rows = hashed.where(F.col("g").isin(a, b)).select(F.lit(f"{a}|{b}").alias("g"), "h")
        union_rows = rows if union_rows is None else union_rows.unionByName(rows)
    union_est = estimates(union_rows)
    sets = {
        g: {r.tok for r in toks.where(F.col("g") == g).select("tok").distinct().collect()}
        for g in gs
    }
    sigma = 1.04 / np.sqrt(2**14)
    for a, b in pairs:
        est = single[a] + single[b] - union_est[f"{a}|{b}"]
        exact = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert abs(est - exact) <= 3 * 3 * sigma * union + 2, (a, b, est, exact)


def test_kll_quantiles_vs_exact(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = sketch_agg(
        li.select(F.lit("x").alias("g"), "l_extendedprice"), ["g"], "l_extendedprice", "kll", k=200
    )
    got = {r.q: r.quantile for r in quantile_rows(agg, ["g"], [0.1, 0.5, 0.9], "kll").collect()}
    vals = np.array([r[0] for r in li.select("l_extendedprice").collect()])
    for q in (0.1, 0.5, 0.9):
        true_rank = (vals <= got[q]).mean()
        assert abs(true_rank - q) < 0.03


def test_sketch_plans_have_no_python_nodes(spark, docs):
    """hll and kll are JVM aggregates end to end: no Arrow or pandas
    boundary in the executed plans of sketch_agg, the HLL estimate, or
    the KLL quantile and rank readers."""
    hashed = docs.select("source", F.xxhash64("text").alias("h"))
    vals = docs.select("source", F.length("text").cast("double").alias("v"))
    kll = sketch_agg(vals, ["source"], "v", "kll", k=64)
    frames = [
        sketch_agg(hashed, ["source"], "h", "hll", p=12).select("source", hll_estimate_col()),
        quantile_rows(kll, ["source"], [0.5], "kll"),
        kll_rank_rows(kll, ["source"], [100.0]),
    ]
    for df in frames:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in plan and "EvalPython" not in plan, plan
