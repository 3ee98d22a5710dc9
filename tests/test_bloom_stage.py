"""Bloom stage end-to-end: membership of all counted kgrams, measured FPR
vs the analytic bound (utils.hpp:239-243), bf == bft equivalence, bfc
cells against the packc kernel, bf_probe against the numpy bit check,
Bloom config and restrict_to refusal, and pure-JVM plans."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.bloom_stage import (
    bf_concat,
    bf_probe,
    bf_slices,
    bfc_slices,
    fpr_report,
    hash_counts,
)
from kmtricks_spark.operators.count import count_kgrams
from kmtricks_spark.plans.pipeline import Pipeline
from kmtricks_spark.sketches import bloom

CFG = KmConfig(k=8, hard_min=1, nb_partitions=8, bloom_bits=1 << 20)


@pytest.fixture(scope="module")
def counts(spark, docs):
    return count_kgrams(docs, CFG).cache()


@pytest.fixture(scope="module")
def hc(counts):
    return hash_counts(counts, CFG).cache()


def test_all_inserted_members(spark, counts, hc):
    filters = {r.sample_id: bytes(r["filter"]) for r in bf_concat(bf_slices(hc, CFG), CFG).collect()}
    probe = hc.select("sample_id", "hash_idx").toPandas()
    for sample, grp in probe.groupby("sample_id"):
        blob = np.frombuffer(filters[sample], dtype=np.uint8)
        idx = grp["hash_idx"].to_numpy(dtype=np.int64)
        assert bloom.contains_local(blob, idx).all()


def test_measured_fpr_within_bound(spark, counts, hc):
    w = CFG.window_bits
    one = bf_concat(bf_slices(hc, CFG), CFG).orderBy("sample_id").first()
    blob = np.frombuffer(bytes(one["filter"]), dtype=np.uint8)
    n = one["total_set"]
    m = CFG.total_bloom_bits
    rng = np.random.default_rng(3)
    probes = rng.integers(0, m, size=200_000)
    hits = bloom.contains_local(blob, probes).mean()
    bound = bloom.fpr(m, n)
    # random probes ~ FPR + true-bit density; both bounded by n/m-ish
    assert hits <= bound * 1.5 + 0.01


def test_fpr_report_matches_model(hc):
    rep = fpr_report(bf_slices(hc, CFG), CFG).first()
    expect = 1.0 - np.exp(-rep["n_set"] / CFG.window_bits)
    assert abs(rep["fpr"] - expect) < 1e-6


def test_bft_equals_bf(spark, sf_dir, tmp_path):
    """The bft pipeline mode writes the same slices and FPR report as bf,
    byte for byte."""
    inp = os.path.join(sf_dir, "documents.parquet")
    out = {}
    for mode in ("bf", "bft"):
        p = Pipeline(spark, CFG.with_(bloom_mode=mode), str(tmp_path / mode), inp)
        p.stage_counts()
        p.stage_bloom()
        out[mode] = {
            t: sorted(tuple(r) for r in spark.read.parquet(os.path.join(p.run_dir, t)).collect())
            for t in ("bloom", "fpr")
        }
    assert out["bf"]["bloom"] and out["bf"] == out["bft"]


def test_bfc_cells(spark, counts):
    """bfc windows are byte-identical to bloom.pack_counts over the
    summed cell counts, at every cell width, including a window that is
    not a multiple of the 32768-bit bitmap bucket."""
    odd = CFG.with_(bloom_bits=165_000)
    assert odd.window_bits % 32768 != 0
    for cfg0 in (CFG, odd):
        w = cfg0.window_bits
        hc0 = hash_counts(counts, cfg0)
        hcp = hc0.toPandas()
        for width in (1, 2, 4, 8):
            rows = bfc_slices(hc0, cfg0.with_(bfc_width=width)).collect()
            assert len(rows) == len(hcp.groupby(["part_id", "sample_id"]))
            for r in rows:
                sel = hcp[(hcp["part_id"] == r.part_id) & (hcp["sample_id"] == r.sample_id)]
                cells = np.zeros(w, dtype=np.int64)
                np.add.at(
                    cells,
                    sel["hash_idx"].to_numpy(dtype=np.int64) - r.part_id * w,
                    sel["count"].to_numpy(dtype=np.int64),
                )
                assert bytes(r.packed) == bloom.pack_counts(cells, width).tobytes()


def test_bfc_slices_rejects_width_not_dividing_8(hc):
    with pytest.raises(ValueError, match="bfc_width"):
        bfc_slices(hc, CFG.with_(bfc_width=3))


def _probe_reference(slices, probes, cfg) -> list[tuple]:
    """Sorted (sample_id, kgram, member) by the numpy bit check: route
    each probe by xxhash64 mod P, read bit xxhash64 mod w of its
    (partition, sample) window, member 0 where that window is absent."""
    w = cfg.window_bits
    windows = {(r.part_id, r.sample_id): np.frombuffer(bytes(r.bitmap), dtype=np.uint8)
               for r in slices.collect()}
    h = F.xxhash64("kgram")
    rows = probes.select(
        "sample_id", "kgram", F.pmod(h, F.lit(cfg.nb_partitions)).alias("p"),
        F.pmod(h, F.lit(w)).alias("i"),
    ).collect()
    out = []
    for r in rows:
        bm = windows.get((r.p, r.sample_id))
        hit = bm is not None and bool(bloom.contains_local(bm, np.array([r.i]))[0])
        out.append((r.sample_id, r.kgram, int(hit)))
    return sorted(out)


@pytest.mark.parametrize("as_string", [True, False])
def test_bf_probe_equals_contains_local(spark, docs, as_string):
    """bf_probe answers like bloom.contains_local on the slices, for
    inserted keys (all members), absent keys, keys whose (sample,
    partition) has no slice row (member 0), and bytes-mode kgrams."""
    cfg = CFG.with_(kgram_as_string=as_string)
    counts = count_kgrams(docs, cfg)
    s0 = counts.select("sample_id").orderBy("sample_id").first()[0]
    gap = (F.col("sample_id") == s0) & (F.col("part_id") == 3)
    slices = bf_slices(hash_counts(counts, cfg), cfg).where(~gap).cache()
    keys = counts.select("sample_id", "kgram", "part_id").orderBy("kgram", "sample_id")
    present = keys.where(~gap).drop("part_id").limit(400)
    in_gap = keys.where(gap).drop("part_id").limit(50)
    absent = present.select(
        "sample_id", F.concat("kgram", F.lit("#" if as_string else b"#")).alias("kgram")
    )
    probes = present.unionByName(in_gap).unionByName(absent)
    got = bf_probe(slices, probes, cfg)
    assert got.schema["kgram"].dataType == probes.schema["kgram"].dataType
    assert sorted(tuple(r) for r in got.collect()) == _probe_reference(slices, probes, cfg)

    def members(p):
        return [r.member for r in bf_probe(slices, p, cfg).collect()]

    assert set(members(present)) == {1}
    assert set(members(in_gap)) == {0}
    assert sum(members(absent)) < absent.count()
    slices.unpersist()


@pytest.mark.parametrize(
    "cfg, match",
    [(CFG.with_(bloom_mode="bloom"), "bloom_mode"),
     (CFG.with_(bloom_mode="bfc", bfc_width=3), "bfc_width")],
    ids=["mode", "bfc_width"],
)
def test_pipeline_refuses_bad_bloom_config_before_any_work(spark, sf_dir, tmp_path, cfg, match):
    """An unknown bloom_mode, or a bfc cell width that does not divide 8,
    is refused at construction: no stage table and no lineage file."""
    rd = tmp_path / "run"
    with pytest.raises(ValueError, match=match):
        Pipeline(spark, cfg, str(rd), os.path.join(sf_dir, "documents.parquet")).run()
    assert not rd.exists()


@pytest.mark.parametrize("restrict", [[], [CFG.nb_partitions], [0, -1]],
                         ids=["empty", "past_last", "negative"])
def test_pipeline_refuses_bad_restrict_to_before_any_work(spark, sf_dir, tmp_path, restrict):
    """An empty restrict_to selects no row, and an id outside
    [0, nb_partitions) names no partition: both are refused at
    construction, with no stage table and no lineage file."""
    rd = tmp_path / "run"
    with pytest.raises(ValueError, match="restrict_to"):
        Pipeline(spark, CFG, str(rd), os.path.join(sf_dir, "documents.parquet"),
                 restrict_to=restrict).run()
    assert not rd.exists()


def test_bloom_and_count_plans_have_no_python_nodes(spark, docs, hc):
    """The count -> Bloom chain and the probe run in the JVM end to end:
    no Arrow or pandas boundary in any executed plan. Nor does any plan
    carry a zero window or bucket as a binary literal."""
    slices = bf_slices(hc, CFG)
    frames = [
        count_kgrams(docs, CFG),
        count_kgrams(docs, CFG.with_(kgram_as_string=False)),
        slices,
        bfc_slices(hc, CFG),
        bf_concat(slices, CFG),
        bf_probe(slices, count_kgrams(docs, CFG).select("sample_id", "kgram"), CFG),
    ]
    for df in frames:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in plan and "EvalPython" not in plan, plan
        assert "0x" + "00" * 64 not in plan
