"""Lineage observed on the stage write: every record equals a recount of
the table read back, recording it starts no Spark job, and resume sees
every parameter a stage's output depends on."""

import os

import pytest
from pyspark.sql import functions as F

import kmtricks_spark.plans.lineage as lineage_mod
import kmtricks_spark.plans.pipeline as pipeline_mod
from kmtricks_spark import KmConfig
from kmtricks_spark.plans.lineage import read_lineage
from kmtricks_spark.plans.pipeline import STAGES, Pipeline

CFG = KmConfig(k=8, hard_min=2, soft_min=2, nb_partitions=8, bloom_bits=1 << 18)
CURATE_GATES = dict(min_quality=0.5, gopher=True, dedup="minhash", min_jaccard=0.8)


def content_checksum(df) -> int:
    """The reference: order-insensitive 63-bit sum of row hashes over
    the table as read back."""
    cols = [F.col(c) for c in sorted(df.columns)]
    v = df.agg(F.sum(F.xxhash64(*cols) % F.lit(2**31)).alias("s")).collect()[0]["s"]
    return int(v or 0) & ((1 << 63) - 1)


def _assert_lineage_matches_table(spark, run_dir, stage):
    rec = read_lineage(run_dir, stage)
    table = spark.read.parquet(os.path.join(run_dir, stage))
    assert rec["output_rows"] == table.count(), stage
    assert rec["checksum"] == content_checksum(table), stage
    if "part_id" in table.columns:
        parts = sorted(r.part_id for r in table.select("part_id").distinct().collect())
        assert rec["partitions"] == parts, stage
    else:
        assert rec["partitions"] is None, stage
    assert "input_rows" not in rec


@pytest.fixture
def no_job_lineage(spark, monkeypatch):
    """Run the body under a job group, and fail any write_lineage call
    during which a job of that group started."""
    sc = spark.sparkContext
    group = "lineage-test"
    calls = []

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def patched(orig):
        def write_lineage(run_dir, stage, *args, **kwargs):
            before = jobs()
            out = orig(run_dir, stage, *args, **kwargs)
            calls.append((stage, jobs() - before))
            return out

        return write_lineage

    for owner in (pipeline_mod, lineage_mod):
        monkeypatch.setattr(owner, "write_lineage", patched(owner.write_lineage))
    sc.setJobGroup(group, group)
    try:
        yield calls
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("variant", ["plain", "restrict", "sampled"])
def test_pipeline_lineage_equals_read_back(spark, sf_dir, tmp_path, no_job_lineage, variant):
    inp = os.path.join(sf_dir, "documents.parquet")
    cfg = CFG.with_(repartition_type="sampled") if variant == "sampled" else CFG
    restrict = [0, 3, 5] if variant == "restrict" else None
    rd = str(tmp_path / variant)
    status = Pipeline(spark, cfg, rd, inp, restrict_to=restrict).run()
    assert all(v == "done" for v in status.values()), status
    assert no_job_lineage == [(stage, set()) for stage in STAGES]
    for stage in STAGES:
        _assert_lineage_matches_table(spark, rd, stage)
    if restrict is not None:
        assert read_lineage(rd, "matrix")["partitions"] == restrict


def test_curate_run_lineage_equals_read_back(spark, sf_dir, tmp_path, no_job_lineage):
    from kmtricks_spark.operators.curation import curate_run

    inp = os.path.join(sf_dir, "documents.parquet")
    bench = str(tmp_path / "bench.parquet")
    spark.read.parquet(inp).orderBy("doc_id").limit(5).select("text").write.parquet(bench)
    rd = str(tmp_path / "crun")
    _, rep = curate_run(spark, rd, inp, decontaminate_path=bench, **CURATE_GATES)
    gates = ("scalar", "dedup", "decontam")
    assert no_job_lineage == [(stage, set()) for stage in gates]
    for stage in gates:
        _assert_lineage_matches_table(spark, rd, stage)
    assert read_lineage(rd, "dedup")["output_rows"] == rep["after_dedup"]
    assert read_lineage(rd, "decontam")["output_rows"] == rep["after_decontam"]


def test_resume_with_new_soft_min_quantile_recomputes_merge(spark, sf_dir, tmp_path):
    """The quantile-derived per-sample thresholds shape matrix and pa,
    so changing soft_min_quantile must invalidate both (and only them)."""
    inp = os.path.join(sf_dir, "documents.parquet")
    cfg = CFG.with_(soft_min=1)
    rd = str(tmp_path / "resumed")
    Pipeline(spark, cfg, rd, inp, until="pa").run()
    plain_rows = read_lineage(rd, "matrix")["output_rows"]
    status = Pipeline(spark, cfg, rd, inp, until="pa", soft_min_quantile=0.9).run()
    assert status == {"counts": "skipped", "histogram": "skipped",
                      "matrix": "done", "pa": "done"}
    fresh = str(tmp_path / "fresh")
    Pipeline(spark, cfg, fresh, inp, until="pa", soft_min_quantile=0.9).run()
    for stage in ("matrix", "pa"):
        assert read_lineage(rd, stage)["output_rows"] == read_lineage(fresh, stage)["output_rows"]
        assert read_lineage(rd, stage)["checksum"] == read_lineage(fresh, stage)["checksum"]
    assert read_lineage(fresh, "matrix")["output_rows"] < plain_rows
