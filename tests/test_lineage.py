"""Lineage observed on the stage write: every record equals a recount of
the table read back, recording it starts no Spark job, and resume sees
every parameter a stage's output depends on."""

import itertools
import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

import kmtricks_spark.plans.lineage as lineage_mod
import kmtricks_spark.plans.pipeline as pipeline_mod
from kmtricks_spark import KmConfig
from kmtricks_spark.plans.lineage import read_lineage
from kmtricks_spark.plans.pipeline import STAGES, Pipeline
from kmtricks_spark.sources.pages import SCHEMA_FILE, read_stage

CFG = KmConfig(k=8, hard_min=2, soft_min=2, nb_partitions=8, bloom_bits=1 << 18)
CURATE_GATES = dict(min_quality=0.5, gopher=True, dedup="minhash", min_jaccard=0.8)
GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
LINEAGE_KEYS = ("output_rows", "checksum", "partitions")
VARIANTS = {
    "plain": (CFG, {}),
    "restrict": (CFG, {"restrict_to": [0, 3, 5]}),
    "quantile": (CFG.with_(soft_min=1), {"soft_min_quantile": 0.9}),
}


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
    """Record, for every write_lineage call, the jobs it started. Each
    call runs under its own job group, set in the calling thread only, so
    a job that a concurrent stage starts meanwhile can neither hide a
    lineage job nor be blamed on one."""
    sc = spark.sparkContext
    ids = itertools.count()
    calls = []

    def patched(orig):
        def write_lineage(run_dir, stage, *args, **kwargs):
            group = f"lineage-{stage}-{next(ids)}"
            prev = {k: sc.getLocalProperty(k) for k in GROUP_PROPS}
            sc.setJobGroup(group, group)
            try:
                out = orig(run_dir, stage, *args, **kwargs)
            finally:
                for k, v in prev.items():
                    sc.setLocalProperty(k, v)
            sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
            calls.append((stage, set(sc.statusTracker().getJobIdsForGroup(group))))
            return out

        return write_lineage

    for owner in (pipeline_mod, lineage_mod):
        monkeypatch.setattr(owner, "write_lineage", patched(owner.write_lineage))
    return calls


@pytest.mark.parametrize("variant", ["plain", "restrict"])
def test_pipeline_lineage_equals_read_back(spark, sf_dir, tmp_path, no_job_lineage, variant):
    inp = os.path.join(sf_dir, "documents.parquet")
    restrict = [0, 3, 5] if variant == "restrict" else None
    rd = str(tmp_path / variant)
    status = Pipeline(spark, CFG, rd, inp, restrict_to=restrict).run()
    assert all(v == "done" for v in status.values()), status
    # matrix, pa and bloom run concurrently: their order is not fixed
    assert sorted(no_job_lineage, key=lambda c: c[0]) == [(stage, set()) for stage in sorted(STAGES)]
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


def test_resumed_curate_run_starts_no_job(spark, sf_dir, tmp_path):
    """A fully resumed three-gate curate_run reads every gate back from
    its table and lineage, and never the input: it starts no Spark job."""
    from kmtricks_spark.operators.curation import curate_run

    inp = os.path.join(sf_dir, "documents.parquet")
    bench = str(tmp_path / "bench.parquet")
    spark.read.parquet(inp).orderBy("doc_id").limit(5).select("text").write.parquet(bench)
    rd = str(tmp_path / "crun")
    _, fresh = curate_run(spark, rd, inp, decontaminate_path=bench, **CURATE_GATES)
    sc = spark.sparkContext
    sc.setJobGroup("curate-resumed", "curate-resumed")
    try:
        _, resumed = curate_run(spark, rd, inp, decontaminate_path=bench, **CURATE_GATES)
    finally:
        for k in GROUP_PROPS:
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    assert list(sc.statusTracker().getJobIdsForGroup("curate-resumed")) == []
    gates = ("scalar", "dedup", "decontam")
    assert {g: resumed["stages"][g] for g in gates} == dict.fromkeys(gates, "skipped")
    assert {k: v for k, v in resumed.items() if k != "stages"} == {
        k: v for k, v in fresh.items() if k != "stages"}


def test_read_stage_schema_equals_inferring_read(spark, sf_dir, tmp_path):
    """Every table a Pipeline or curate_run writes records its read
    schema, and read_stage returns the names, order, types and
    nullability an inferring read finds, without starting a job."""
    from kmtricks_spark.operators.curation import curate_run

    inp = os.path.join(sf_dir, "documents.parquet")
    bench = str(tmp_path / "bench.parquet")
    spark.read.parquet(inp).orderBy("doc_id").limit(5).select("text").write.parquet(bench)
    runs = [str(tmp_path / name) for name in ("bounded", "bfc", "crun")]
    Pipeline(spark, CFG.with_(hist_upper=50), runs[0], inp).run()
    Pipeline(spark, CFG.with_(bloom_mode="bfc"), runs[1], inp).run()
    curate_run(spark, runs[2], inp, decontaminate_path=bench, max_dup_coverage=0.5,
               max_docs_per_domain=50, url_col="source", **CURATE_GATES)
    sc = spark.sparkContext
    checked = set()
    for rd in runs:
        tables = sorted(t for t in os.listdir(rd)
                        if os.path.exists(os.path.join(rd, t, "_SUCCESS")))
        for t in tables:
            assert os.path.exists(os.path.join(rd, t, SCHEMA_FILE)), (rd, t)
            inferred = spark.read.parquet(os.path.join(rd, t)).schema
            sc.setJobGroup("read-stage", "read-stage")
            try:
                got = read_stage(spark, rd, t).schema
            finally:
                for k in GROUP_PROPS:
                    sc.setLocalProperty(k, None)
            assert got == inferred, (rd, t)
            checked.add(t)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    assert list(sc.statusTracker().getJobIdsForGroup("read-stage")) == []
    assert checked >= {*STAGES, "histogram_oob", "merge_stats", "fpr",
                       "scalar", "domain", "dedup", "span", "decontam"}


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


def _lineage(run_dir):
    return {st: {k: read_lineage(run_dir, st)[k] for k in LINEAGE_KEYS} for st in STAGES}


def _jobs_by_group(spark) -> dict:
    """job id -> job group (None when ungrouped), for every job Spark keeps."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        out[job.jobId()] = g.get() if g.isDefined() else None
    return out


@pytest.mark.parametrize("variant", list(VARIANTS))
def test_concurrent_run_equals_stage_by_stage(spark, sf_dir, tmp_path, variant):
    """Pipeline.run's concurrent stages write what calling each stage in
    turn writes."""
    inp = os.path.join(sf_dir, "documents.parquet")
    cfg, kw = VARIANTS[variant]
    conc, seq = str(tmp_path / "concurrent"), str(tmp_path / "sequential")
    assert set(Pipeline(spark, cfg, conc, inp, **kw).run().values()) == {"done"}
    pl = Pipeline(spark, cfg, seq, inp, **kw)
    for stage in STAGES:
        assert getattr(pl, f"stage_{stage}")(), stage
    assert _lineage(conc) == _lineage(seq)


def test_failing_stage_keeps_finished_lineage(spark, sf_dir, tmp_path, monkeypatch):
    """A failing stage raises out of run() once the others finish; they
    keep their lineage, and the rerun computes only the failed stage."""
    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "failed")

    def broken(*args, **kwargs):
        raise RuntimeError("bloom build failed")

    monkeypatch.setattr(pipeline_mod, "bf_slices", broken)
    with pytest.raises(RuntimeError, match="bloom build failed"):
        Pipeline(spark, CFG, rd, inp).run()
    assert [st for st in STAGES if read_lineage(rd, st)] == ["counts", "histogram", "matrix", "pa"]
    monkeypatch.undo()
    status = Pipeline(spark, CFG, rd, inp).run()
    assert status == {**dict.fromkeys(STAGES, "skipped"), "bloom": "done"}
    fresh = str(tmp_path / "fresh")
    Pipeline(spark, CFG, fresh, inp).run()
    assert _lineage(rd)["bloom"] == _lineage(fresh)["bloom"]


def test_run_jobs_inherit_caller_job_group(spark, sf_dir, tmp_path):
    """Every job of the concurrent stages carries the caller's job group."""
    sc = spark.sparkContext
    before = set(_jobs_by_group(spark))
    sc.setJobGroup("pipeline-caller", "pipeline-caller")
    try:
        Pipeline(spark, CFG, str(tmp_path / "rd"), os.path.join(sf_dir, "documents.parquet")).run()
    finally:
        for k in GROUP_PROPS:
            sc.setLocalProperty(k, None)
    new = {j: g for j, g in _jobs_by_group(spark).items() if j not in before}
    assert new and set(new.values()) == {"pipeline-caller"}


def test_stage_job_group_stays_in_its_thread(spark, tmp_path, monkeypatch):
    """A job group one concurrent stage sets does not leak into another
    stage's thread: each stage starts from its own copy of the caller's
    local properties."""
    sc = spark.sparkContext
    both = threading.Barrier(2, timeout=30)
    seen = {}

    def histogram(self):
        sc.setJobGroup("histogram-own", "histogram-own")
        both.wait()  # set before matrix looks
        both.wait()
        return True

    def matrix(self):
        both.wait()
        seen["matrix"] = sc.getLocalProperty("spark.jobGroup.id")
        both.wait()
        return True

    monkeypatch.setattr(Pipeline, "stage_counts", lambda self: True)
    monkeypatch.setattr(Pipeline, "stage_histogram", histogram)
    monkeypatch.setattr(Pipeline, "stage_matrix", matrix)
    sc.setJobGroup("pipeline-caller", "pipeline-caller")
    try:
        status = Pipeline(spark, CFG, str(tmp_path), "unused", until="matrix").run()
    finally:
        for k in GROUP_PROPS:
            sc.setLocalProperty(k, None)
    assert status == dict.fromkeys(("counts", "histogram", "matrix"), "done")
    assert seen == {"matrix": "pipeline-caller"}


def test_merge_inputs_computed_once(monkeypatch):
    """matrix and pa share one (merge cfg, samples): however many threads
    ask at once, it is computed once and every caller gets the same."""
    calls = []

    def slow(tag):
        def compute(self, *args):
            calls.append(tag)
            time.sleep(0.01)
            return tag

        return compute

    monkeypatch.setattr(Pipeline, "_merge_cfg", slow("cfg"))
    monkeypatch.setattr(Pipeline, "_samples", slow("samples"))
    pl = Pipeline(None, CFG, "unused", "unused")
    got = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: got.append(pl._merge_inputs(None)))
                   for _ in range(4 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(calls) == ["cfg", "samples"]
    assert got == [("cfg", "samples")] * len(threads)
