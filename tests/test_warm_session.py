"""A warm session compiles nothing: the second round of the product paths
finds every generated class in Spark's codegen cache."""

import os
import time

from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.bloom_stage import bf_probe
from kmtricks_spark.operators.curation import curate_run
from kmtricks_spark.plans.pipeline import Pipeline
from kmtricks_spark.sources.pages import read_stage

CFG = KmConfig(k=8, hard_min=2, soft_min=2, nb_partitions=8, bloom_bits=1 << 18)
CURATE_GATES = dict(min_quality=0.5, gopher=True, dedup="minhash", min_jaccard=0.8)


def test_warm_session_compiles_nothing(spark, sf_dir, tmp_path):
    """Pipeline.run, a bf_probe over its slices and a three-gate
    curate_run, twice into fresh run dirs: the second round adds no
    Janino compilation. It fails when the cache is smaller than the plan
    set (Spark's default of 100 entries), and when a plan embeds a
    per-call value such as a run-dir path or a timestamp in generated
    code."""
    inp = os.path.join(sf_dir, "documents.parquet")
    bench = str(tmp_path / "bench.parquet")
    spark.read.parquet(inp).orderBy("doc_id").limit(5).select("text").write.parquet(bench)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def round_(i: int) -> int:
        before = compiled()
        rd = str(tmp_path / f"run{i}")
        status = Pipeline(spark, CFG, rd, inp).run()
        assert set(status.values()) == {"done"}, status
        probes = read_stage(spark, rd, "counts").select("sample_id", "kgram")
        bf_probe(read_stage(spark, rd, "bloom"), probes, CFG).count()
        _, report = curate_run(spark, str(tmp_path / f"crun{i}"), inp,
                               decontaminate_path=bench, **CURATE_GATES)
        assert report["after_decontam"] > 0
        return compiled() - before

    # the counter is live: a literal no earlier plan held is inlined into new code
    before = compiled()
    spark.range(2).select(F.col("id") + F.lit(time.time_ns() % 2**31)).collect()
    assert compiled() > before

    round_(0)
    assert round_(1) == 0
