"""Plugin hook (J7), streaming HLL."""

import os

import numpy as np

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.plugin import apply_plugin, min_total_plugin


def test_plugin_veto(spark):
    rows = [(0, "g1", [5, 0, 2]), (0, "g2", [1, 1, 0]), (1, "g3", [10, 10, 10])]
    m = spark.createDataFrame(rows, ["part_id", "kgram", "counts"])
    kept = {r.kgram for r in apply_plugin(m, min_total_plugin(7)).collect()}
    assert kept == {"g1", "g3"}


def test_plugin_custom_transformless_filter(spark):
    m = spark.createDataFrame([(0, "aa", [1]), (0, "ab", [1])], ["part_id", "kgram", "counts"])
    kept = {r.kgram for r in apply_plugin(m, lambda kg, c: np.char.startswith(kg.astype(str), "aa")).collect()}
    assert kept == {"aa"}


def test_streaming_hll_matches_batch(spark, sf_dir, tmp_path):
    """The streaming HLL's estimate, read from its complete-mode register
    sink, sits within 8% of the exact distinct k-gram count per sample."""
    from pyspark.sql import functions as F

    from kmtricks_spark.operators.count import count_kgrams
    from kmtricks_spark.sketches.spark import hll_estimate_col, hll_payload
    from kmtricks_spark.streaming.count_stream import (
        run_available_now,
        stateful_streaming_hll,
        stream_docs,
    )

    cfg = KmConfig(k=8, hard_min=1)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(120)
    sdir = str(tmp_path / "sin")
    docs.select("doc_id", "text", "lang", "source", "n_chars").coalesce(3).write.parquet(sdir)

    stream = stateful_streaming_hll(stream_docs(spark, sdir, max_files=1), cfg, p=12)
    run_available_now(stream, "hll_estimate_test")
    state = {
        r.sample_id: r.est
        for r in hll_payload(spark.table("hll_estimate_test"), ["sample_id"], 12)
        .select("sample_id", hll_estimate_col().alias("est")).collect()
    }

    exact = {
        r.sample_id: r.d
        for r in count_kgrams(spark.read.parquet(sdir), cfg)
        .groupBy("sample_id")
        .agg(F.countDistinct("kgram").alias("d"))
        .collect()
    }
    assert set(state) == set(exact)
    for s, d in exact.items():
        est = state[s]
        assert abs(est - d) / max(d, 1) < 0.08, (s, est, d)
