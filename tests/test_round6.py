"""Round-6 optimization pins: plan-shape and byte-equality properties
that the perf rewrites must not regress."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _key_exchange_inputs(plan: str, key: str) -> list[str]:
    """Input column lists of every Exchange/BroadcastExchange whose rows
    carry `key` (at small scale the planner broadcasts the candidate
    side instead of shuffling — the no-vector property must hold for
    whichever movement node carries the key)."""
    import re

    blocks = re.split(r"\n\(\d+\) ", plan)
    out = []
    for b in blocks:
        head = b.split("\n", 1)[0]
        if not head.startswith(("Exchange", "BroadcastExchange")):
            continue
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        if m and re.search(rf"\b{key}#", m.group(1)):
            out.append(m.group(1))
    return out


def test_semantic_pairs_ids_only_across_list_exchange(spark):
    """No embedding column may cross the list_id exchange: the candidate
    self-join shuffles (list_id, id) rows only; vectors re-join by id
    after the a < b filter (the ann_pairs r3 shape)."""
    from kmtricks_spark.operators.similarity import semantic_pairs

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    pairs = semantic_pairs(emb, threshold=0.99, n_lists=4)
    plan = _formatted_plan(pairs)
    nodes = _key_exchange_inputs(plan, "list_id")
    assert nodes, "expected an exchange carrying list_id in the candidate plan"
    for cols in nodes:
        assert "embedding" not in cols and "va" not in cols and "vb" not in cols, (
            f"embedding column crosses the list_id candidate exchange: [{cols}]"
        )
    # guide §4.4 pin: the assignment UDF must not be duplicated by the
    # join's isnotnull(list_id) filter pushdown — one ArrowEvalPython
    # per candidate branch, not two stacked per branch
    import re

    n_nodes = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert n_nodes <= 2, f"assignment UDF duplicated: {n_nodes} ArrowEvalPython nodes"


def test_semantic_pairs_survivors_unchanged(spark):
    """The ids-only rewrite must emit the identical pair set: injected
    exact duplicates pair at cosine 1.0 regardless of centroid layout."""
    from kmtricks_spark.operators.similarity import semantic_pairs

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    dup = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    got = sorted(
        (r.a, r.b) for r in semantic_pairs(both, threshold=0.99, n_lists=4).collect()
    )
    assert got == [(i, i + 1_000_000) for i in range(5)]


def test_bf_slices_jvm_build_matches_numpy_layout(spark):
    """The JVM bitmap_construct_agg window build must be byte-identical
    to the reference numpy BITSET layout (LSB-first per byte), including
    a window size that is NOT a multiple of the 32768-bit bucket."""
    from kmtricks_spark.config import KmConfig
    from kmtricks_spark.operators.bloom_stage import bf_slices, hash_counts
    from kmtricks_spark.operators.count import count_kgrams
    from kmtricks_spark.sketches import bloom

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    # bloom_bits chosen so window_bits = 41344 — not a bucket multiple
    cfg = KmConfig(k=8, hard_min=1, nb_partitions=4, bloom_bits=165_000)
    assert cfg.window_bits % 32768 != 0
    counts = count_kgrams(docs, cfg)
    hc = hash_counts(counts, cfg).cache()
    rows = bf_slices(hc, cfg).collect()
    raw = hc.collect()
    w = cfg.window_bits
    by_group: dict = {}
    for r in raw:
        by_group.setdefault((r.part_id, r.sample_id), []).append(
            r.hash_idx - r.part_id * w
        )
    assert len(rows) == len(by_group)
    for r in rows:
        state = bloom.create(w)
        bloom.add_local_indices(
            state, np.asarray(by_group[(r.part_id, r.sample_id)], dtype=np.int64)
        )
        assert bytes(r.bitmap) == state.tobytes()
        assert r.n_set == bloom.popcount(state)
    hc.unpersist()


def test_bf_slices_min_count_keeps_filtered_groups(spark):
    """min_count > 1 masks rows instead of dropping them: a fully-masked
    (part, sample) group still yields its empty-bitmap row."""
    from kmtricks_spark.config import KmConfig
    from kmtricks_spark.operators.bloom_stage import bf_slices

    cfg = KmConfig(k=8, nb_partitions=2, bloom_bits=131_072)
    hc = spark.createDataFrame(
        [(0, "s1", 5, 1), (0, "s1", 9, 1), (1, "s2", int(cfg.window_bits) + 3, 4)],
        ["part_id", "sample_id", "hash_idx", "count"],
    )
    rows = {(r.part_id, r.sample_id): r for r in bf_slices(hc, cfg, min_count=2).collect()}
    assert set(rows) == {(0, "s1"), (1, "s2")}
    assert rows[(0, "s1")].n_set == 0
    assert bytes(rows[(0, "s1")].bitmap) == bytes(cfg.window_bits // 8)
    assert rows[(1, "s2")].n_set == 1


def test_scalar_pass_one_scan_report_matches_two_scan(spark, docs):
    """The observed-metrics (one-scan) scalar pass must report the exact
    counts of a separate conditional aggregate (the two-scan form)."""
    from kmtricks_spark.operators.curation import _scalar_gates, _scalar_pass

    d = docs.select("doc_id", "text")
    gates = _scalar_gates(0.5, True, None, "text")
    (q_name, q), (g_name, g) = gates
    row = d.agg(
        F.count(F.lit(1)).alias("input"),
        F.count(F.when(q, 1)).alias(q_name),
        F.count(F.when(q & g, 1)).alias(g_name),
    ).collect()[0]
    survivors, counts = _scalar_pass(d, gates)
    kept = survivors.localCheckpoint()
    assert counts() == row.asDict()
    assert kept.count() == row[g_name]


def test_bf_slices_raises_on_out_of_window_index(spark):
    """An index outside its partition's window must fail loudly (the
    numpy build raised IndexError); silent truncation would be a silent
    Bloom false negative downstream."""
    from kmtricks_spark.config import KmConfig
    from kmtricks_spark.operators.bloom_stage import bf_slices

    cfg = KmConfig(k=8, nb_partitions=2, bloom_bits=131_072)
    bad = spark.createDataFrame(
        [(0, "s1", int(cfg.window_bits), 1)],  # local index == window_bits
        ["part_id", "sample_id", "hash_idx", "count"],
    )
    with pytest.raises(Exception, match="outside its partition window"):
        bf_slices(bad, cfg).collect()
