"""Round-5 tests: fused curate() scalar gates, Column-builder parity,
tightened phone pattern, ngram_jaccard broadcast hygiene, packing bins,
semantic dedup, curate run-dir resume."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ------------------------------------------ fused scalar curation gates

def test_curate_scalar_gates_single_checkpoint(spark, docs, monkeypatch):
    """quality+gopher+lang run as ONE scan: exactly one localCheckpoint
    before any relational gate, and the funnel report equals sequential
    gate application (running conjunction == stage-by-stage counts)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from kmtricks_spark.functions.text import gopher_filters, lang_guess, quality_score
    from kmtricks_spark.operators.curation import curate

    calls = []
    orig = ClassicDataFrame.localCheckpoint

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counting)
    corpus = docs.select("doc_id", "text")
    kept, report = curate(
        corpus, min_quality=0.5, gopher=True, langs=["en", "de"], dedup=None
    )
    assert len(calls) == 1, f"expected 1 checkpoint for fused scalar gates, got {len(calls)}"

    # sequential manual composition must agree stage by stage
    q_ids = quality_score(corpus).where(F.col("quality") >= 0.5).select("doc_id")
    s1 = corpus.join(q_ids, "doc_id")
    g_ids = gopher_filters(s1).where(F.col("keep") == 1).select("doc_id")
    s2 = s1.join(g_ids, "doc_id")
    l_ids = lang_guess(s2).where(F.col("lang_guess").isin(["en", "de"])).select("doc_id")
    s3 = s2.join(l_ids, "doc_id")
    assert report["input"] == corpus.count()
    assert report["after_quality"] == s1.count()
    assert report["after_gopher"] == s2.count()
    assert report["after_lang"] == s3.count() == kept.count()
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {
        r.doc_id for r in s3.select("doc_id").collect()
    }


def test_curate_no_gates_is_identity(spark, docs):
    from kmtricks_spark.operators.curation import curate

    corpus = docs.select("doc_id", "text")
    kept, report = curate(corpus, min_quality=None, dedup=None)
    assert report == {"input": 500, "removed": 0}
    assert kept.count() == 500


def test_scalar_column_builders_match_dataframe_ops(spark, docs):
    """quality_col / gopher_keep_col / lang_guess_col are bit-identical
    to the DataFrame operators they were extracted from."""
    from kmtricks_spark.functions.text import (
        gopher_filters,
        gopher_keep_col,
        lang_guess,
        lang_guess_col,
        quality_col,
        quality_score,
    )

    d = docs.select("doc_id", "text")
    fused = d.select(
        "doc_id",
        quality_col("text").alias("q"),
        gopher_keep_col("text").cast("int").alias("g"),
        lang_guess_col("text").alias("l"),
    )
    ref = (
        quality_score(d)
        .join(gopher_filters(d).select("doc_id", "keep"), "doc_id")
        .join(lang_guess(d).select("doc_id", "lang_guess"), "doc_id")
    )
    j = fused.join(ref, "doc_id")
    bad = j.where(
        (F.col("q") != F.col("quality"))
        | (F.col("g") != F.col("keep"))
        | (F.col("l") != F.col("lang_guess"))
    ).count()
    assert bad == 0


def test_curate_span_gate_releases_cache(spark):
    """The span-coverage gate must not leak the duplicate_spans persist
    across curate() calls (ADVICE r4): each run may pin its own
    localCheckpoint blocks (released when the survivors are GC'd) but
    the spans persist must be released inside curate — growth over N
    runs is at most N checkpoint RDDs, never 2N."""
    from kmtricks_spark.operators.dedup import duplicate_spans, release_persisted
    from kmtricks_spark.operators.curation import curate

    spark.catalog.clearCache()
    base = "x" * 120
    rows = [(i, base + str(i)) for i in range(20)] + [
        (100 + i, f"unique text {i} " * 10) for i in range(5)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])

    # direct handle check: the persist attached by duplicate_spans is
    # gone after release_persisted
    spans = duplicate_spans(d)
    spans.count()
    with_spans = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    release_persisted(spans)
    after_release = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert len(after_release) < len(with_spans), "release_persisted freed nothing"

    n0 = len(spark.sparkContext._jsc.getPersistentRDDs())
    runs = 3
    for _ in range(runs):
        curate(d, min_quality=None, dedup=None, max_dup_coverage=0.5, span=40, stride=10)
    growth = len(spark.sparkContext._jsc.getPersistentRDDs()) - n0
    assert growth <= runs, f"span screen leaked persists: growth {growth} > {runs} runs"


def test_release_persisted_noop_without_handle(spark):
    from kmtricks_spark.operators.dedup import release_persisted

    release_persisted(spark.range(3).toDF("x"))  # must not raise


# ------------------------------------- ngram_jaccard broadcast hygiene

def test_ngram_jaccard_no_forced_broadcast_of_sizes(spark):
    """The per-doc sizes tables must NOT carry a static broadcast hint
    (corpus-cardinality broadcast = driver OOM at scale; AQE may still
    choose to broadcast at runtime from measured sizes — that is fine).
    The only hint allowed in the plan is the stop-gram anti-join's
    (its build side is the small capped stop list)."""
    from kmtricks_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.createDataFrame(
        [(i, f"w{i} common words here and more {i}") for i in range(8)],
        ["doc_id", "text"],
    )
    plan = ngram_jaccard_pairs(d, n=2, min_jaccard=0.0)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("strategy=broadcast") == 0, (
        f"unexpected broadcast hints in hint-free path:\n{plan}"
    )
    plan2 = (
        ngram_jaccard_pairs(d, n=2, min_jaccard=0.0, max_df=5)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # with max_df, hints appear only on the stop-gram anti-joins (the
    # grams subtree is repeated per consumer) — never on an inner join
    for line in plan2.splitlines():
        if "strategy=broadcast" in line:
            assert "LeftAnti" in line, f"broadcast hint on non-anti join:\n{line}"


# --------------------------------------------- tightened phone pattern

def test_pii_phone_structure_required(spark):
    """ADVICE r4: adjacent years and space-grouped thousands must
    survive; structured phones (international '+', NANP separators)
    must still redact."""
    from kmtricks_spark.functions.text import pii_redact

    cases = [
        (1, "between 1998 2001 the team grew", "between 1998 2001 the team grew"),
        (2, "about 100 000 000 users", "about 100 000 000 users"),
        (3, "serial 12345678901 stays", "serial 12345678901 stays"),
        (4, "call +44 20 7946 0958 now", "call <PHONE> now"),
        (5, "call 555 010 0123 now", "call <PHONE> now"),
        (6, "dial 555-867-5309 today", "dial <PHONE> today"),
        (7, "in 2024 2025 revenue was 1 234 567", "in 2024 2025 revenue was 1 234 567"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], ["doc_id", "text"])
    got = {r.doc_id: r.redacted for r in pii_redact(df).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_ngram_jaccard_values_unchanged(spark):
    """Dropping the hints must not change results: hand-checkable corpus."""
    from kmtricks_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: ab bc cd
            (2, "a b c e"),        # grams: ab bc ce  -> inter 2, union 4
            (3, "x y z w"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(d, n=2, min_jaccard=0.1).collect()
    }
    assert got == {(1, 2): 0.5}


# ---------------------------------------------------- packing: pack_bins

def test_pack_bins_tile_exactly(spark, docs):
    """Every (shard, bin) except each shard's last sums to exactly
    max_tokens; slices never overlap and cover each doc fully."""
    from kmtricks_spark.operators.packing import pack_bins, pack_sequences

    packed = pack_sequences(docs.select("doc_id", "text"), max_tokens=128, n_shards=4)
    bins = pack_bins(packed, max_tokens=128)
    per_bin = bins.groupBy("shard", "bin").agg(F.sum("len").alias("tot")).collect()
    last_bin = {r.shard: r.mx for r in bins.groupBy("shard").agg(F.max("bin").alias("mx")).collect()}
    for r in per_bin:
        if r.bin != last_bin[r.shard]:
            assert r.tot == 128, (r.shard, r.bin, r.tot)
        else:
            assert 1 <= r.tot <= 128
    # per-doc slices cover n_tokens exactly
    cover = (
        bins.groupBy("doc_id").agg(F.sum("len").alias("tot"), F.min("doc_offset").alias("mn"))
        .join(packed.select("doc_id", "n_tokens"), "doc_id")
    )
    bad = cover.where((F.col("tot") != F.col("n_tokens")) | (F.col("mn") != 0)).count()
    assert bad == 0


def test_pack_sequences_default_shards_is_parallelism(spark, docs):
    from kmtricks_spark.operators.packing import pack_sequences

    packed = pack_sequences(docs.select("doc_id", "text"), max_tokens=128)
    n = packed.select("shard").distinct().count()
    par = spark.sparkContext.defaultParallelism
    assert 1 < n <= par  # hash mod defaultParallelism; all shards hit at 500 docs


# ---------------------------------------------------- semantic dedup

def test_semantic_dedup_drops_planted_duplicates(spark, sf_dir):
    from kmtricks_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dup = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    kept = semantic_dedup(both, threshold=0.99, n_lists=8)
    ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert ids == {r.vec_id for r in emb.select("vec_id").collect()}


def test_semantic_dedup_pairs_only_within_cluster(spark, sf_dir):
    """Plan pin on the candidate stage (semantic_dedup's clustering
    checkpoints eagerly, hiding upstream joins): the self-join keys on
    list_id (within-cluster only) — no cross join, no all-pairs. Also
    pin that semantic_pairs finds exactly the planted duplicates."""
    from kmtricks_spark.operators.similarity import semantic_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pairs = semantic_pairs(emb, threshold=0.99, n_lists=8)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "list_id" in plan, plan
    assert "Join Cross" not in plan, plan

    dup = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    got = {
        (r.a, r.b)
        for r in semantic_pairs(emb.unionByName(dup), threshold=0.99, n_lists=8).collect()
    }
    assert got == {(i, i + 1_000_000) for i in range(10)}


def test_curate_semantic_gate(spark, sf_dir):
    from kmtricks_spark.operators.curation import curate

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).withColumn("text", F.concat(F.lit("doc "), F.col("doc_id")))
    dup = emb.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "embedding", "text"
    )
    corpus = emb.unionByName(dup)
    kept, report = curate(corpus, min_quality=None, dedup=None, semantic=0.99)
    assert report["after_semantic"] == report["input"] - 10
    assert kept.count() == report["after_semantic"]
    with pytest.raises(ValueError, match="embedding column"):
        curate(corpus.drop("embedding"), min_quality=None, dedup=None, semantic=0.99)


# ------------------------------------- demoted oracle entries stay green

def test_demoted_oracles_still_hash_match(spark, sf_dir):
    """ADVICE r4: queries past the driver's 50-entry window must stay
    externally verified — re-pin them in the pytest gate with the same
    rows/cols/value-hash compare the driver uses (at the test SF)."""
    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from kmtricks_spark.config import TABLES
    sys.path.insert(0, os.path.join("/root/repo", "tools"))
    from check_oracles import value_hash

    demoted = [
        "matrix_filter_v", "matrix_filter_m", "kll_count_distribution",
        "dup_span_coverage", "histogram_oob", "soft_min_thresholds_bounded",
        "kll_rank",
        # new r5 extras born past the cap (window already full):
        "chunk_documents", "quantize_embeddings", "trim_dup_spans", "domain_cap",
    ]
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    names = list(qs)
    assert all(names.index(d) >= 50 for d in demoted)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name in demoted:
        sdf = qs[name](spark, sf_dir).toPandas()
        odf = con.sql(osql[name]).df()
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        assert sorted(sdf.columns) == sorted(odf.columns), name
        assert len(sdf) == len(odf), (name, len(sdf), len(odf))
        assert value_hash(sdf) == value_hash(odf), name


# --------------------------------------------- curate_run (resume story)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli5(args, timeout=300):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    r = subprocess.run(
        [sys.executable, "-m", "kmtricks_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=_REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])


def test_curate_run_resume_skips_completed_gates(spark, sf_dir, tmp_path):
    """Full persisted run, then an identical re-run: every enabled gate
    is skipped (lineage timestamps untouched) and the report is
    rebuilt from lineage byte-for-byte."""
    from kmtricks_spark.operators.curation import curate_run
    from kmtricks_spark.plans.lineage import read_lineage

    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "crun")
    kept1, rep1 = curate_run(spark, rd, inp, min_quality=0.5, dedup="exact")
    assert rep1["stages"] == {
        "scalar": "done", "domain": "disabled", "dedup": "done",
        "semantic": "disabled", "span": "disabled", "decontam": "disabled",
    }
    ts = {s: read_lineage(rd, s)["ts"] for s in ("scalar", "dedup")}
    kept2, rep2 = curate_run(spark, rd, inp, min_quality=0.5, dedup="exact")
    assert rep2["stages"]["scalar"] == "skipped" and rep2["stages"]["dedup"] == "skipped"
    assert {s: read_lineage(rd, s)["ts"] for s in ("scalar", "dedup")} == ts
    for k in ("input", "after_quality", "after_dedup", "removed"):
        assert rep1[k] == rep2[k], (k, rep1, rep2)
    assert kept1.count() == kept2.count()


def test_curate_run_kill_rerun_and_matches_in_session(spark, sf_dir, tmp_path):
    """until='scalar' (a killed run's prefix), then the full run resumes
    past it; report and survivors == the in-session curate() on the same
    corpus, over the benchmark's gates (quality + gopher, minhash dedup,
    decontamination), so both materializations of the shared gate loop
    are pinned."""
    from kmtricks_spark.operators.curation import curate, curate_run
    from kmtricks_spark.plans.lineage import read_lineage

    inp = os.path.join(sf_dir, "documents.parquet")
    docs = spark.read.parquet(inp)
    bench = str(tmp_path / "bench.parquet")
    docs.orderBy("doc_id").limit(5).select("text").write.parquet(bench)
    gates = dict(min_quality=0.5, gopher=True, dedup="minhash", min_jaccard=0.8)
    rd = str(tmp_path / "crun2")
    _, rep_partial = curate_run(
        spark, rd, inp, until="scalar", decontaminate_path=bench, **gates
    )
    assert rep_partial["stages"] == {"scalar": "done"}
    ts_scalar = read_lineage(rd, "scalar")["ts"]
    kept, rep = curate_run(spark, rd, inp, decontaminate_path=bench, **gates)
    assert rep["stages"]["scalar"] == "skipped"
    assert rep["stages"]["dedup"] == rep["stages"]["decontam"] == "done"
    assert read_lineage(rd, "scalar")["ts"] == ts_scalar
    kept_mem, rep_mem = curate(docs, decontaminate=spark.read.parquet(bench), **gates)
    keys = ("input", "after_quality", "after_gopher", "after_dedup", "after_decontam", "removed")
    assert {k: rep[k] for k in keys} == rep_mem
    assert rep["after_decontam"] < rep["after_dedup"] < rep["after_gopher"]
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {
        r.doc_id for r in kept_mem.select("doc_id").collect()
    }


def test_curate_run_param_change_invalidates(spark, sf_dir, tmp_path):
    from kmtricks_spark.operators.curation import curate_run

    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "crun3")
    curate_run(spark, rd, inp, min_quality=0.5, dedup="exact")
    _, rep = curate_run(spark, rd, inp, min_quality=0.7, dedup="exact")
    assert rep["stages"]["scalar"] == "done"  # re-ran, not skipped
    assert rep["stages"]["dedup"] == "done"
    with pytest.raises(ValueError, match="until"):
        curate_run(spark, rd, inp, until="nope")


def test_cli_curate_run_dir(sf_dir, tmp_path):
    inp = os.path.join(sf_dir, "documents.parquet")
    out = str(tmp_path / "curated.parquet")
    rd = str(tmp_path / "cli_run")
    rec = _cli5([
        "curate", "--input", inp, "--output", out, "--run-dir", rd,
        "--min-quality", "0.5", "--dedup", "exact", "--cores", "8",
    ])
    assert rec["curate"] == "done"
    assert rec["stages"]["scalar"] == "done" and rec["stages"]["dedup"] == "done"
    rec2 = _cli5([
        "curate", "--input", inp, "--output", out, "--run-dir", rd,
        "--min-quality", "0.5", "--dedup", "exact", "--cores", "8",
    ])
    assert rec2["stages"]["scalar"] == "skipped"
    assert rec2["after_dedup"] == rec["after_dedup"]


# -------------------------------------------- code-review fixes (r5)

def test_curate_empty_corpus(spark):
    """Empty input: gate counts are 0, not null (count(when) semantics)."""
    from kmtricks_spark.operators.curation import curate

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    kept, report = curate(empty, min_quality=0.5, gopher=True, dedup=None)
    assert report == {"input": 0, "after_quality": 0, "after_gopher": 0, "removed": 0}
    assert kept.count() == 0


def test_curate_semantic_zero_survivors(spark, sf_dir):
    """All rows killed upstream: the semantic gate passes the empty
    frame through instead of crashing in ivf_train."""
    from kmtricks_spark.operators.curation import curate

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("doc_id"), "embedding",
        F.lit("x").alias("text"),  # fails every quality band
    )
    kept, report = curate(emb, min_quality=0.9, dedup=None, semantic=0.99)
    assert report["after_quality"] == 0 and report["after_semantic"] == 0
    assert kept.count() == 0


def test_curate_run_adding_downstream_gate_keeps_upstream(spark, sf_dir, tmp_path):
    """Per-gate param scoping: enabling a NEW downstream gate on a
    completed run reuses the completed upstream stages."""
    from kmtricks_spark.operators.curation import curate_run
    from kmtricks_spark.plans.lineage import read_lineage

    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "extend")
    curate_run(spark, rd, inp, min_quality=0.5, dedup="exact")
    ts = {s: read_lineage(rd, s)["ts"] for s in ("scalar", "dedup")}
    _, rep = curate_run(
        spark, rd, inp, min_quality=0.5, dedup="exact", max_dup_coverage=0.9
    )
    assert rep["stages"]["scalar"] == "skipped"
    assert rep["stages"]["dedup"] == "skipped"
    assert rep["stages"]["span"] == "done"
    assert {s: read_lineage(rd, s)["ts"] for s in ("scalar", "dedup")} == ts
    # changing only the downstream knob re-runs only that gate
    _, rep2 = curate_run(
        spark, rd, inp, min_quality=0.5, dedup="exact", max_dup_coverage=0.8
    )
    assert rep2["stages"]["scalar"] == "skipped"
    assert rep2["stages"]["dedup"] == "skipped"
    assert rep2["stages"]["span"] == "done"


def test_pack_bins_window_size_rides_on_frame(spark, docs):
    from kmtricks_spark.operators.packing import pack_bins, pack_sequences

    packed = pack_sequences(docs.select("doc_id", "text"), max_tokens=128, n_shards=4)
    assert pack_bins(packed).count() == pack_bins(packed, 128).count()
    with pytest.raises(ValueError, match="contradicts"):
        pack_bins(packed, 256)
    stripped = packed.select("*")  # attribute does not survive a transform
    with pytest.raises(ValueError, match="max_tokens required"):
        pack_bins(stripped)


def test_curate_semantic_n_lists_validated_and_capped(spark, sf_dir):
    from kmtricks_spark.operators.curation import curate

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("doc_id"), "embedding",
        F.concat(F.lit("doc "), F.col("vec_id")).alias("text"),
    )
    with pytest.raises(ValueError, match="semantic_n_lists"):
        curate(emb, min_quality=None, dedup=None, semantic=0.99, semantic_n_lists=0)
    # corpus-sized value over a small survivor set: capped, not crashed
    kept, report = curate(
        emb, min_quality=None, dedup=None, semantic=0.99, semantic_n_lists=100_000
    )
    assert report["after_semantic"] == report["input"]


# --------------------------------- chunking + embedding quantization

def test_chunk_documents_coverage_and_overlap(spark):
    from kmtricks_spark.functions.text import chunk_documents

    d = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, "")], ["doc_id", "text"]
    )
    rows = sorted(
        chunk_documents(d, chunk=4, overlap=2).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    got = [(r.doc_id, r.chunk_id, r.start, r.chunk_len, r.chunk_text) for r in rows]
    # doc 1 (len 10, step 2): starts 1,3,5,7,9 -> tail chunks shorten
    assert got == [
        (1, 0, 1, 4, "abcd"), (1, 1, 3, 4, "cdef"), (1, 2, 5, 4, "efgh"),
        (1, 3, 7, 4, "ghij"), (1, 4, 9, 2, "ij"),
        (2, 0, 1, 2, "xy"),
    ]  # empty doc 3 emits nothing
    # consecutive chunks overlap by exactly `overlap` chars
    for a, b in zip(got, got[1:]):
        if a[0] == b[0]:
            assert b[2] - a[2] == 2
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(d, chunk=4, overlap=4)


def test_quantize_embeddings_bounds_and_reconstruction(spark, sf_dir):
    from kmtricks_spark.operators.similarity import quantize_embeddings

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = quantize_embeddings(emb)
    rows = q.join(emb, "vec_id").collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert all(abs(v) <= 127 for v in r.qvec)
        assert len(r.qvec) == len(r.embedding)
        for x, qi in zip(r.embedding, r.qvec):
            # reconstruction error bound: half a quantization step
            assert abs(float(x) - qi * r.scale / 127) <= r.scale / 254 + 1e-9
    # all-zero vector: scale 0, zero qvec (no division)
    z = spark.createDataFrame([(1, [0.0, 0.0])], ["vec_id", "embedding"])
    rz = quantize_embeddings(z).collect()[0]
    assert rz.scale == 0.0 and list(rz.qvec) == [0, 0]


def test_trim_dup_spans_handcrafted(spark):
    """Trim semantics on a hand-checkable corpus: shared block removed,
    unique prefix/suffix kept in order, unflagged doc verbatim,
    fully-duplicated doc -> ''."""
    from kmtricks_spark.operators.dedup import duplicate_spans, trim_dup_spans

    block = "B" * 50
    d = spark.createDataFrame(
        [
            (1, "head111 " + block + " tail111"),
            (2, "head222 " + block + " tail222"),
            (3, "totally unique document three " * 3),
            (4, block),  # nothing but the shared block
            (5, block),
        ],
        ["doc_id", "text"],
    )
    spans = duplicate_spans(d, span=10, stride=1)
    got = {r.doc_id: r.trimmed for r in trim_dup_spans(d, spans, span=10).collect()}
    assert got[3] == "totally unique document three " * 3  # unflagged verbatim
    assert got[4] == "" and got[5] == ""                   # fully covered
    # docs 1/2: the duplicated region is the B-block PLUS the shared
    # " tail"/" " boundary windows (10-char windows shared between docs
    # 1 and 2 extend one char left of the block and 5 chars into the
    # common ' tail' prefix) — exactly the maximal shared substring at
    # span granularity. Kept = the truly unique head/tail characters.
    assert block not in got[1] and block not in got[2]
    assert got[1] == "head111111"
    assert got[2] == "head222222"
    spark.catalog.clearCache()


def test_curate_span_action_trim(spark):
    """span_action='trim': over-coverage docs keep their row but lose
    their duplicated intervals; under-threshold docs untouched."""
    from kmtricks_spark.operators.curation import curate

    block = "B" * 80
    rows = (
        [(i, block) for i in range(10)]                      # fully duplicated
        + [(100 + i, f"unique document number {i} " * 6) for i in range(5)]
    )
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    kept, report = curate(
        d, min_quality=None, dedup=None,
        max_dup_coverage=0.5, span=40, stride=10, span_action="trim",
    )
    assert report["after_span_dedup"] == report["input"] == 15  # no rows dropped
    got = {r.doc_id: r.text for r in kept.collect()}
    for i in range(10):
        assert got[i] == ""  # fully-covered docs trimmed to empty
    for i in range(5):
        assert got[100 + i] == f"unique document number {i} " * 6
    with pytest.raises(ValueError, match="span_action"):
        curate(d, min_quality=None, dedup=None, max_dup_coverage=0.5,
               span_action="nope")


# ----------------------------------- streaming compatibility of r5 cols

def test_scalar_gate_columns_work_in_streaming(spark, tmp_path, docs):
    """quality_col / gopher_keep_col / lang_guess_col and pii_redact's
    expressions are pure Column exprs — they must run unchanged in a
    Structured Streaming plan (stateless select), matching batch."""
    from kmtricks_spark.functions.text import (
        PII_PATTERNS, gopher_keep_col, lang_guess_col, quality_col,
    )

    src_dir = str(tmp_path / "stream_src")
    docs.select("doc_id", "text").limit(50).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    def curated(df):
        red = F.col("text")
        for _, pat, repl in PII_PATTERNS:
            red = F.regexp_replace(red, pat, repl)
        return df.select(
            "doc_id",
            quality_col("text").alias("q"),
            gopher_keep_col("text").cast("int").alias("g"),
            lang_guess_col("text").alias("l"),
            red.alias("redacted"),
        )

    stream = curated(spark.readStream.schema(schema).parquet(src_dir))
    q = (
        stream.writeStream.format("memory").queryName("r5_scalar_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM r5_scalar_stream").collect()}
    want = {r.doc_id: r for r in curated(spark.read.parquet(src_dir)).collect()}
    assert len(got) == len(want) == 50
    for k in want:
        assert (got[k].q, got[k].g, got[k].l, got[k].redacted) == (
            want[k].q, want[k].g, want[k].l, want[k].redacted
        )


# ------------------------------------------------- per-domain capping

def test_cap_per_domain(spark):
    from kmtricks_spark.operators.sampling import cap_per_domain

    rows = [
        (i, f"https://BIG.example.com:443/p/{i}", f"text {i}") for i in range(100)
    ] + [
        (1000 + i, f"http://small{i}.org/x", f"text small {i}") for i in range(5)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    kept = cap_per_domain(d, k=10)
    assert kept.columns == ["doc_id", "url", "text"]  # original columns back
    got = kept.collect()
    big = [r for r in got if "example.com" in r.url]
    small = [r for r in got if "small" in r.url]
    assert len(big) == 10          # mega-domain capped at k
    assert len(small) == 5         # tiny domains keep everything
    # deterministic: same survivors on a re-run
    again = {r.doc_id for r in cap_per_domain(d, k=10).collect()}
    assert again == {r.doc_id for r in got}


def test_url_host_strips_default_ports(spark):
    from kmtricks_spark.functions.url import url_host

    d = spark.createDataFrame(
        [
            (1, "HTTP://Ex.COM:80/a"), (2, "https://Ex.com:443/b"),
            (3, "https://ex.com:8443/c"), (4, "http://ex.com/d"),
        ],
        ["i", "url"],
    )
    got = {r.i: r.h for r in d.select("i", url_host(F.col("url")).alias("h")).collect()}
    assert got == {1: "ex.com", 2: "ex.com", 3: "ex.com:8443", 4: "ex.com"}


def test_curate_domain_gate_and_run(spark, tmp_path):
    """--max-docs-per-domain as a funnel gate: caps before dedup in
    both curate() and curate_run() (resume-capable stage)."""
    from kmtricks_spark.operators.curation import curate, curate_run

    rows = [
        (i, f"https://spam.example/{i}", "common words here " * 10) for i in range(50)
    ] + [
        (1000 + i, f"http://site{i}.org/x", f"distinct article {i} " * 10)
        for i in range(5)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    kept, report = curate(d, min_quality=None, dedup=None, max_docs_per_domain=8)
    assert report["after_domain"] == 8 + 5
    assert kept.count() == 13
    with pytest.raises(ValueError, match="URL column"):
        curate(d.drop("url"), min_quality=None, dedup=None, max_docs_per_domain=8)

    inp = str(tmp_path / "docs.parquet")
    d.write.parquet(inp)
    rd = str(tmp_path / "run")
    _, rep1 = curate_run(spark, rd, inp, min_quality=None, dedup="exact",
                         max_docs_per_domain=8)
    assert rep1["stages"]["domain"] == "done"
    assert rep1["after_domain"] == 13
    # exact dedup collapses the 8 identical spam survivors to 1
    assert rep1["after_dedup"] == 1 + 5
    _, rep2 = curate_run(spark, rd, inp, min_quality=None, dedup="exact",
                         max_docs_per_domain=8)
    assert rep2["stages"]["domain"] == "skipped"
    assert rep2["after_dedup"] == rep1["after_dedup"]
