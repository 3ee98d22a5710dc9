"""Round-4 tests: star clustering, two-pass group sampling, stop-gram
anti-join, CMS oracle-portable hashing, CLI plugin, howde magic knob."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(args, timeout=300):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    r = subprocess.run(
        [sys.executable, "-m", "kmtricks_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=_REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return [l for l in r.stdout.splitlines() if l.startswith("{")][-1]


# ------------------------------------------------ large-star/small-star

def test_dup_clusters_star_chain_converges_fast(spark):
    """A 30-chain, which min-label propagation would need ~15 rounds
    for, clusters correctly in O(log n) star rounds — no raise."""
    from kmtricks_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], ["a", "b"])
    labels = dup_clusters(chain, max_iter=10).collect()
    assert all(r.cluster_id == 0 for r in labels) and len(labels) == 31


def test_dup_clusters_star_vs_union_find_random_and_chains(spark):
    """Random graphs + deep chains (disjoint id spaces, one Spark run)
    against a pure-Python union-find: star labels == component minima."""
    import numpy as np

    from kmtricks_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(11)
    edges = []
    for g in range(10):
        n = int(rng.integers(2, 40))
        m = int(rng.integers(1, 60))
        base = g * 1000
        for _ in range(m):
            a, b = (int(x) for x in rng.integers(0, n, 2))
            if a != b:
                edges.append((base + min(a, b), base + max(a, b)))
    # two deep chains — the shape min-label propagation needs diameter rounds for
    for g, ln in ((50, 80), (60, 55)):
        base = g * 1000
        edges += [(base + i, base + i + 1) for i in range(ln)]
    pairs = spark.createDataFrame(sorted(set(edges)), ["a", "b"])
    got = {r.id: r.cluster_id for r in
           dup_clusters(pairs, max_iter=20).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


# ------------------------------------------- two-pass group sampling

def _naive_group_sample(df, k, strata_col="lang", key_col="doc_id", salt=""):
    from kmtricks_spark.operators.sampling import _NULL_KEY

    h = F.md5(F.concat(F.coalesce(F.col(key_col).cast("string"),
                                  F.lit(_NULL_KEY)), F.lit(salt)))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__rn"))


def test_group_sample_two_pass_matches_full_sort(spark):
    """One giant stratum (the scale case the prefilter exists for) + small
    strata + a null stratum: two-pass output == full-window output."""
    from kmtricks_spark.operators.sampling import deterministic_group_sample

    rows = [(i, "big" if i < 900 else ["g1", "g2", None][i % 3]) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    exp = {(r.doc_id, r.lang) for r in _naive_group_sample(df, 9).collect()}
    got = {(r.doc_id, r.lang) for r in deterministic_group_sample(df, 9).collect()}
    assert got == exp
    # the prefilter actually prunes the giant stratum (not a silent no-op):
    # threshold for n=900, k=9, oversample=4 keeps ~4% of its rows
    from kmtricks_spark.operators.sampling import frac_to_hex_threshold

    assert frac_to_hex_threshold(min(1.0, 4.0 * 9 / 900)) < "g"


def test_group_sample_undershoot_fallback_exact(spark):
    """A pathologically small oversample forces the prefilter to
    undershoot every group — the fallback must still return the exact
    full-sort answer (correctness never depends on the tuning knob)."""
    from kmtricks_spark.operators.sampling import deterministic_group_sample

    rows = [(i, f"g{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    exp = {(r.doc_id, r.lang) for r in _naive_group_sample(df, 5).collect()}
    got = {(r.doc_id, r.lang) for r in
           deterministic_group_sample(df, 5, oversample=1e-4).collect()}
    assert got == exp


def test_group_sample_null_vs_sentinel_stratum_distinct(spark):
    """A real stratum value equal to the null marker must NOT merge with
    the NULL stratum in the threshold/undershoot bookkeeping — both
    groups get exactly min(k, n) rows; and the prefilter threshold join
    is a broadcast (a checkpointed stats-less build side would
    otherwise sort-merge-shuffle the corpus)."""
    from kmtricks_spark.operators.sampling import deterministic_group_sample

    rows = [(i, "\x00null" if i < 300 else None) for i in range(600)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    exp = {(r.doc_id, r.lang) for r in _naive_group_sample(df, 8).collect()}
    q = deterministic_group_sample(df, 8)
    got = {(r.doc_id, r.lang) for r in q.collect()}
    assert got == exp
    by_group: dict = {}
    for _, lang in got:
        by_group[lang] = by_group.get(lang, 0) + 1
    assert by_group == {"\x00null": 8, None: 8}
    # the prefilter join runs inside pre's eager checkpoint (invisible in
    # the returned plan), so the broadcast contract is pinned on the
    # fallback path, whose bad-strata joins ARE in the returned plan
    q2 = deterministic_group_sample(df, 8, oversample=1e-4)
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    # both corpus-sized joins against the bad-strata set broadcast (the
    # only SortMergeJoin left is sizes<->survc, metadata-scale)
    assert "BroadcastHashJoin [__sk" in plan2
    assert "LeftAnti, BuildRight" in plan2 and "LeftSemi, BuildRight" in plan2
    assert {(r.doc_id, r.lang) for r in q2.collect()} == exp


def test_word_grams_rejects_nonpositive_n(spark):
    """n=0 would emit the empty gram for every doc — a decontamination
    gate would then 'successfully' drop the whole corpus."""
    from kmtricks_spark.operators.curation import curate
    from kmtricks_spark.operators.dedup import benchmark_contamination

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match=">= 1"):
        benchmark_contamination(docs, docs.withColumnRenamed("doc_id", "bench_id"), n=0)
    with pytest.raises(ValueError, match=">= 1"):
        curate(docs, min_quality=None, dedup=None,
               decontaminate=docs.select("text"), contamination_n=0)


def test_frac_hex_threshold_col_matches_python(spark):
    """The distributed threshold column must be bit-identical to the
    Python frac_to_hex_threshold across the fraction range."""
    from kmtricks_spark.operators.sampling import (
        _frac_hex_threshold_col,
        frac_to_hex_threshold,
    )

    fracs = [0.0, 1e-9, 0.0001, 0.03125, 0.1, 0.25, 0.5, 0.75,
             0.999999, 1.0 - 2**-53, 1.0, 1.5]
    df = spark.createDataFrame([(f,) for f in fracs], ["f"])
    got = {r.f: r.th for r in
           df.select("f", _frac_hex_threshold_col(F.col("f")).alias("th")).collect()}
    for f in fracs:
        assert got[f] == frac_to_hex_threshold(min(f, 1.0)), f


# -------------------------------------- multi-key HLL (north-rule shape)

def test_hll_per_partition_sample_groups(spark, docs):
    """Distinct-shingle cardinality per (partition, sample) — the
    north-rule per-partition HLL previously carried by a rows-only
    queries() entry (dropped from the driver window to make room for
    deterministic rows; the evidence lives here). Every (part, sample)
    estimate must sit within the p=12 relative-error envelope of the
    exact distinct count."""
    from kmtricks_spark.operators.count import count_kgrams
    from kmtricks_spark.sketches.spark import hll_estimate_col, sketch_agg
    from kmtricks_spark.config import KmConfig

    cfg = KmConfig(k=8, hard_min=1, nb_partitions=4)
    counts = count_kgrams(docs, cfg)
    hashed = counts.select("part_id", "sample_id", F.xxhash64("kgram").alias("h"))
    agg = sketch_agg(hashed, ["part_id", "sample_id"], "h", "hll", p=12)
    est = {(r.part_id, r.sample_id): r.e for r in
           agg.select("part_id", "sample_id", hll_estimate_col().alias("e")).collect()}
    exact = {(r.part_id, r.sample_id): r.n for r in
             counts.groupBy("part_id", "sample_id")
             .agg(F.count_distinct("kgram").alias("n")).collect()}
    assert set(est) == set(exact) and len(est) > 4
    for key, n in exact.items():
        assert abs(est[key] - n) <= max(0.05 * n, 6.0), (key, est[key], n)


# -------------------------------------------------- sequence packing

def test_pack_sequences_layout_independent_and_contiguous(spark, docs):
    """The packed layout must be identical under any physical layout
    (repartition 1 vs 16), every shard's stream must be gapless
    (offsets tile exactly: next offset = prev offset + n_tokens), and a
    different salt must produce a different (but equally valid) order."""
    from kmtricks_spark.operators.packing import pack_sequences

    d = docs.select("doc_id", "text")
    a = pack_sequences(d.repartition(1), 128, n_shards=4)
    b = pack_sequences(d.repartition(16), 128, n_shards=4)
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b and rows_a

    by_shard: dict = {}
    for shard, doc_id, n_tok, off, b0, b1 in sorted(rows_a, key=lambda r: (r[0], r[3])):
        assert b0 == off // 128 and b1 == (off + n_tok - 1) // 128
        by_shard.setdefault(shard, []).append((off, n_tok))
    for shard, runs in by_shard.items():
        pos = 0
        for off, n_tok in runs:
            assert off == pos, (shard, off, pos)
            pos += n_tok

    c = {tuple(r) for r in pack_sequences(d.repartition(4), 128, n_shards=4,
                                          salt="epoch2").collect()}
    assert c != rows_a  # epoch re-pack shuffles the layout
    assert {r[1] for r in c} == {r[1] for r in rows_a}  # same docs

    with pytest.raises(ValueError):
        pack_sequences(d, 0)


def test_pack_sequences_matches_python_reference(spark):
    """Randomized corpus vs a pure-Python layout reference (md5 order,
    per-shard cumsum, window arithmetic recomputed independently)."""
    import hashlib

    import numpy as np

    from kmtricks_spark.operators.packing import pack_sequences

    rng = np.random.default_rng(21)
    rows = [(int(i), " ".join(["w"] * int(rng.integers(0, 40)))) for i in range(250)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.shard, r.n_tokens, r.offset, r.bin_start, r.bin_end)
           for r in pack_sequences(df, 64, n_shards=4).collect()}

    L = 64
    per_shard: dict = {}
    for i, text in rows:
        h = hashlib.md5(str(i).encode()).hexdigest()
        shard = int(h[:8], 16) % 4
        n_tok = len([t for t in text.split(" ") if t]) + 1
        per_shard.setdefault(shard, []).append((h, i, n_tok))
    want = {}
    for shard, docs_ in per_shard.items():
        pos = 0
        for h, i, n_tok in sorted(docs_):
            want[i] = (shard, n_tok, pos, pos // L, (pos + n_tok - 1) // L)
            pos += n_tok
    assert got == want


def test_pii_redact_matches_python_re_on_random_text(spark):
    """Randomized fuzz: the Java regexes must agree with Python re on
    the same patterns over an adversarial alphabet (digits, @, dots,
    dashes, spaces) — guards against engine-dialect drift."""
    import re

    import numpy as np

    from kmtricks_spark.functions.text import PII_PATTERNS, pii_redact

    rng = np.random.default_rng(13)
    alphabet = np.array(list("ab XZ09@.+-_18 5."))
    rows = []
    for i in range(400):
        n = int(rng.integers(0, 50))
        rows.append((i, "".join(rng.choice(alphabet, size=n))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.redacted for r in pii_redact(df).collect()}
    for i, text in rows:
        s = text
        for _, pat, repl in PII_PATTERNS:
            s = re.sub(pat, repl, s)
        assert got[i] == s, (i, text, got[i], s)


# ---------------------------------------------- benchmark contamination

def test_benchmark_contamination_exact(spark):
    """Handcrafted corpus/benchmark: exact shared-distinct-gram counts,
    no hit for clean docs, short docs contribute nothing."""
    from kmtricks_spark.operators.dedup import benchmark_contamination

    docs = spark.createDataFrame(
        [(1, "a b c d e f"),          # shares 'a b c' and 'b c d' with bench 10
         (2, "b c d x y z"),          # shares 'b c d'
         (3, "totally clean words here now"),
         (4, "a b")],                 # too short for 3-grams
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(10, "a b c d"), (11, "no overlap at all whatsoever")],
        ["bench_id", "text"],
    )
    got = {(r.doc_id, r.bench_id): r.n_shared_grams
           for r in benchmark_contamination(docs, bench, n=3).collect()}
    assert got == {(1, 10): 2, (2, 10): 1}
    # plan shape: the benchmark side is broadcast (corpus never shuffles
    # into the join)
    plan = benchmark_contamination(docs, bench, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------- span intervals + coverage

def test_merge_dup_spans_and_coverage(spark):
    """Gaps-and-islands: overlapping/touching span occurrences coalesce
    into maximal intervals; coverage = interval mass / doc length, 0.0
    for clean docs, 1.0-capped by disjointness."""
    from kmtricks_spark.operators.dedup import dup_span_coverage, merge_dup_spans

    spans = spark.createDataFrame(
        [(1, 1, "h1"), (1, 11, "h2"), (1, 21, "h3"),   # one island [1, 61)
         (1, 200, "h4"),                               # second island [200, 240)
         (2, 5, "h5"), (2, 45, "h6")],                 # touching: [5,45)+[45,85) merge
        ["doc_id", "pos", "span_hash"],
    )
    got = {(r.doc_id, r.start, r.end_excl): r.n_spans
           for r in merge_dup_spans(spans, span=40).collect()}
    assert got == {(1, 1, 61): 3, (1, 200, 240): 1, (2, 5, 85): 2}

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "y" * 100), (3, "clean doc")], ["doc_id", "text"]
    )
    cov = {r.doc_id: (r.length, r.dup_chars, r.coverage)
           for r in dup_span_coverage(docs, spans, span=40).collect()}
    assert cov[1] == (300, 100, round(100 / 300, 6))
    assert cov[2] == (100, 80, 0.8)
    assert cov[3] == (9, 0, 0.0)


# ------------------------------------------------------- PII redaction

def test_pii_redact_patterns_and_negatives(spark):
    from kmtricks_spark.functions.text import pii_redact

    cases = [
        (1, "Contact u3@mail2.com or call +1 555 0142 at 192.168.3.45 end",
            "Contact <EMAIL> or call <PHONE> at <IP> end"),
        (2, "no pii here just words 42 and 2024",
            "no pii here just words 42 and 2024"),
        (3, "dash phone 555-867-5309 ok", "dash phone <PHONE> ok"),
        (4, "ip only 10.0.0.1 and email a.b+c@x-y.co",
            "ip only <IP> and email <EMAIL>"),
        (5, "v1.2.3 release is not an ip", "v1.2.3 release is not an ip"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], ["doc_id", "text"])
    got = {r.doc_id: r.redacted for r in pii_redact(df).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


# ------------------------------------------------ stop-gram anti-join

def test_ngram_max_df_universal_gram_no_window(spark):
    """A universal gram shared by every doc: with max_df it must be
    dropped via groupBy + anti-join (partial agg before the exchange),
    never a count().over(partitionBy) window that ships the full posting
    list to one task."""
    from kmtricks_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "u v common x1 y1"), (2, "u v common x2 y2"),
         (3, "u v common x3 y3"), (4, "a b common c4 d4")],
        ["doc_id", "text"],
    )
    # 'u v' / 'v common' style grams shared by docs 1-3; with max_df=2
    # those survive only if df<=2 — the truly universal grams vanish
    full = {(r.a, r.b): r.jaccard for r in
            ngram_jaccard_pairs(docs, n=2, min_jaccard=0.0).collect()}
    capped = {(r.a, r.b): r.jaccard for r in
              ngram_jaccard_pairs(docs, n=2, min_jaccard=0.0, max_df=2).collect()}
    assert full and capped != full  # the cap changed the gram universe
    q = ngram_jaccard_pairs(docs, n=2, min_jaccard=0.0, max_df=2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # map-side partial aggregation feeds the stop-gram exchange
    assert "partial_count" in plan.lower() or "HashAggregate" in plan


def test_curate_star_clustering_same_survivors(spark, docs):
    """curate(minhash) keeps exactly the minimum id of every connected
    component of its LSH pairs (a pure-Python union-find over the same
    pairs) plus every unpaired document."""
    from kmtricks_spark.operators.curation import curate
    from kmtricks_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    base = docs.select("doc_id", "text")
    dup = base.where(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    corpus = base.unionByName(dup)
    kept, rep = curate(corpus, min_quality=None, dedup="minhash")
    got = {r.doc_id for r in kept.select("doc_id").collect()}

    pairs = minhash_lsh_pairs(minhash_signatures(corpus), min_jaccard=0.8).collect()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    drops = {x for x in parent if find(x) != x}
    want = {r.doc_id for r in corpus.select("doc_id").collect()} - drops
    assert got == want and rep["after_dedup"] == len(want)
    assert rep["after_dedup"] < rep["input"]  # the dedup gate fired


def test_curate_span_coverage_gate(spark):
    """max_dup_coverage drops exactly the docs whose duplicated-
    substring coverage exceeds the threshold; unique docs survive."""
    from kmtricks_spark.operators.curation import curate

    boiler = "B" * 120
    docs = spark.createDataFrame(
        [(1, boiler + "u" * 20),          # coverage ~120/140 — heavy
         (2, boiler + "v" * 20),          # same boilerplate — heavy
         (3, "w" * 140)],                 # unique — clean
        ["doc_id", "text"],
    )
    kept, report = curate(docs, min_quality=None, dedup=None,
                          max_dup_coverage=0.5, span=40, stride=10)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert ids == {3}
    assert report["after_span_dedup"] == 1
    with pytest.raises(ValueError, match="max_dup_coverage"):
        curate(docs, min_quality=None, dedup=None, max_dup_coverage=1.5)


def test_curate_decontaminate_gate(spark):
    """The decontamination gate drops exactly the docs sharing an n-gram
    with the benchmark and reports the stage; clean docs survive."""
    from kmtricks_spark.operators.curation import curate

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "a completely different training document with words"),
         (3, "quick brown fox jumps over the lazy dog again today")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("quick brown fox jumps over the lazy dog benchmark",)], ["text"]
    )
    kept, report = curate(docs, min_quality=None, dedup=None,
                          decontaminate=bench, contamination_n=8)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert ids == {2}
    assert report["after_decontam"] == 1 and report["removed"] == 2


# ------------------------------------------------- CLI --plugin parity

def test_cli_plugin_roundtrip_matches_library(spark, sf_dir, tmp_path):
    """`--plugin module:callable --plugin-config 3` (cli.cpp:358-377
    surface) must produce exactly the matrix the library path gives with
    apply_plugin(min_total_plugin(3)); a no-plugin run differs (the veto
    actually fired); lineage records the plugin spec."""
    import json

    from kmtricks_spark.config import KmConfig
    from kmtricks_spark.operators.count import count_kgrams
    from kmtricks_spark.operators.merge import count_matrix
    from kmtricks_spark.operators.plugin import apply_plugin, min_total_plugin

    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "plug")
    common = ["--kmer-size", "8", "--hard-min", "2", "--nb-partitions", "8",
              "--cores", "8"]
    _cli(["pipeline", "--input", inp, "--run-dir", rd, "--until", "matrix",
          "--plugin", "kmtricks_spark.operators.plugin:min_total_plugin",
          "--plugin-config", "3", *common])
    got = spark.read.parquet(os.path.join(rd, "matrix"))

    cfg = KmConfig(k=8, hard_min=2, nb_partitions=8)
    counts = count_kgrams(spark.read.parquet(inp), cfg)
    samples = sorted(r.sample_id for r in counts.select("sample_id").distinct().collect())
    want = apply_plugin(count_matrix(counts, samples, cfg), min_total_plugin("3"))
    assert got.count() == want.count()
    assert got.join(want, ["part_id", "kgram"], "left_anti").count() == 0
    unfiltered = count_matrix(counts, samples, cfg)
    assert got.count() < unfiltered.count()  # the veto fired

    with open(os.path.join(rd, "_lineage", "matrix.json")) as f:
        rec = json.load(f)
    assert rec["params"]["plugin"] == (
        "kmtricks_spark.operators.plugin:min_total_plugin|3"
    )
    # counts output never depends on the plugin: its lineage must NOT
    # carry the spec (else changing --plugin spuriously invalidates a
    # resumable counts stage)
    with open(os.path.join(rd, "_lineage", "counts.json")) as f:
        crec = json.load(f)
    assert "plugin" not in crec["params"]


def test_cli_plugin_rejected_off_merge_path():
    """Subcommands that never reach the merge stage refuse --plugin at
    parse time (no silent accept-and-ignore)."""
    r = subprocess.run(
        [sys.executable, "-m", "kmtricks_spark.cli", "counts",
         "--input", "x.parquet", "--run-dir", "/tmp/nope",
         "--plugin", "m:f"],
        capture_output=True, text=True, timeout=60, cwd=_REPO,
    )
    assert r.returncode != 0 and "--plugin" in r.stderr


def test_load_plugin_validation():
    from kmtricks_spark.operators.plugin import load_plugin, min_total_plugin

    fn = load_plugin("kmtricks_spark.operators.plugin:min_total_plugin", "2")
    import numpy as np

    mask = fn(np.array(["a", "b"]), [[1, 0], [3, 3]])
    assert list(mask) == [False, True]
    # a FACTORY passed without --plugin-config fails at LOAD time (arity
    # 1, not the (kgrams, counts) predicate shape) — not mid-job in an
    # executor
    with pytest.raises(TypeError, match="plugin-config"):
        load_plugin("kmtricks_spark.operators.plugin:min_total_plugin")
    # a bare 2-arg predicate without config IS accepted
    direct = load_plugin("kmtricks_spark.operators.plugin:apply_plugin")
    assert callable(direct)
    with pytest.raises(ValueError, match="module:callable"):
        load_plugin("no_colon_here")
    with pytest.raises(ModuleNotFoundError):
        load_plugin("kmtricks_spark.does_not_exist:x")
    assert callable(min_total_plugin("2"))


# ----------------------------------------------- howdesbt magic knob

def test_howde_magic_knob_roundtrip(slices_frame, tmp_path, monkeypatch):
    """An export with external magic constants round-trips through a
    reader configured the same way, and the default-configured reader
    REFUSES the foreign file (so interop with a real howdesbt build is a
    pure constant swap, never a code change)."""
    import numpy as np

    from kmtricks_spark import KmConfig
    from kmtricks_spark.sources import howde

    monkeypatch.setattr(howde, "HOWDE_MAGIC", int.from_bytes(b"EXTBFMAG", "little"))
    monkeypatch.setattr(howde, "HOWDE_MAGIC_UN", int.from_bytes(b"EXTBFUNF", "little"))
    cfg = KmConfig(k=8, nb_partitions=2, bloom_bits=8192)
    bits = np.random.default_rng(4).integers(0, 256, size=1024, dtype=np.uint8).tobytes()
    frame = slices_frame({("ext", 0): bits[:512], ("ext", 1): bits[512:]})
    (p,) = howde.export_filters(frame, str(tmp_path), cfg, bf_format="howdesbt")
    back_hdr, back_bits = howde.read_bf_file_howdesbt(p)
    assert back_hdr.k == 8 and back_hdr.num_bits == 8192
    assert back_bits.tobytes() == bits
    monkeypatch.undo()
    with pytest.raises(ValueError, match="bad howdesbt magic"):
        howde.read_bf_file_howdesbt(p)  # default constants: foreign file refused


# ------------------------------------------ Iceberg real-catalog path

def test_iceberg_real_catalog_roundtrip(spark, tmp_path):
    """Exercises the PRIMARY (non-fallback) adapter path when the Iceberg
    runtime jar is on the classpath; skips cleanly in this sandbox
    (which ships no jar). Keeps the catalog code from being perpetually
    dead in CI with the jar present."""
    from kmtricks_spark.sources.iceberg import (
        iceberg_available,
        read_table,
        write_table,
    )

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar absent (expected in this sandbox)")
    spark.conf.set("spark.sql.catalog.it_lake", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it_lake.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it_lake.warehouse", str(tmp_path / "wh"))
    df = spark.range(10).withColumn("p", (F.col("id") % 2).cast("int"))
    write_table(df, "it_lake.db.t", partition_by=["p"])
    back = read_table(spark, "it_lake.db.t")
    assert back.count() == 10 and set(back.columns) == {"id", "p"}


def test_ngram_max_df_exact_semantics(spark):
    """Capped Jaccard == exact Jaccard computed over the capped gram
    universe (both |A∩B| and doc sizes use the same universe)."""
    from kmtricks_spark.operators.dedup import ngram_jaccard_pairs

    texts = {1: "p q r s t", 2: "p q r s u", 3: "p q x y z"}
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    def grams(t, n=2):
        toks = t.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    df_count: dict = {}
    for t in texts.values():
        for g in grams(t):
            df_count[g] = df_count.get(g, 0) + 1
    kept = {g for g, c in df_count.items() if c <= 2}
    exp = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ga, gb = grams(texts[a]) & kept, grams(texts[b]) & kept
            inter = len(ga & gb)
            if inter:
                exp[(a, b)] = round(inter / len(ga | gb), 6)
    got = {(r.a, r.b): r.jaccard for r in
           ngram_jaccard_pairs(docs, n=2, min_jaccard=0.0, max_df=2).collect()}
    assert got == exp
