"""Round-2 additions: static part_id placement, CLI post-ops,
bloom modes in the pipeline, dedup edge/scale fixes."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from kmtricks_spark.plans.pipeline import Pipeline

CFG = KmConfig(k=8, hard_min=2, soft_min=1, recurrence_min=1, nb_partitions=8,
               bloom_bits=1 << 18)


@pytest.fixture(scope="module")
def zipf_docs(spark):
    """A corpus with one extremely hot shingle (Zipf-1 stand-in)."""
    hot = "HOTGRAM! " * 400
    rows = [(f"s{i % 4}", hot + f"unique text body number {i} with tail {i * 7}")
            for i in range(64)]
    return spark.createDataFrame(rows, ["source", "text"])


def test_pipeline_bloom_modes(spark, sf_dir, tmp_path):
    inp = os.path.join(sf_dir, "documents.parquet")
    for mode in ("bft", "bfc"):
        rd = str(tmp_path / f"run_{mode}")
        Pipeline(spark, CFG.with_(bloom_mode=mode), rd, inp).run()
        t = spark.read.parquet(os.path.join(rd, "bloom"))
        assert t.count() > 0
        if mode == "bft":
            assert "bitmap" in t.columns
            assert os.path.exists(os.path.join(rd, "fpr"))
        else:
            assert "packed" in t.columns


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(args, timeout=300):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    r = subprocess.run(
        [sys.executable, "-m", "kmtricks_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=_REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return [l for l in r.stdout.splitlines() if l.startswith("{")][-1]


def test_cli_post_ops_roundtrip(tmp_path, sf_dir):
    inp = os.path.join(sf_dir, "documents.parquet")
    common = ["--kmer-size", "8", "--hard-min", "2", "--nb-partitions", "4",
              "--bloom-size", "65536", "--cores", "8"]
    rd_a, rd_b = str(tmp_path / "a"), str(tmp_path / "b")
    _cli(["pipeline", "--input", inp, "--run-dir", rd_a, "--until", "matrix", *common])
    _cli(["pipeline", "--input", inp, "--run-dir", rd_b, "--until", "matrix",
          "--soft-min", "3", *common])

    out = str(tmp_path / "agg.parquet")
    rec = json.loads(_cli(["aggregate", "--run-dir", rd_a, "--sorted",
                           "--output", out, "--cores", "8"]))
    assert rec["rows"] > 0

    out2 = str(tmp_path / "comb.parquet")
    rec2 = json.loads(_cli(["combine", "--run-dir", rd_a, "--other", rd_b,
                            "--output", out2, "--cores", "8"]))
    assert rec2["rows"] > 0

    # filter: key sample = first sample's counts from run A
    import pyspark.sql as pqs  # noqa: F401
    from kmtricks_spark import get_spark

    s = get_spark(cores=8)
    counts = s.read.parquet(os.path.join(rd_a, "counts"))
    first = counts.select("sample_id").orderBy("sample_id").first()[0]
    key_path = str(tmp_path / "key.parquet")
    counts.where(F.col("sample_id") == first).select("kgram", "count").write.parquet(key_path)
    out3 = str(tmp_path / "filt.parquet")
    rec3 = json.loads(_cli(["filter", "--run-dir", rd_a, "--key-counts", key_path,
                            "--out-mode", "v", "--output", out3, "--cores", "8"]))
    assert rec3["rows"] == s.read.parquet(os.path.join(rd_a, "matrix")).count()


def test_spark_submit_pyfiles(tmp_path, sf_dir):
    """North-rule launch shape: spark-submit --py-files <zip> — the engine
    must import from the shipped zip alone (the driver script lives in
    tools/, which does not contain the package)."""
    import shutil

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        pytest.skip("spark-submit binary not on this host")
    zip_path = os.path.join(_REPO, "dist", "kmtricks_spark.zip")
    if not os.path.exists(zip_path):
        subprocess.run(["bash", "tools/make_pyfiles.sh"], cwd=_REPO, check=True)
    r = subprocess.run(
        [submit, "--master", "local[8]",
         "--py-files", zip_path, os.path.join(_REPO, "tools", "submit_smoke.py"),
         os.path.join(sf_dir, "documents.parquet"), str(tmp_path / "run")],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rec = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert rec["status"] == {"counts": "done"} and rec["count_rows"] > 0


def test_cli_infos(tmp_path, sf_dir):
    inp = os.path.join(sf_dir, "documents.parquet")
    rd2 = str(tmp_path / "run")
    _cli(["pipeline", "--input", inp, "--run-dir", rd2, "--until", "counts",
          "--nb-partitions", "8", "--cores", "8"])
    info = json.loads(_cli(["infos", "--run-dir", rd2]))
    assert info["stages"]["counts"]["output_rows"] > 0


def test_cli_rejects_removed_placement_flags(tmp_path, sf_dir):
    """The sampled-placement surface is gone: each of its flags and the
    repart subcommand exits non-zero at argument parsing, naming itself,
    before any run directory is made."""
    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "run")
    base = ["pipeline", "--input", inp, "--run-dir", rd]
    cases = {
        "--repartition": [*base, "--repartition", "static"],
        "--repart-from": [*base, "--repart-from", str(tmp_path / "partitioner.json")],
        "--minimizer-size": [*base, "--minimizer-size", "4"],
        "repart": ["repart", "--input", inp, "--run-dir", rd],
    }
    for name, argv in cases.items():
        r = subprocess.run(
            [sys.executable, "-m", "kmtricks_spark.cli", *argv],
            capture_output=True, text=True, timeout=120, cwd=_REPO,
        )
        assert r.returncode != 0, name
        assert name in r.stderr, (name, r.stderr[-500:])
    assert not os.path.exists(rd)


def test_ngram_short_docs_and_max_df(spark):
    rows = [(1, "just two"), (2, "a b c d e common x"), (3, "a b c d e common y")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # short doc contributes no grams, no crash
    got = ngram_jaccard_pairs(df, n=3, min_jaccard=0.1).collect()
    assert {(r.a, r.b) for r in got} == {(2, 3)}
    # universal gram capped -> pair count bounded
    uni = [(i, f"the same lead tokens u{i} v{i} w{i}") for i in range(30)]
    ud = spark.createDataFrame(uni, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs(ud, n=3, min_jaccard=0.0).count()
    capped = ngram_jaccard_pairs(ud, n=3, min_jaccard=0.0, max_df=3).count()
    assert uncapped == 30 * 29 // 2 and capped == 0


def test_part_id_is_static_hash(spark, zipf_docs, tmp_path):
    """Placement pin: every counts, matrix and pa row sits in
    part_id == pmod(xxhash64(kgram), P), for plain, restrict_to, bytes
    mode and DNA (canonical k-mer) runs."""
    zipf = str(tmp_path / "zipf.parquet")
    zipf_docs.write.parquet(zipf)
    dna = str(tmp_path / "dna.parquet")
    spark.createDataFrame(
        [("s0", "ACGTACGTACGT" * 40), ("s1", "TTTTACGTACGT" * 40)], ["source", "text"]
    ).write.parquet(dna)
    runs = {
        "plain": (CFG, zipf, {}),
        "restrict": (CFG, zipf, {"restrict_to": [0, 3, 5]}),
        "bytes": (CFG.with_(kgram_as_string=False), zipf, {}),
        "dna": (CFG.with_(alphabet="dna", hard_min=1), dna, {}),
    }
    for name, (cfg, inp, kw) in runs.items():
        rd = str(tmp_path / name)
        Pipeline(spark, cfg, rd, inp, until="pa", **kw).run()
        for stage in ("counts", "matrix", "pa"):
            t = spark.read.parquet(os.path.join(rd, stage))
            want = F.pmod(F.xxhash64("kgram"), F.lit(cfg.nb_partitions))
            assert t.count() > 0, (name, stage)
            assert t.where(F.col("part_id") != want).count() == 0, (name, stage)


def test_frame_sample_zero_duration(spark):
    from kmtricks_spark.operators.multimodal import MEDIA_SCHEMA, frame_sample

    rows = [(1, "video", bytearray(b"FRMS\x00\x00\x00\x00"), "video/x-frames", 1, 1, 0)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = frame_sample(df, every_ms=500).collect()
    assert [r.frame_ts_ms for r in got] == [0]


def test_auto_partitions(spark, sf_dir):
    from kmtricks_spark.config import auto_partitions, input_bytes

    inp = os.path.join(sf_dir, "documents.parquet")
    assert input_bytes(spark, inp) > 0
    # small input -> reference floor of 4 (task.hpp:112-115)
    assert auto_partitions(spark, inp) == 4
    # tiny byte budget -> scales up, capped
    assert auto_partitions(spark, inp, bytes_per_partition=1024) > 4
    assert auto_partitions(spark, inp, bytes_per_partition=1, cap=64) == 64


def test_stateful_streaming_hll_equals_batch(spark, sf_dir, tmp_path):
    """HLL registers as Spark-managed streaming state across micro-batches:
    the complete-mode sink must EQUAL the batch registers row for row
    (register-max is order/batching-independent)."""
    from kmtricks_spark.functions.shingles import kgrams_sql
    from kmtricks_spark.sketches.spark import hll_registers
    from kmtricks_spark.streaming.count_stream import (
        run_available_now,
        stateful_streaming_hll,
        stream_docs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)

    cfg = KmConfig(k=8, hard_min=1)
    stream = stateful_streaming_hll(stream_docs(spark, src, max_files=1), cfg, p=12)
    run_available_now(stream, "hll_state_test", output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("hll_state_test").collect())
    assert len(got) > 0

    hashed = kgrams_sql(docs, cfg).select("sample_id", F.xxhash64("kgram").alias("h"))
    batch = sorted(tuple(r) for r in hll_registers(hashed, ["sample_id"], "h", 12).collect())
    assert got == batch


def test_gopher_filters_flags(spark):
    from kmtricks_spark.functions.text import gopher_filters

    good = "the quick brown fox jumps over a lazy dog and " * 8  # 80 words, stopwords
    rows = [
        (1, good),
        (2, "short doc"),                          # word count fails
        (3, ("#@! " * 80)),                        # symbols/alpha fail
    ]
    out = {r.doc_id: r for r in gopher_filters(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].keep == 1
    assert out[2].ok_word_count == 0 and out[2].keep == 0
    assert out[3].ok_alpha_ratio == 0 and out[3].ok_symbol_ratio == 0 and out[3].keep == 0


def test_tfidf_top_terms_ranking(spark):
    from kmtricks_spark.functions.text import tfidf_top_terms

    rows = [
        (1, "apple apple apple shared shared common"),
        (2, "banana banana shared common common common"),
        (3, "cherry common shared shared shared shared"),
    ]
    out = tfidf_top_terms(spark.createDataFrame(rows, ["doc_id", "text"]), top=1).collect()
    top = {r.doc_id: r.term for r in out}
    # tf*idf with idf = ln((N+1)/(df+1))+1: apple 3*ln(2)+3=5.08,
    # banana 2*1.69=3.39, and for doc 3 'shared'x4 (df=3, idf=1.0) = 4.0
    # beats the unique 'cherry' (1.69) — frequency can outweigh rarity
    assert top == {1: "apple", 2: "banana", 3: "shared"}
    assert all(r.rank == 1 for r in out)


def test_repetition_stats_values(spark):
    from kmtricks_spark.functions.text import repetition_stats

    rows = [
        (1, "a b a b a b"),   # 2-grams: [a b, b a, a b, b a, a b] -> top 3/5; 3-grams all dup (aba x2? )
        (2, "x y z w"),       # all 2/3-grams unique -> top2 1/3, dup3 0
        (3, "solo"),          # no grams -> 0, 0
    ]
    out = {r.doc_id: r for r in repetition_stats(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].top2gram_frac == 0.6          # 'a b' 3 of 5
    # 3-grams of doc1: 'a b a','b a b','a b a','b a b' -> all duplicated
    assert out[1].dup3gram_frac == 1.0
    assert out[2].top2gram_frac == round(1 / 3, 6) and out[2].dup3gram_frac == 0.0
    assert out[3].top2gram_frac == 0.0 and out[3].dup3gram_frac == 0.0


def test_minhash_short_docs_not_aliased(spark):
    rows = [(1, "cat"), (2, "dog"), (3, "xy"), (4, "cat")]
    sigs = minhash_signatures(spark.createDataFrame(rows, ["doc_id", "text"]))
    pairs = minhash_lsh_pairs(sigs, bands=16, rows_per_band=8, min_jaccard=0.8)
    assert {(r.a, r.b, r.est_jaccard) for r in pairs.collect()} == {(1, 4, 1.0)}
