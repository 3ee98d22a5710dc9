"""Round-3 additions: combine lineage refusal, --restrict-to fraction,
per-sample module granularity."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.plans.lineage import read_lineage
from kmtricks_spark.plans.pipeline import Pipeline

CFG = KmConfig(k=8, hard_min=2, soft_min=1, nb_partitions=8, bloom_bits=1 << 18)


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(args, timeout=300, expect_fail=False):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    r = subprocess.run(
        [sys.executable, "-m", "kmtricks_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=_REPO,
    )
    if expect_fail:
        assert r.returncode != 0, r.stdout[-500:]
        return r.stderr
    assert r.returncode == 0, r.stderr[-2000:]
    return [l for l in r.stdout.splitlines() if l.startswith("{")][-1]


def test_restrict_to_fraction_matches_list(tmp_path, sf_dir):
    """--restrict-to f == --restrict-to-list of the first ceil(f*P) ids
    (cli.cpp:301-305)."""
    inp = os.path.join(sf_dir, "documents.parquet")
    common = ["--kmer-size", "8", "--nb-partitions", "4", "--cores", "8"]
    rd_f, rd_l = str(tmp_path / "frac"), str(tmp_path / "list")
    _cli(["pipeline", "--input", inp, "--run-dir", rd_f, "--until", "matrix",
          "--restrict-to", "0.5", *common])
    _cli(["pipeline", "--input", inp, "--run-dir", rd_l, "--until", "matrix",
          "--restrict-to-list", "0,1", *common])
    from kmtricks_spark import get_spark

    s = get_spark(cores=8)
    a = s.read.parquet(os.path.join(rd_f, "matrix"))
    b = s.read.parquet(os.path.join(rd_l, "matrix"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    parts = {r.part_id for r in a.select("part_id").distinct().collect()}
    assert parts <= {0, 1}
    # out-of-range fraction refused
    _cli(["pipeline", "--input", inp, "--run-dir", str(tmp_path / "bad"),
          "--restrict-to", "0.01", *common], expect_fail=True)


def test_sample_id_module_granularity(spark, sf_dir, tmp_path):
    """`count --id D1` analogue (cmd.hpp:164-211): a --sample-id run
    recomputes exactly that sample's cells, byte-equal to the full run's
    slice, with its own lineage (idempotent kill-rerun of one cell)."""
    inp = os.path.join(sf_dir, "documents.parquet")
    rd_full, rd_one = str(tmp_path / "full"), str(tmp_path / "one")
    Pipeline(spark, CFG, rd_full, inp, until="counts").run()
    full = spark.read.parquet(os.path.join(rd_full, "counts"))
    sample = full.select("sample_id").orderBy("sample_id").first()[0]

    pl = Pipeline(spark, CFG, rd_one, inp, until="counts",
                  restrict_samples=[sample])
    pl.run()
    one = spark.read.parquet(os.path.join(rd_one, "counts"))
    expect = full.where(F.col("sample_id") == sample)
    assert one.exceptAll(expect).count() == 0 and expect.exceptAll(one).count() == 0
    # rerun skips (lineage keyed on the restriction)
    status = Pipeline(spark, CFG, rd_one, inp, until="counts",
                      restrict_samples=[sample]).run()
    assert status["counts"] == "skipped"
    # kill-rerun: wipe lineage -> only this cell recomputes, identical out
    before = read_lineage(rd_one, "counts")["checksum"]
    os.remove(os.path.join(rd_one, "_lineage", "counts.json"))
    Pipeline(spark, CFG, rd_one, inp, until="counts",
             restrict_samples=[sample]).run()
    assert read_lineage(rd_one, "counts")["checksum"] == before


def test_howdesbt_header_golden_bytes(slices_frame, tmp_path):
    """Pin the bffileheader byte layout (howde_utils.hpp:56-86): 112-byte
    header, field offsets exactly as the reference assigns them, numBytes
    = bits/8 + 8 for the leading size word."""
    import struct

    from kmtricks_spark.sources.howde import (
        HOWDE_HEADER_SIZE,
        HOWDE_MAGIC,
        export_filters,
        read_bf_file_howdesbt,
    )

    assert HOWDE_HEADER_SIZE == 112  # round_up_16(sizeof(bffileheader))
    cfg = KmConfig(k=8, nb_partitions=4, bloom_bits=512)  # 4 windows of 128 bits
    bits = bytes([0b10100101] * 64)  # 512-bit filter
    frame = slices_frame({("s", p): bits[16 * p:16 * (p + 1)] for p in range(4)})
    (p,) = export_filters(frame, str(tmp_path), cfg, bf_format="howdesbt")
    assert os.path.basename(p) == "s.bf"
    raw = open(p, "rb").read()
    assert len(raw) == 112 + 8 + 64
    # golden field offsets (little-endian)
    assert struct.unpack_from("<Q", raw, 0)[0] == HOWDE_MAGIC
    assert struct.unpack_from("<I", raw, 8)[0] == 112      # headerSize
    assert struct.unpack_from("<I", raw, 20)[0] == 8       # smerSize = k
    assert struct.unpack_from("<I", raw, 24)[0] == 1       # numHashes
    assert struct.unpack_from("<Q", raw, 48)[0] == 512     # hashModulus
    assert struct.unpack_from("<Q", raw, 56)[0] == 512     # numBits
    assert struct.unpack_from("<I", raw, 64)[0] == 1       # numVectors
    assert struct.unpack_from("<Q", raw, 88)[0] == 112     # info[0].offset
    assert struct.unpack_from("<Q", raw, 96)[0] == 512 // 8 + 8  # numBytes
    assert struct.unpack_from("<Q", raw, 112)[0] == 512    # size word
    assert raw[120:] == bits
    hdr, got = read_bf_file_howdesbt(p)
    assert hdr.k == 8 and hdr.num_bits == 512 and bytes(got) == bits


def test_howdesbt_unfinished_write_detected(slices_frame, tmp_path, monkeypatch):
    """The two-phase protocol: a file cut before the final header rewrite
    still carries the UNFINISHED magic and must be refused — the
    reference's prefix-only placeholder, and the exporter's own in both
    formats when it dies before finishing a file."""
    import struct

    from kmtricks_spark.sources import howde

    p = str(tmp_path / "dead.bf")
    with open(p, "wb") as f:  # phase 1 only, as a killed writer leaves it
        un = bytearray(howde.HOWDE_HEADER_SIZE)
        un[:16] = struct.pack("<QII", howde.HOWDE_MAGIC_UN, 16, 0)  # bffileprefix
        f.write(bytes(un))
        f.write(struct.pack("<Q", 512) + bytes(64))
    with pytest.raises(ValueError, match="unfinished"):
        howde.read_bf_file_howdesbt(p)

    def killed(*args):
        raise RuntimeError("killed mid-write")

    monkeypatch.setattr(howde, "_finish", killed)
    cfg = KmConfig(k=8, nb_partitions=4, bloom_bits=512)
    frame = slices_frame({("s", 1): bytes(range(16))})
    for fmt, reader in (("kmbf", howde.read_bf_file), ("howdesbt", howde.read_bf_file_howdesbt)):
        out = tmp_path / fmt
        with pytest.raises(RuntimeError, match="killed"):
            howde.export_filters(frame, str(out), cfg, bf_format=fmt)
        (dead,) = os.listdir(out)
        with pytest.raises(ValueError, match="unfinished"):
            reader(str(out / dead))


def test_pipeline_export_filters_probe(spark, sf_dir, tmp_path):
    """--export-filters howdesbt: one file per sample; probing counted
    kgrams through the exported artifact reports member for all (the
    no-false-negative contract through the file layer)."""
    import numpy as np

    from kmtricks_spark.operators.count import count_kgrams
    from kmtricks_spark.sketches import bloom
    from kmtricks_spark.sources.howde import read_bf_file_howdesbt

    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "exp")
    Pipeline(spark, CFG, rd, inp, export_bf="howdesbt").run()
    fdir = os.path.join(rd, "filters")
    files = sorted(os.listdir(fdir))
    counts = count_kgrams(spark.read.parquet(inp), CFG)
    n_samples = counts.select("sample_id").distinct().count()
    assert len(files) == n_samples and all(f.endswith(".bf") for f in files)
    sample = files[0][: -len(".bf")]
    hdr, bits = read_bf_file_howdesbt(os.path.join(fdir, sample + ".bf"))
    assert hdr.num_bits == CFG.window_bits * CFG.nb_partitions
    some = (
        counts.where(F.col("sample_id") == sample)
        .select("kgram", "part_id")
        .limit(50)
        .collect()
    )
    assert some
    w = CFG.window_bits
    idx = np.array(
        [r.part_id * w for r in some], dtype=np.int64
    ) + np.array(
        [_local_idx(spark, r.kgram, w) for r in some], dtype=np.int64
    )
    assert bloom.contains_local(bits, idx).all()


def _local_idx(spark, kgram, w):
    """xxhash64(kgram) % w via Spark itself (same hash as the build)."""
    return spark.sql(
        "SELECT pmod(xxhash64(?), ?)", args=[kgram, w]
    ).first()[0]


def test_export_filters_refused_for_bfc(spark, sf_dir, tmp_path):
    """--export-filters + bloom_mode=bfc is refused at construction (the
    per-sample concat applies to bit slices only) — never silently
    ignored."""
    with pytest.raises(ValueError, match="export-filters"):
        Pipeline(
            spark, CFG.with_(bloom_mode="bfc"), str(tmp_path / "x"),
            os.path.join(sf_dir, "documents.parquet"), export_bf="howdesbt",
        )


def test_hist_lower_only_bounds(spark, sf_dir, tmp_path):
    """--hist-lower without --hist-upper must still bound the histogram
    and write the oob table (upper counters identically zero)."""
    inp = os.path.join(sf_dir, "documents.parquet")
    rd = str(tmp_path / "lo")
    Pipeline(spark, CFG.with_(hist_lower=3), rd, inp, until="histogram").run()
    h = spark.read.parquet(os.path.join(rd, "histogram"))
    assert h.agg(F.min("count")).first()[0] >= 3
    oob = spark.read.parquet(os.path.join(rd, "histogram_oob"))
    row = oob.agg(F.sum("oob_lu"), F.sum("oob_uu")).first()
    assert row[0] > 0 and row[1] == 0


def test_dup_clusters_transitive_chain(spark):
    """a-b + b-c + c-d is ONE cluster labeled by the min id; disjoint
    pairs stay separate; unpaired ids never appear."""
    from kmtricks_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["a", "b"]
    )
    got = {(r.id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (20, 20), (21, 20)}


def test_dup_clusters_nonconvergence_raises(spark):
    from kmtricks_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], ["a", "b"])
    with pytest.raises(RuntimeError, match="converge"):
        # one star round contracts a 30-chain but cannot also confirm a
        # fixed point
        dup_clusters(chain, max_iter=1)
    # ...but enough rounds do
    labels = dup_clusters(chain, max_iter=40).collect()
    assert all(r.cluster_id == 0 for r in labels) and len(labels) == 31


def test_dup_clusters_random_graphs_vs_union_find(spark):
    """20 random graphs (disjoint id spaces, one Spark run) against a
    pure-Python union-find reference: every node's cluster_id must be
    the min id of its connected component, exactly."""
    import numpy as np

    from kmtricks_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(7)
    edges = []
    for g in range(20):
        n = int(rng.integers(2, 40))
        m = int(rng.integers(1, 60))
        base = g * 1000
        for _ in range(m):
            a, b = (int(x) for x in rng.integers(0, n, 2))
            if a != b:
                edges.append((base + min(a, b), base + max(a, b)))
    pairs = spark.createDataFrame(sorted(set(edges)), ["a", "b"])
    got = {r.id: r.cluster_id for r in dup_clusters(pairs, max_iter=80).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    expect = {}
    for members in comp.values():
        lo = min(members)
        for node in members:
            expect[node] = lo
    assert got == expect


def test_dedup_keep_set(spark):
    """Keep = min of every cluster + all unpaired docs."""
    from kmtricks_spark.operators.dedup import dedup_keep_set

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], ["a", "b"])
    kept = sorted(r.doc_id for r in dedup_keep_set(docs, pairs).collect())
    assert kept == [0, 1, 3, 4, 6]


def test_curate_funnel_matches_manual_composition(spark, sf_dir):
    """curate() == the same operators applied by hand; funnel counts are
    monotone non-increasing and the report is complete."""
    from kmtricks_spark.functions.text import quality_score
    from kmtricks_spark.operators.curation import curate
    from kmtricks_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dup = docs.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    corpus = docs.unionByName(dup)
    kept, report = curate(corpus, min_quality=0.5, dedup="exact")
    assert report["input"] == corpus.count()
    assert report["input"] >= report["after_quality"] >= report["after_dedup"]
    assert report["removed"] == report["input"] - report["after_dedup"]
    # manual: same quality gate, same keep-min dedup
    q = quality_score(corpus).where(F.col("quality") >= 0.5).select("doc_id")
    manual = corpus.join(q, "doc_id")
    keep = exact_dedup(manual).select(F.col("keep_id").alias("doc_id"))
    manual = manual.join(keep, "doc_id")
    assert kept.count() == report["after_dedup"] == manual.count()
    got = {r.doc_id for r in kept.select("doc_id").collect()}
    assert got == {r.doc_id for r in manual.select("doc_id").collect()}
    # planted dups are gone (their base survives when quality passes)
    assert not any(i >= 1_000_000 for i in got)


def test_cli_curate_minhash(tmp_path, sf_dir):
    """CLI surface + near-dup mode end-to-end: report funnel keys present,
    output parquet readable, planted exact dups removed via LSH->clusters."""
    inp = os.path.join(sf_dir, "documents.parquet")
    out = str(tmp_path / "curated.parquet")
    rec = json.loads(_cli([
        "curate", "--input", inp, "--output", out,
        "--min-quality", "-1", "--dedup", "minhash", "--min-jaccard", "0.9",
        "--langs", "en,de,fr,es", "--cores", "8",
    ]))
    assert rec["curate"] == "done"
    assert rec["input"] == 500 and 0 < rec["after_dedup"] <= rec["after_lang"]
    from kmtricks_spark import get_spark

    s = get_spark(cores=8)
    assert s.read.parquet(out).count() == rec["after_dedup"]


def test_hash_sampling_properties(spark, sf_dir):
    """Determinism across calls, key-alignment across tables, salt
    independence, fraction monotonicity, exact-k per group."""
    from kmtricks_spark.operators.sampling import (
        deterministic_group_sample,
        hash_sample,
        stratified_hash_sample,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    a = {r.doc_id for r in hash_sample(docs, 0.3, salt="x").select("doc_id").collect()}
    b = {r.doc_id for r in hash_sample(docs, 0.3, salt="x").select("doc_id").collect()}
    assert a == b  # deterministic
    # alignment: sampling any table by the same key+salt keeps the same ids
    ids_only = docs.select("doc_id", "lang")
    c = {r.doc_id for r in hash_sample(ids_only, 0.3, salt="x").collect()}
    assert a == c
    # monotone in fraction: smaller fraction is a subset
    small = {r.doc_id for r in hash_sample(docs, 0.1, salt="x").select("doc_id").collect()}
    assert small <= a
    # independent draw under a different salt (overwhelmingly different)
    d = {r.doc_id for r in hash_sample(docs, 0.3, salt="y").select("doc_id").collect()}
    assert a != d
    # stratified: a 0-fraction stratum vanishes, a 1.0 stratum is complete
    out = stratified_hash_sample(
        docs, {"en": 1.0, "de": 0.0}, strata_col="lang", default_fraction=0.0
    )
    by_lang = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_en = docs.where(F.col("lang") == "en").count()
    assert by_lang == {"en": n_en}
    # exactly k per group (or the whole group when smaller)
    g = deterministic_group_sample(docs, k=7, strata_col="lang")
    sizes = {r.lang: r.n for r in g.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(v == 7 for v in sizes.values())
    tiny = deterministic_group_sample(docs.limit(3), k=7, strata_col="lang")
    assert tiny.count() == 3


def test_sampling_null_keys_and_empty_fractions(spark):
    """Review regressions: fraction=1.0 keeps null-key rows (sentinel
    hash, not NULL predicate drop); empty fractions dict == pure
    default-rate sampling, no schema-inference crash."""
    from kmtricks_spark.operators.sampling import hash_sample, stratified_hash_sample

    df = spark.createDataFrame(
        [(1, "en"), (None, "en"), (None, "de"), (4, "de")],
        "doc_id long, lang string",
    )
    assert hash_sample(df, 1.0).count() == 4  # identity incl. null keys
    assert hash_sample(df, 0.0).count() == 0
    out = stratified_hash_sample(df, {}, strata_col="lang", default_fraction=1.0)
    assert out.count() == 4


def test_url_fragment_question_mark(spark):
    """A '?' inside the fragment is NOT a query string."""
    from kmtricks_spark.functions.url import url_normalize

    df = spark.createDataFrame(
        [(1, "http://ex.com/a#sec?b=2"), (2, "http://ex.com/a#top"),
         (3, "http://ex.com/a?b=2#sec")],
        ["doc_id", "url"],
    )
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", url_normalize(F.col("url")).alias("n")).collect()}
    assert got[1] == "http://ex.com/a" == got[2]
    assert got[3] == "http://ex.com/a?b=2"


def test_kmbf_unfinished_and_truncated_refused(tmp_path):
    """Streaming kmbf placeholder carries the UNFINISHED magic; readers
    refuse it and refuse truncated vectors (no silent short frombuffer)."""
    import struct

    from kmtricks_spark.sources.howde import MAGIC, MAGIC_UN, VERSION, read_bf_file

    p = str(tmp_path / "dead.kmbf")
    with open(p, "wb") as f:  # as a crashed streaming writer leaves it
        f.write(MAGIC_UN + struct.pack("<IQQQQ", VERSION, 8, 512, (4 << 32) | 2, 0))
        f.write(bytes(16))
    with pytest.raises(ValueError, match="unfinished"):
        read_bf_file(p)
    p2 = str(tmp_path / "short.kmbf")
    with open(p2, "wb") as f:  # finished magic but truncated vector
        f.write(MAGIC + struct.pack("<IQQQQ", VERSION, 8, 512, (4 << 32) | 2, 0))
        f.write(bytes(16))
    with pytest.raises(ValueError, match="truncated"):
        read_bf_file(p2)


def test_url_normalize_and_dedup(spark):
    from kmtricks_spark.functions.url import url_dedup, url_normalize

    rows = [
        (1, "HTTP://WWW.Ex.COM:80/a/b/?b=2&utm_source=t&a=1#frag", "2024-01-01"),
        (2, "http://www.ex.com/a/b?a=1&b=2", "2024-02-01"),       # same canonical, newer
        (3, "https://ex.com:443/a", "2024-01-01"),                 # 443 stripped
        (4, "https://ex.com:8443/a", "2024-01-01"),                # non-default kept
        (5, "http://other.com", "2024-01-01"),                     # bare root
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "warc_ts"])
    norm = {r.doc_id: r.n for r in df.select(
        "doc_id", url_normalize(F.col("url")).alias("n")).collect()}
    assert norm[1] == "http://www.ex.com/a/b?a=1&b=2"
    assert norm[1] == norm[2]
    assert norm[3] == "https://ex.com/a"
    assert norm[4] == "https://ex.com:8443/a"
    assert norm[5] == "http://other.com"
    d = url_dedup(df)
    got = {r.url_norm: (r.url, r.n_fetches) for r in d.collect()}
    assert got[norm[1]] == ("http://www.ex.com/a/b?a=1&b=2", 2)  # newest fetch wins
    assert len(got) == 4


def test_duplicate_spans_shared_infix(spark):
    """Docs sharing only an infix paragraph are NOT doc-level dups, but
    the shared region's spans must be flagged — in both docs, at the
    right positions — and non-shared regions must not be."""
    from kmtricks_spark.operators.dedup import dup_span_stats, duplicate_spans

    shared = "x" * 55  # > span chars, identical across docs
    d1 = "a" * 30 + shared + "b" * 30
    d2 = "c" * 30 + shared + "d" * 30
    d3 = "e" * 120  # no overlap with anything
    df = spark.createDataFrame([(1, d1), (2, d2), (3, d3)], ["doc_id", "text"])
    got = duplicate_spans(df, span=20, stride=5, min_docs=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, set()).add(r.pos)
    assert set(by_doc) == {1, 2}  # doc 3 clean
    # shared block occupies chars 31..85 (1-based); a flagged span must
    # start within it (identical context => identical 20-gram)
    for doc, positions in by_doc.items():
        assert positions, doc
        assert all(31 <= p and p + 19 <= 85 for p in positions), (doc, positions)
    # same spans flagged at the same offsets in both docs
    assert by_doc[1] == by_doc[2]
    stats = {r.doc_id: r.n_dup_spans for r in dup_span_stats(
        duplicate_spans(df, span=20, stride=5, min_docs=2)).collect()}
    assert stats[1] == len(by_doc[1]) and stats[2] == len(by_doc[2])


def test_stateful_streaming_cms_equals_batch(spark, sf_dir, tmp_path):
    """CMS payload as Spark-managed state: the final per-probe estimates
    EQUAL the single-batch CMS exactly (cell-sum merge is associative,
    so micro-batch slicing cannot change a cell), and the classic
    never-underestimate guarantee holds vs exact token counts."""
    import numpy as np

    from kmtricks_spark.sketches import cms
    from kmtricks_spark.streaming.count_stream import (
        run_available_now,
        stateful_streaming_cms,
        stream_docs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "docs_cms_stream")
    docs.repartition(3).write.parquet(src)

    toks = docs.select(
        F.col("source").alias("sample_id"),
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"),
    )
    top = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).orderBy(
        F.col("n").desc(), "tok"
    ).limit(8)
    probe_rows = top.select("tok", F.xxhash64("tok").alias("h"), "n").collect()
    probes = [r.h for r in probe_rows]

    stream = stateful_streaming_cms(
        stream_docs(spark, src, max_files=1), probes, width=2048, depth=5
    )
    run_available_now(stream, "cms_state_test", output_mode="update")
    got = spark.sql(
        """
        select sample_id, probe_hash, cms_est from (
          select *, row_number() over (partition by sample_id, probe_hash
                                       order by updates desc) rn
          from cms_state_test
        ) where rn = 1
        """
    ).collect()
    assert got

    # batch reference: one CMS per sample over all tokens at once
    hs = np.array(probes, dtype=np.int64).view(np.uint64)
    hashed = toks.select("sample_id", F.xxhash64("tok").alias("h")).collect()
    by_sample = {}
    for r in hashed:
        by_sample.setdefault(r.sample_id, []).append(r.h)
    batch_est = {}
    for s, vals in by_sample.items():
        st = cms.create(width=2048, depth=5)
        cms.add_hashes(st, np.array(vals, dtype=np.int64).view(np.uint64))
        batch_est[s] = dict(zip(probes, cms.query(st, hs).tolist()))
    exact = {
        (r.sample_id, r.h): r.n
        for r in toks.join(top.select("tok", F.xxhash64("tok").alias("h")), "tok")
        .groupBy("sample_id", "h").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in got:
        assert r.cms_est == batch_est[r.sample_id][r.probe_hash], r
        assert r.cms_est >= exact.get((r.sample_id, r.probe_hash), 0), r


def test_export_from_slices_byte_equal_to_concat_path(spark, sf_dir, tmp_path):
    """The streaming export writes, per sample, its header followed by
    exactly the bf_concat filter bytes, in both formats, including the
    zero-fill for an absent partition."""
    from kmtricks_spark.operators.bloom_stage import bf_concat, bf_slices, hash_counts
    from kmtricks_spark.operators.count import count_kgrams
    from kmtricks_spark.sources.howde import (
        HOWDE_HEADER_SIZE,
        BFHeader,
        export_filters,
        read_bf_file,
        read_bf_file_howdesbt,
    )

    inp = os.path.join(sf_dir, "documents.parquet")
    counts = count_kgrams(spark.read.parquet(inp), CFG)
    # drop one partition for one sample -> a real zero-fill gap
    s0 = counts.select("sample_id").orderBy("sample_id").first()[0]
    counts = counts.where(~((F.col("sample_id") == s0) & (F.col("part_id") == 3)))
    slices = bf_slices(hash_counts(counts, CFG), CFG).cache()
    filters = {r.sample_id: (bytes(r.filter), r.total_set) for r in bf_concat(slices, CFG).collect()}
    w = CFG.window_bytes
    assert filters[s0][0][3 * w:4 * w] == bytes(w)
    for fmt, ext, data_at in (("kmbf", "kmbf", 44), ("howdesbt", "bf", HOWDE_HEADER_SIZE + 8)):
        paths = export_filters(slices, str(tmp_path / fmt), CFG, bf_format=fmt)
        assert sorted(os.path.basename(p) for p in paths) == sorted(f"{s}.{ext}" for s in filters)
        for p in paths:
            blob, total_set = filters[os.path.basename(p)[: -len(ext) - 1]]
            raw = open(p, "rb").read()
            assert raw[data_at:] == blob, (fmt, p)
            if fmt == "kmbf":
                hdr, _ = read_bf_file(p)
                assert hdr == BFHeader(CFG.k, len(blob) * 8, CFG.nb_partitions,
                                       CFG.window_bits, total_set)
            else:
                hdr, _ = read_bf_file_howdesbt(p)
                assert (hdr.k, hdr.num_bits) == (CFG.k, len(blob) * 8)
    slices.unpersist()


def test_cli_clean_stage_lifecycle(tmp_path, sf_dir):
    """O5 parity (--clear/Eraser): clean deletes consumed stage tables;
    with --keep-lineage resume still SKIPS the cleaned stage (provenance
    kept, data reclaimed); without it the stage recomputes."""
    inp = os.path.join(sf_dir, "documents.parquet")
    common = ["--kmer-size", "8", "--nb-partitions", "4", "--cores", "8"]
    rd = str(tmp_path / "r")
    _cli(["pipeline", "--input", inp, "--run-dir", rd, "--until", "histogram", *common])
    assert os.path.isdir(os.path.join(rd, "counts"))
    rec = json.loads(_cli(["clean", "--run-dir", rd, "--stages", "counts",
                           "--keep-lineage"]))
    assert rec["removed"] == ["counts"]
    assert not os.path.isdir(os.path.join(rd, "counts"))
    assert os.path.exists(os.path.join(rd, "_lineage", "counts.json"))
    # resume to the same point: counts SKIPS (lineage kept), histogram
    # already done -> no recompute of the cleaned stage
    out = json.loads(_cli(["pipeline", "--input", inp, "--run-dir", rd,
                           "--until", "histogram", *common]))
    assert out["counts"] == "skipped" and out["histogram"] == "skipped"
    # without --keep-lineage the stage recomputes on resume (fresh run:
    # its input stage table must still exist — cleaning an input a later
    # recompute needs fails loudly by design)
    rd2 = str(tmp_path / "r2")
    _cli(["pipeline", "--input", inp, "--run-dir", rd2, "--until", "histogram", *common])
    json.loads(_cli(["clean", "--run-dir", rd2, "--stages", "histogram"]))
    out2 = json.loads(_cli(["pipeline", "--input", inp, "--run-dir", rd2,
                            "--until", "histogram", *common]))
    assert out2["counts"] == "skipped" and out2["histogram"] == "done"


def test_cli_combine_refuses_missing_lineage(tmp_path, sf_dir):
    """ADVICE r2: combine must refuse (not silently skip the compat
    check) when a run has no matrix lineage, unless overridden."""
    inp = os.path.join(sf_dir, "documents.parquet")
    common = ["--kmer-size", "8", "--nb-partitions", "4", "--cores", "8"]
    rd_a, rd_b = str(tmp_path / "a"), str(tmp_path / "b")
    _cli(["pipeline", "--input", inp, "--run-dir", rd_a, "--until", "matrix", *common])
    _cli(["pipeline", "--input", inp, "--run-dir", rd_b, "--until", "matrix", *common])
    os.remove(os.path.join(rd_b, "_lineage", "matrix.json"))
    err = _cli(["combine", "--run-dir", rd_a, "--other", rd_b,
                "--output", str(tmp_path / "c1"), "--cores", "8"], expect_fail=True)
    assert "lineage" in err
    rec = json.loads(_cli(["combine", "--run-dir", rd_a, "--other", rd_b,
                           "--allow-missing-lineage",
                           "--output", str(tmp_path / "c2"), "--cores", "8"]))
    assert rec["rows"] > 0
