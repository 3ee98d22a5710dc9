"""Deduplication operators for web-scale training-data curation.

Exact dedup is a hash group-by; near-dup comes in three flavors —
MinHash+LSH (Jaccard over shingle sets), SimHash (Hamming over weighted
token hashes), and exact n-gram Jaccard (the verifier / small-scale
oracle). All signature computation is Arrow-vectorized (mapInPandas +
numpy); candidate generation is a self-join on band/bucket keys so the
pair space never materializes as N² — the property that matters at 10^12
documents.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from kmtricks_spark.functions.hashing import hash64_np


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one survivor (min id) per identical text.

    Returns (fingerprint, keep_id, n_dups). groupBy(md5) — a single
    shuffle on the 128-bit fingerprint, no skew (hashes are uniform).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ---------------------------------------------------------------- MinHash

def _minhash_schema(id_type=LongType()):
    return StructType(
        [
            StructField("doc_id", id_type),
            StructField("sig", ArrayType(LongType())),
        ]
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 128,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature over byte `shingle_k`-grams.

    One base hash per shingle (vectorized), then `num_hashes` universal-
    hash remixes h_i = a_i*h + b_i (mod 2^64) reduced by min — standard
    one-permutation-free construction, all numpy."""
    rng = np.random.default_rng(42)
    A = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    CHUNK = 16  # hash functions per pass: bounds the (CHUNK, total) temp

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one concatenated buffer for the whole batch; per-doc segments
            # reduced with minimum.reduceat — no per-doc Python loop
            encs = [t.encode("utf-8") for t in pdf[text_col]]
            if not encs:
                yield pd.DataFrame({"doc_id": [], "sig": []})
                continue
            hs, lens = [], []
            for e in encs:
                b = np.frombuffer(e, dtype=np.uint8)
                if b.size < shingle_k:
                    # short doc: its whole (zero-padded) bytes are the one
                    # shingle — distinct short docs get distinct hashes
                    # (all-zeros would alias every short doc to sig {0})
                    pad = np.zeros(shingle_k, dtype=np.uint8)
                    pad[: b.size] = b
                    hs.append(hash64_np(pad[None, :]))
                    lens.append(1)
                else:
                    win = np.lib.stride_tricks.sliding_window_view(b, shingle_k)
                    u = np.unique(hash64_np(win))
                    hs.append(u)
                    lens.append(u.size)
            H = np.concatenate(hs) if hs else np.zeros(0, dtype=np.uint64)
            offsets = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
            n_docs = len(encs)
            sig = np.empty((num_hashes, n_docs), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for c0 in range(0, num_hashes, CHUNK):
                    c1 = min(c0 + CHUNK, num_hashes)
                    remix = A[c0:c1, None] * H[None, :] + B[c0:c1, None]
                    sig[c0:c1] = np.minimum.reduceat(remix, offsets, axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": list(pdf[id_col]),
                    "sig": [sig[:, j].astype(np.int64) for j in range(n_docs)],
                }
            )

    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        gen, schema=_minhash_schema()
    )


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 32, rows_per_band: int = 4, min_jaccard: float = 0.5
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidates; the
    estimated Jaccard (matching signature fraction) filters the pairs.

    Returns (a, b, est_jaccard), a < b. The band self-join shuffles on
    (band, bucket_hash) — cardinality ~documents×bands, never N².

    ``sigs`` is consumed by TWO join shapes (the band self-join and the
    est-jaccard signature re-join): without a materialization the
    signature computation — typically an Arrow mapInPandas — executes
    once per distinct consumer subtree (the band l/r pair shares one
    reused exchange, the doc-id re-join is a second execution). An
    EAGER localCheckpoint (memory+disk blocks, ~1 KB/doc at 128 hashes
    — the natural materialization shape of an LSH pipeline) halves the
    signature cost. localCheckpoint rather than persist() deliberately:
    checkpoint blocks are private to this invocation and are released
    by the ContextCleaner when the frame is garbage-collected (no
    release handle to leak, no CacheManager entry that a later
    identical-plan invocation would silently cache-hit against — each
    call recomputes its signatures exactly once from its inputs), and
    not checkpoint(), which needs a reliable checkpoint directory.
    Failure mode: the blocks live only on the executors, so a lost
    executor fails the call instead of recomputing them. Recovery:
    rerun the call, or run it inside ``curate_run``, whose resume
    restarts at the dedup gate with every upstream gate read back.
    """
    sigs = sigs.localCheckpoint()
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("sig"),
                        b * rows_per_band + 1,
                        rows_per_band,
                    ).cast("string"),
                    b,
                ),
            )
        ).alias("band", "bucket"),
    )
    # candidates carry only ids (signatures re-joined after dedup: keeps
    # the band self-join shuffle narrow even when buckets are hot)
    l = banded.select("band", "bucket", F.col("doc_id").alias("a"))
    r = banded.select("band", "bucket", F.col("doc_id").alias("b"))
    cand = (
        l.join(r, ["band", "bucket"]).where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    pairs = cand.join(sa, "a").join(sb, "b")
    est = (
        F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z)
        )
        / F.size("sig_a")
    ).alias("est_jaccard")
    return pairs.select("a", "b", F.round(est, 6).alias("est_jaccard")).where(
        F.col("est_jaccard") >= min_jaccard
    )


# ---------------------------------------------------------------- SimHash

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Fully batch-vectorized: one concatenated token-hash buffer per Arrow
    batch, per-doc ±1 bit votes via ``np.add.reduceat`` over doc offsets
    (16 bit-positions per pass bounds the temp matrix) — no per-doc or
    per-bit Python in the hot path. Empty docs get simhash 0.
    """
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("simhash", LongType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tok_lists = [t.split() for t in pdf[text_col]]
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            out = np.zeros(len(tok_lists), dtype=np.uint64)
            nonempty = lens > 0
            flat = [tok for toks in tok_lists for tok in toks]
            if flat:
                hs = _token_hashes(flat)  # (total_tokens,) uint64
                seg = lens[nonempty]
                offsets = np.concatenate([[0], np.cumsum(seg)[:-1]]).astype(np.int64)
                val = np.zeros(seg.size, dtype=np.uint64)
                for c0 in range(0, 64, 16):
                    shifts = np.arange(c0, c0 + 16, dtype=np.uint64)
                    bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
                    votes = np.add.reduceat(2 * bits - 1, offsets, axis=0)
                    val |= (
                        (votes > 0).astype(np.uint64) << shifts[None, :]
                    ).sum(axis=1, dtype=np.uint64)
                out[nonempty] = val
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].to_numpy(), "simhash": out.view(np.int64)}
            )

    return df.select(F.col(id_col), text_col).mapInPandas(gen, schema=schema)


def _token_hashes(toks: list[str]) -> np.ndarray:
    """Deterministic 64-bit token hashes, padding-invariant, no per-token
    Python.

    numpy parses the token list straight into a fixed-width UCS4 array
    (C speed); the polynomial then runs over CODEPOINT columns, bucketed
    by exact token length so zero padding never reaches the hash (a
    padded-width hash would make a token's value depend on the batch's
    longest token). Lengths come from Python len(), not np.char.str_len:
    numpy strips trailing NULs, so 'ab\\x00' (a token str.split() can
    produce) would otherwise collide with 'ab' — the true length seeds
    the hash, keeping them distinct."""
    arr = np.asarray(toks, dtype="U")
    n = len(toks)
    maxlen = max(arr.dtype.itemsize // 4, 1)
    u32 = arr.view(np.uint32).reshape(n, maxlen)
    lens = np.array([len(t) for t in toks], dtype=np.int64)
    out = np.empty(n, dtype=np.uint64)
    for L in np.unique(lens):
        idx = lens == L
        out[idx] = hash64_np(u32[idx, : int(L)], seed=int(L))
    return out


def simhash_near_pairs(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 × 16-bit chunks (any pair with
    hamming <= 3 shares at least one exact chunk), verify exact distance.

    Returns (a, b, hamming), a < b."""
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    l = chunks.select("chunk_idx", "chunk", F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    r = chunks.select("chunk_idx", "chunk", F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    cand = (
        l.join(r, ["chunk_idx", "chunk"]).where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .dropDuplicates(["a", "b"])
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming")
    return cand.select("a", "b", ham).where(F.col("hamming") <= max_hamming)


# ------------------------------------------------------- exact n-gram Jaccard

def _word_grams(
    df: DataFrame, n: int, text_col: str, id_col: str, out_id: str = "doc_id"
) -> DataFrame:
    """(id, gram) rows: DISTINCT word n-grams per document, as pure
    Column expressions. Docs with fewer than n tokens contribute zero
    grams (an empty set, never a crash: F.sequence(1, size-(n-1)) on a
    short doc would DESCEND to [1, 0] and slice() throws on index 0)."""
    if n < 1:
        # n=0 would emit the empty gram for EVERY doc (size >= 0 always
        # holds) — downstream, a decontamination gate would then match
        # and drop the whole corpus "successfully"
        raise ValueError(f"n-gram length must be >= 1, got {n}")
    # Build each gram as ONE substring of the normalized text instead of
    # slice(toks, i, n) + concat_ws per position: the slice allocates an
    # n-element array and copies n token strings for every gram, so a
    # T-token doc pays O(T*n) allocations. concat_ws(" ", toks) once per
    # doc plus a cumulative char-offset array makes each gram a single
    # O(gram) copy — and on ASCII docs (char == byte) an O(1)-seek byte
    # slice (string substr with a dynamic start is O(start), the same
    # trap as shingling — see functions/shingles.py). Measured 2.3x on
    # the decontamination gram scan; output strings identical (a gram IS
    # the " "-join of its n tokens either way).
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = (
        df.select(F.col(id_col).alias(out_id), toks.alias("__tk"))
        .withColumn("__norm", F.concat_ws(" ", F.col("__tk")))
        .withColumn("__nb", F.col("__norm").cast("binary"))
        .withColumn("__ascii", F.length("__norm") == F.octet_length("__norm"))
        .withColumn(
            "__offs",
            F.aggregate(
                F.col("__tk"),
                F.array(F.lit(1)),
                lambda acc, t: F.concat(
                    acc, F.array(F.element_at(acc, -1) + F.length(t) + 1)
                ),
            ),
        )
    )

    def gram(i):
        st = F.element_at(F.col("__offs"), i)
        ln = F.element_at(F.col("__offs"), i + n) - st - 1
        return F.when(
            F.col("__ascii"), F.decode(F.col("__nb").substr(st, ln), "UTF-8")
        ).otherwise(F.col("__norm").substr(st, ln))

    gram_arr = F.when(
        F.size("__tk") >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size("__tk") - (n - 1)), gram)
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(out_id, F.explode(gram_arr).alias("gram"))


def benchmark_contamination(
    df: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Test-set decontamination screen — the n-gram collision rule of
    GPT-3-style corpus hygiene (Brown et al. 2020 App. C; Lee et al.
    2022 §6): flag every training document sharing at least one distinct
    word n-gram with a benchmark text. Returns (doc_id, bench_id,
    n_shared_grams); threshold / anti-join downstream to drop or report.

    Scale shape: benchmark gram sets are tiny next to a 10^12-doc corpus
    (eval suites are MBs), so they ride a broadcast — corpus grams
    stream past the hash join map-side and the corpus is NEVER shuffled;
    the only exchange is the final count agg whose cardinality is the
    contaminated (doc, bench) pairs, not the corpus. n >= 8 keeps grams
    rare enough that no stop-gram cap is needed (the reason the
    published rule uses long grams)."""
    cg = _word_grams(df, n, text_col, id_col, "doc_id")
    bg = _word_grams(bench, n, bench_text_col, bench_id_col, "bench_id")
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for pairs sharing >= 1 n-gram.

    |A∩B| via a self-join on distinct n-grams (inverted-index shape:
    shuffle on the n-gram, pairs generated only inside posting lists);
    |A∪B| = |A|+|B|−|A∩B|. Returns (a, b, jaccard) with a < b.

    ``max_df`` drops grams appearing in more than that many documents
    before the self-join (standard inverted-index stop-gram cap): a gram
    shared by f docs emits f^2 candidate rows, so one universal gram is
    quadratic at corpus scale. With the cap, both |A∩B| and the doc sizes
    use the capped gram universe — exact Jaccard over non-stop grams. Set
    it in the scale path, leave None for the exact verifier/oracle role.

    Docs with fewer than n tokens contribute zero grams (an empty gram
    set, never a crash: F.sequence(1, size-(n-1)) on a short doc would
    DESCEND to [1, 0] and slice() throws on index 0).
    """
    grams = _word_grams(df, n, text_col, id_col, "doc_id")
    if max_df is not None:
        # stop-gram list via groupBy + anti-join, NOT count().over(
        # partitionBy("gram")): the window ships a hot gram's ENTIRE
        # posting list (10^8+ rows for a universal gram at corpus scale)
        # into one sort task before dropping it — the exact skew it is
        # meant to neutralize. The aggregate keeps per-gram state at one
        # counter (map-side partial combine; only counts shuffle) and the
        # stop list is small by construction (grams in > max_df docs), so
        # the anti-join broadcasts. Same shape as duplicate_spans below.
        stop = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("gram_df"))
            .where(F.col("gram_df") > max_df)
            .select("gram")
        )
        grams = grams.join(F.broadcast(stop), "gram", "left_anti")
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    l = grams.select(F.col("gram"), F.col("doc_id").alias("a"))
    r = grams.select(F.col("gram"), F.col("doc_id").alias("b"))
    inter = (
        l.join(r, "gram").where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # NO broadcast hint on sa/sb: they are per-document tables (one row
    # per doc), so a forced broadcast is corpus-cardinality — a driver
    # OOM at 10^12 docs. Unhinted, AQE broadcasts them at small scale
    # from MEASURED sizes and shuffle-joins at corpus scale; both sides
    # of the join shuffle on uniform doc ids, which is the correct
    # fallback shape.
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_grams").alias("nb"))
    j = (
        inter.join(sa, "a").join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6),
        )
    )
    return j.where(F.col("jaccard") >= min_jaccard).select("a", "b", "jaccard")


# ------------------------------------------------- duplicate clustering

def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over duplicate pairs -> (id, cluster_id),
    cluster_id = the minimum id reachable from `id`. The missing last
    step of every near-dup pipeline: LSH/SimHash/ANN emit PAIRS, but the
    keep/drop decision needs CLUSTERS (a-b + b-c must drop two of
    {a,b,c}, not one). Only ids that appear in some pair are returned
    (singletons are their own cluster by definition and never shuffle).

    Algorithm: alternating large-star/small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond", Alg. 2). Edges live
    in canonical directed form (u, v) with u > v. Each round:
    large-star rewires every strictly-larger neighbor of u to
    m = min(closed neighborhood of u); small-star then rewires u's
    smaller neighbors (and u itself) to their minimum. Both halves are a
    groupBy-min plus an id-row join — never the pair space — and the
    edge count is non-increasing, so per-round cost shrinks. Converges to
    a star forest (every node points at its component minimum) in
    O(log n) rounds on ANY graph shape, including the deep chains that
    min-label propagation needs diameter rounds for. Raises if max_iter
    rounds do not converge.

    localCheckpoint (not cache) each round: caching keeps the LOGICAL
    plan, which doubles in depth every iteration and overwhelms Catalyst
    after ~20 rounds (the classic iterative-DataFrame trap); an eager
    local checkpoint truncates lineage to the materialized blocks,
    keeping round r's plan the same size as round 1's. Its blocks are
    private to the call (not persist(), whose CacheManager entry a later
    identical plan would hit) and need no reliable checkpoint directory
    (not checkpoint()). Failure mode: a lost executor fails the call
    instead of recomputing the blocks; recovery is to rerun it, or to
    run it inside ``curate_run``, whose resume restarts at the dedup
    gate.
    """
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    n_prev = edges.count()
    for _ in range(max_iter):
        # large-star over the symmetrized neighborhoods
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        # emitted (v, m) always has v > u >= m, so it is already canonical
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the canonical (larger -> smaller) edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .where(F.col("x") != F.col("y"))
            .union(mins2.select(F.col("u").alias("x"), F.col("m").alias("y")))
        )
        new_edges = (
            small.select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        n_new = new_edges.count()
        converged = n_new == n_prev and new_edges.subtract(edges).count() == 0
        edges.unpersist()
        edges, n_prev = new_edges, n_new
        if converged:
            # star forest: leaves point at their root; roots label themselves
            leaves = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
            roots = (
                edges.select(F.col("v").alias("id")).distinct()
                .select("id", F.col("id").alias("cluster_id"))
            )
            return leaves.union(roots)
    edges.unpersist()
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds — "
        "star contraction is O(log n), so raise max_iter"
    )


def dedup_keep_set(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Apply near-dup clustering as a curation decision: keep the minimum
    id of every duplicate cluster plus every unpaired document. Returns
    the surviving rows of `df` (a left-anti join against the drop set —
    the drop set is tiny relative to the corpus, never the other way
    round)."""
    drops = (
        dup_clusters(pairs)
        .where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(drops, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    span: int = 40,
    stride: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-SPAN detection — the substring-level dedup
    primitive (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") in its Spark-friendly strided form: instead
    of a global suffix array, every strided fixed-length span is hashed
    (md5 — portable to any SQL oracle) and grouped across the corpus;
    spans occurring in >= min_docs DISTINCT documents are flagged with
    their positions. Doc-level dedup misses this case entirely: two
    documents sharing one boilerplate paragraph are not near-dups, but
    the shared paragraph is still memorization fuel.

    Returns (doc_id, pos, span_hash) for every flagged occurrence
    (1-based pos). Plan shape: explode -> spans PERSISTED (memory+disk),
    then two shuffles on the uniform span_hash — the distinct-doc
    aggregate and the semi-join probe. Without the persist the two
    branches cannot share an exchange (different children) and the
    scan + one md5 per strided span would execute twice. The persisted
    handle rides on the result as ``._km_persisted`` — callers done with
    the result (e.g. after a checkpoint cut the lineage) should call
    ``release_persisted(result)`` to free the executor cache instead of
    leaking it across corpora. span/stride trade recall for cost
    (stride=1 is exhaustive, stride=span is disjoint-block screening).
    """
    from pyspark.storagelevel import StorageLevel
    c = F.col(text_col)
    n = F.length(c) - (span - 1)
    # md5 hashes the UTF-8 bytes whether fed a string or a binary, so on
    # ASCII docs (char == byte) each span hash can come from an O(1)
    # byte slice of the pre-cast binary instead of the O(pos) char-seek
    # string substring (the shingling trap — functions/shingles.py);
    # non-ASCII docs keep exact char-substring semantics
    ascii_doc = F.length(c) == F.octet_length(c)
    tb = c.cast("binary")
    span_hash = lambda i: F.when(  # noqa: E731
        F.col("__ascii"), F.md5(F.col("__tb").substr(i, F.lit(span)))
    ).otherwise(F.md5(F.substring(c, i, span)))
    spans = df.where(n >= 1).select(
        F.col(id_col).alias("doc_id"),
        c,
        tb.alias("__tb"),
        ascii_doc.alias("__ascii"),
        F.explode(F.sequence(F.lit(1), n, F.lit(stride))).alias("i"),
    ).select(
        "doc_id",
        F.col("i").alias("pos"),  # the exploded value IS 1 + k*stride
        span_hash(F.col("i")).alias("span_hash"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # distinct-doc count via groupBy + semi-join, NOT a collect_set
    # window: a boilerplate span shared by millions of docs would give
    # every one of its rows a million-element set; the aggregate keeps
    # per-hash state at one counter and both sides shuffle on the same
    # uniform key
    hot = (
        spans.groupBy("span_hash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("span_hash")
    )
    out = spans.join(hot, "span_hash", "left_semi").select("doc_id", "pos", "span_hash")
    out._km_persisted = spans  # release_persisted() frees the shared cache
    return out


def release_persisted(df: DataFrame) -> None:
    """Unpersist the internal cache an operator attached to its result
    (``._km_persisted``); no-op for frames without one. The counterpart
    of duplicate_spans' exchange-sharing persist: call it once the
    result has been materialized (count/checkpoint/write) so repeated
    invocations in one session do not accumulate executor cache."""
    p = getattr(df, "_km_persisted", None)
    if p is not None:
        p.unpersist()


def merge_dup_spans(spans_flagged: DataFrame, span: int = 40) -> DataFrame:
    """Coalesce flagged span occurrences into maximal duplicated
    INTERVALS per doc (gaps-and-islands): occurrences [pos, pos+span)
    that overlap or touch merge into one interval. Returns
    (doc_id, start, end_excl, n_spans). With a fixed span length the
    interval ends are monotone in pos, so a lag of the previous end is
    an exact island detector (no running-max needed). One shuffle on
    doc_id; per-doc window state is the doc's own flagged spans."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.lag(F.col("pos") + span).over(w)
    brk = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spans_flagged.select("doc_id", "pos")
        .withColumn("__isl", F.sum(brk).over(run))
        .groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + span).alias("end_excl"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .drop("__isl")
    )


def dup_span_coverage(
    df: DataFrame,
    spans_flagged: DataFrame,
    span: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc duplicated-character fraction — the signal substring-level
    dedup actually thresholds on (Lee et al. 2022 trim/drop decisions):
    merged duplicate intervals' total length over doc length. Returns
    (doc_id, length, dup_chars, coverage) for EVERY row of df (0.0 when
    nothing flagged). Intervals are disjoint by construction, so the
    sum never exceeds the doc length."""
    cov = (
        merge_dup_spans(spans_flagged, span)
        .groupBy("doc_id")
        .agg(F.sum(F.col("end_excl") - F.col("start")).alias("dup_chars"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.length(text_col).alias("length"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "length",
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.round(F.coalesce("dup_chars", F.lit(0)) / F.col("length"), 6).alias(
                "coverage"
            ),
        )
    )


def trim_dup_spans(
    df: DataFrame,
    spans_flagged: DataFrame,
    span: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "trimmed",
) -> DataFrame:
    """The TRIM half of the Lee et al. 2022 substring-dedup decision:
    instead of dropping a high-coverage document (dup_span_coverage +
    threshold), REMOVE its merged duplicated intervals and keep the
    unique remainder. Returns (id, out_col) for every row of df —
    unflagged docs keep their text verbatim; fully-covered docs trim
    to ''.

    Shape: merged intervals per doc (merge_dup_spans — one doc_id
    shuffle), complement segments via a lag window (interval ends are
    disjoint and sorted, so the gap before each interval plus the tail
    after the last IS the kept set), per-segment substring, then ordered
    reassembly with array_sort(collect_list(struct(start, piece))) —
    per-doc aggregation state is the doc's own segment list (bounded by
    its flagged-span count), never corpus-scale.
    """
    iv = merge_dup_spans(spans_flagged, span)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__len"),
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    segs = iv.select(
        "doc_id",
        F.coalesce(F.lag("end_excl").over(w), F.lit(1)).alias("ss"),
        F.col("start").alias("se"),
    )
    tail = (
        iv.groupBy("doc_id").agg(F.max("end_excl").alias("ss"))
        .join(base.select("doc_id", "__len"), "doc_id")
        .select("doc_id", "ss", (F.col("__len") + 1).alias("se"))
    )
    pieces = (
        segs.unionByName(tail)
        .where(F.col("se") > F.col("ss"))
        .join(base.select("doc_id", "__t"), "doc_id")
        .select(
            "doc_id", "ss",
            F.col("__t").substr(F.col("ss"), F.col("se") - F.col("ss")).alias("piece"),
        )
    )
    agg = pieces.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ss", "piece"))),
                lambda s: s["piece"],
            ),
        ).alias("__txt")
    )
    flagged = iv.select("doc_id").distinct().withColumn("__f", F.lit(1))
    return (
        base.join(flagged, "doc_id", "left")
        .join(agg, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.when(F.col("__f").isNull(), F.col("__t"))
            .otherwise(F.coalesce(F.col("__txt"), F.lit("")))
            .alias(out_col),
        )
    )


def dup_span_stats(spans_flagged: DataFrame) -> DataFrame:
    """Per-doc rollup of duplicate_spans: (doc_id, n_dup_spans,
    n_distinct_dup_spans, min_pos) — the screening signal a curation
    pass thresholds on."""
    return spans_flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.count_distinct("span_hash").alias("n_distinct_dup_spans"),
        F.min("pos").alias("min_pos"),
    )
