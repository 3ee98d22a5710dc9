"""Similarity search over an embedding column (array<float/double>).

* brute-force cosine top-k — the exactness baseline; dot products as
  JVM higher-order functions (zip_with + aggregate), no Python in the
  scan. One pass over N vectors; fine whenever the query set is small.
* LSH-bucketed ANN (random hyperplanes) — the scale path: 2^bits buckets,
  candidates = same-bucket, plus Hamming-1 multiprobe neighbors when
  ann_pairs(multiprobe=q) is set, verified exactly. At 10^12 rows the
  bucket join replaces the full scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ivf_train's driver-side training-sample hard cap; shared so callers
# (e.g. the curate semantic gate) can bound n_lists by the same number
# instead of duplicating the literal
IVF_MAX_TRAIN_ROWS = 65536


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine to a single query vector (broadcast literal).

    Deterministic ordering: (cosine desc, id asc). Score rounded to 6dp
    so results are stable across summation orders.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q))
    out = df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
    if exclude_id is not None:
        out = out.where(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def cosine_pairs_exact(
    df: DataFrame,
    min_cosine: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (a < b). The O(N^2) verifier /
    small-scale oracle for the LSH and IVF paths — at web scale use
    ann_pairs (bucketed); at oracle scale the cross join is the point."""
    norms = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nv")
    )
    l = norms.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"), F.col("nv").alias("na")
    )
    r = norms.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), F.col("nv").alias("nb")
    )
    pairs = l.join(r, F.col("a") < F.col("b"))
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return pairs.select("a", "b", cos.alias("cosine")).where(F.col("cosine") >= min_cosine)


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    bits: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: sign pattern of `bits`
    projections, one Arrow-batched ``X @ planes.T`` per task (the plane
    matrix ships once in the UDF closure — NOT as bits×dim literal Column
    expressions, which at dim=768/bits=32 would be a 25k-literal plan and
    minutes of codegen)."""
    rng = np.random.default_rng(seed)
    planes_t = rng.standard_normal((bits, dim)).T.copy()  # (dim, bits)
    powers = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf("long")
    def bucket_of(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series(np.empty(0, dtype=np.int64))
        mat = np.vstack(v.to_numpy()).astype(np.float64, copy=False)  # (n, dim)
        proj = mat @ planes_t                                          # (n, bits)
        return pd.Series((proj > 0) @ powers)

    return df.select(
        F.col(id_col), F.col(vec_col), bucket_of(F.col(vec_col)).alias("bucket")
    )


def ivf_train(
    df: DataFrame,
    n_lists: int = 16,
    max_train_rows: int = IVF_MAX_TRAIN_ROWS,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a driver-side sample HARD-CAPPED
    at ``max_train_rows`` regardless of corpus size (the standard IVF
    pattern — training quality needs ~100s of points per list, not the
    corpus; assignment stays distributed). No count() pre-pass: a
    sample(fraction)+limit plan short-circuits once the cap is hit
    (CollectLimit consumes partitions incrementally), so a 10^12-row
    table is neither fully scanned nor fully collected. When the first
    sample undershoots the cap, the sample size itself estimates n:
    corpora that fit under the cap are collected whole via limit (no
    bias — limit returns everything), and mid-size corpora (cap < n <
    10x cap) get a second RANDOM sample at 2x-oversampled fraction —
    never a partition-prefix limit, which would train centroids on a
    biased head of an ordered table. Deterministic seeding."""
    sel = df.select(vec_col)
    first_frac = 0.1
    rows = sel.sample(fraction=first_frac, seed=seed).limit(max_train_rows).collect()
    if len(rows) < max_train_rows:
        n_est = len(rows) / first_frac
        if n_est <= max_train_rows:
            rows = sel.limit(max_train_rows).collect()  # whole corpus, unbiased
        else:
            frac = min(1.0, 2.0 * max_train_rows / n_est)
            rows = sel.sample(fraction=frac, seed=seed).limit(max_train_rows).collect()
    sample = np.array([list(r[0]) for r in rows], dtype=np.float64)
    if sample.shape[0] < n_lists:
        raise ValueError(
            f"ivf_train: {sample.shape[0]} training rows < n_lists={n_lists}"
        )
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(sample.shape[0], size=n_lists, replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(n_lists):
            m = assign == j
            if m.any():
                cents[j] = sample[m].mean(axis=0)
    return cents


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Distributed assignment to the nearest centroid (Arrow-batched
    numpy argmin over the broadcast centroid matrix).

    The UDF is marked non-deterministic (it is deterministic — this is
    the guide §4.4 optimizer pin): every downstream join on list_id
    inserts an isnotnull(list_id) filter, and a filter referencing a
    UDF-computed column makes the optimizer evaluate the UDF once below
    the pushed filter and AGAIN in the projection — two ArrowEvalPython
    nodes per branch, so e.g. semantic_pairs paid the argmin four
    times. The flag forbids the duplication; results are unchanged."""
    from pyspark.sql.types import IntegerType

    cents = centroids.astype(np.float64)

    @F.pandas_udf(IntegerType())
    def nearest(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64, copy=False)
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    nearest = nearest.asNondeterministic()
    return df.select(F.col(id_col), F.col(vec_col), nearest(F.col(vec_col)).alias("list_id"))


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN: scan only the `nprobe` inverted lists nearest to the query —
    at 10^12 rows the list filter is a partition-pruning predicate, the
    exact re-rank touches ~nprobe/n_lists of the data."""
    q = np.asarray(query_vec, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = assigned.where(F.col("list_id").isin(probe))
    return cosine_topk(cand, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def ivf_search_batch(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Batch ANN: a DataFrame of queries against the IVF index in ONE
    distributed plan — the serving shape (ivf_search is the single-query
    convenience wrapper). Per query: its `nprobe` nearest lists (Arrow
    UDF, centroid matrix in the closure), then a join on list_id against
    the assigned corpus — the query side is explicitly broadcast (queries
    x nprobe rows are tiny next to 10^12 corpus rows, and broadcasting
    them means the corpus NEVER shuffles), exact cosine re-rank, window
    top-k per query. nprobe = n_lists degrades gracefully to exact
    brute-force top-k (every list probed), which is what the DuckDB
    oracle pins.

    Returns (q_id, vec_id, cosine, rank), rank 1..k by (cosine desc,
    vec_id) — deterministic ties."""
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, IntegerType

    cents = centroids.astype(np.float64)
    npb = min(nprobe, cents.shape[0])

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_lists(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        mat = np.vstack(v.to_numpy()).astype(np.float64, copy=False)
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d, axis=1)[:, :npb].astype(np.int32)
        return pd.Series(list(idx))

    q = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_vec_col).alias("qv"),
        F.explode(probe_lists(F.col(q_vec_col))).alias("list_id"),
    )
    cand = assigned.join(F.broadcast(q), "list_id")
    cos = _dot(F.col("qv"), F.col(vec_col)) / (_norm(F.col("qv")) * _norm(F.col(vec_col)))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cand.select("q_id", F.col(id_col), F.round(cos, 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ann_pairs(
    sigs: DataFrame,
    min_cosine: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from shared LSH bucket, verified by exact cosine.

    Returns (a, b, cosine), a < b, cosine >= min_cosine.

    Scale shape: the bucket self-join carries IDS ONLY — candidate ids are
    deduplicated first and the full vectors are re-joined once per side
    for the exact verify (the minhash_lsh_pairs shape). A hot bucket thus
    shuffles 16-byte rows, not f x dim doubles, and the dedup happens
    before — not after — the expensive cosine.

    multiprobe=q additionally probes, for each vector, the q buckets that
    differ in exactly one of the first q sign bits (probe-side expansion
    only — one side suffices for Hamming-1 neighbors). Near neighbors that
    straddle a single hyperplane then still become candidates; candidate
    volume grows ~(1+q)x. Use more bits for bigger corpora (bucket
    occupancy ~N/2^bits controls the join fan-out).

    Pass `vectors` (the raw (id, vec) table the signatures came from) so
    the exact-verify side reads it directly — deriving vectors from
    `sigs` re-executes the signature UDF on a branch that discards its
    output (Catalyst does not prune an ArrowEvalPython feeding a pruned
    column). Defaults to `sigs` for API compatibility.
    """
    src = vectors if vectors is not None else sigs
    ids = sigs.select("bucket", F.col(id_col).alias("id"))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(multiprobe)],
        )
        l = ids.select(F.explode(probes).alias("bucket"), F.col("id").alias("a"))
    else:
        l = ids.select("bucket", F.col("id").alias("a"))
    r = ids.select("bucket", F.col("id").alias("b"))
    cand = (
        l.join(r, "bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    va = src.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = src.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    j = cand.join(va, "a").join(vb, "b")
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return j.select("a", "b", F.round(cos, 6).alias("cosine")).where(
        F.col("cosine") >= min_cosine
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    max_train_rows: int = IVF_MAX_TRAIN_ROWS,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication") — drop embeddings whose cosine to a kept
    lower-id vector reaches `threshold`, WITHOUT any all-pairs scan:

    1. IVF k-means clusters the embedding space (driver-capped training
       sample, distributed Arrow-batched assignment — `ivf_train` /
       `ivf_assign`).
    2. Candidate pairs are generated only WITHIN a cluster (equi-join on
       list_id, a < b) and verified with exact JVM-side cosine — the
       pair space is sum(cluster_size^2), bounded by scaling n_lists
       with the corpus, never N^2.
    3. Connected components over the qualifying pairs (large-star/
       small-star) keep each group's minimum id.

    Returns the surviving rows of `df` (left-anti against the drop set,
    like dedup_keep_set). Identical vectors always share a cluster
    (same argmin), so exact-duplicate recall is 1.0 by construction;
    cross-cluster near-dups at the boundary are the documented recall
    trade-off of the published algorithm. The keep/drop decision depends
    only on which pairs clear `threshold`, not on centroid positions —
    exact duplicates pair up under ANY clustering, which is what makes
    the injected-duplicate oracle deterministic.
    """
    pairs = semantic_pairs(
        df, threshold=threshold, n_lists=n_lists, max_train_rows=max_train_rows,
        iters=iters, seed=seed, vec_col=vec_col, id_col=id_col,
    )
    from kmtricks_spark.operators.dedup import dedup_keep_set

    return dedup_keep_set(df, pairs.select("a", "b"), id_col=id_col)


def semantic_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    max_train_rows: int = IVF_MAX_TRAIN_ROWS,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The candidate stage of semantic_dedup, exposed for inspection /
    reuse: (a, b, cosine) with a < b, cosine >= threshold, pairs drawn
    ONLY within an IVF cluster (equi-join on list_id — the plan property
    that replaces the N^2 scan; downstream clustering checkpoints
    eagerly, so pin plan shape HERE, not on semantic_dedup's output)."""
    cents = ivf_train(
        df, n_lists=n_lists, max_train_rows=max_train_rows, iters=iters,
        seed=seed, vec_col=vec_col,
    )
    assigned = ivf_assign(df, cents, vec_col=vec_col, id_col=id_col)
    # ids-only candidate join (the ann_pairs / minhash_lsh_pairs shape):
    # the list_id self-join shuffles 16-byte (list_id, id) rows, never
    # the embedding — a hot IVF cluster previously shuffled f x dim
    # doubles on BOTH sides and held two vectors per candidate row
    # before the a < b filter. The full vectors are re-joined once per
    # side from the RAW input table (not from `assigned`, whose
    # ArrowEvalPython assignment UDF would re-execute on a branch that
    # discards its output) for the exact cosine verify. Each vector
    # lives in exactly one list, so a pair arises from at most one
    # list_id — no dedup step is needed and the pair set is unchanged.
    ids = assigned.select("list_id", F.col(id_col))
    l = ids.select("list_id", F.col(id_col).alias("a"))
    r = ids.select("list_id", F.col(id_col).alias("b"))
    cand = l.join(r, "list_id").where(F.col("a") < F.col("b")).select("a", "b")
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select("a", "b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """int8 scalar quantization of an embedding column — the memory/IO
    scale lever for ANN at 10^12 vectors (4x smaller than float32,
    8x smaller than the float64 compute form; IVF/LSH candidate
    generation runs on the quantized vectors, exact re-rank on the
    originals). Per-vector max-abs scale: q_i = floor(x_i/s*127 + 0.5)
    in [-127, 127]; all-zero vectors get scale 0 and a zero qvec.

    floor(+0.5) instead of round(): floor is IEEE-exact and identical
    across engines, so the full quantized table hash-matches a SQL
    oracle (round() half-case conventions differ by dialect). Pure
    higher-order Column functions — no shuffle, no Python, codegen'd.
    Reconstruction error is bounded by s/254 per component (tested).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(s == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / s * 127 + 0.5).cast("int"))
    )
    return df.select(
        F.col(id_col), s.alias("scale"), q.cast("array<int>").alias("qvec")
    )
