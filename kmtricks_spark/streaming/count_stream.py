"""Structured Streaming variants of the counting pipeline.

The reference is strictly batch (SURVEY §2.6); streaming is a
north-rule-era addition for continuously-arriving page crawls. The same
logical plan (shingle -> count) runs over readStream sources; HLL
registers are a native streaming max aggregate, and the CMS payload is
Spark-managed state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from kmtricks_spark.config import KmConfig
from kmtricks_spark.functions.shingles import kgrams_sql
from kmtricks_spark.sketches.spark import hll_registers

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_docs(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_counts(docs: DataFrame, cfg: KmConfig) -> DataFrame:
    """Continuous shingle counting (update-mode aggregate state)."""
    shingles = kgrams_sql(docs, cfg)
    return shingles.groupBy("sample_id", "kgram").agg(F.count(F.lit(1)).alias("count"))


def stateful_streaming_hll(docs: DataFrame, cfg: KmConfig, p: int = 12) -> DataFrame:
    """Distinct-shingle HLL registers per sample as a streaming register-max
    aggregate (sketches/spark.py ``hll_registers`` over the stream): Spark
    keeps (sample_id, idx) -> max(rank) as native state, so it scales with
    executors and survives checkpoint/restart. A register max does not
    depend on batching, so the complete-mode sink holds exactly the batch
    registers; ``hll_payload`` + ``hll_estimate_col`` over the sink give
    the estimate."""
    hashed = kgrams_sql(docs, cfg).select("sample_id", F.xxhash64("kgram").alias("h"))
    return hll_registers(hashed, ["sample_id"], "h", p)


def stateful_streaming_cms(
    docs: DataFrame,
    probe_hashes: list[int],
    width: int = 2048,
    depth: int = 5,
    sample_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Continuous per-sample token heavy-hitter estimates with the CMS
    payload as SPARK-MANAGED state (applyInPandasWithState): each
    micro-batch folds its token hashes into the group's sketch, then
    reports the current estimate for every probe.

    `probe_hashes` = xxhash64 of the tracked tokens (computed once,
    batch-side; the stream must use the same hash). Cell-sum merge is
    associative, so the final state equals the batch CMS exactly and the
    never-underestimate / <= exact + eps*N guarantees carry over across
    any micro-batch slicing — pinned by the streaming-vs-batch test.
    Emits (sample_id, probe_hash, cms_est, updates); consumers take each
    group's latest `updates` row."""
    import numpy as np
    import pandas as pd

    from kmtricks_spark.sketches import cms

    probes = np.array(probe_hashes, dtype=np.int64).view(np.uint64)
    out_schema = StructType(
        [
            StructField("sample_id", StringType()),
            StructField("probe_hash", LongType()),
            StructField("cms_est", LongType()),
            StructField("updates", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("payload", BinaryType()), StructField("updates", LongType())]
    )

    def update(key, pdfs, state):
        if state.exists:
            payload, n_upd = state.get
            st = cms.deserialize(bytes(payload))
        else:
            st, n_upd = cms.create(width=width, depth=depth), 0
        for pdf in pdfs:
            hs = pdf["h"].to_numpy().astype(np.int64).view(np.uint64)
            cms.add_hashes(st, hs)
        n_upd += 1
        state.update((bytearray(cms.serialize(st)), n_upd))
        est = cms.query(st, probes)
        yield pd.DataFrame(
            {
                "sample_id": key[0],
                "probe_hash": probes.view(np.int64),
                "cms_est": est.astype(np.int64),
                "updates": np.int64(n_upd),
            }
        )

    toks = docs.select(
        F.col(sample_col).alias("sample_id"),
        F.explode(F.filter(F.split(text_col, " "), lambda t: t != "")).alias("tok"),
    )
    hashed = toks.select("sample_id", F.xxhash64("tok").alias("h"))
    return hashed.groupBy("sample_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def run_available_now(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain the currently-available input into an in-memory table and
    stop — the batch-equivalence test harness for streaming plans."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
