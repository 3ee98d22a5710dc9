"""Readers/sinks for the web-pages input and stage tables.

Input shape per BASELINE input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string).
The driver's `documents` table (doc_id, text, lang, source, n_chars) is
the small-scale stand-in; `load_pages` normalizes either to the engine's
working schema (url, sample_id, text, lang).

Extraction invariant: `extract_text` is pure and deterministic —
byte-identical `text` per url versus the reference extractor. On the
stand-in tables text is already extracted, so extraction is the identity;
for raw html rows it is a deterministic tag-strip (documented, tested).

Sinks (S4/S5): every stage table is parquet partitioned by part_id where
applicable — the columnar replacement for kmtricks' binary record streams
(io/*_file.hpp) and its KmDir run layout (kmdir.hpp:195-241).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

SCHEMA_FILE = "_schema.json"  # a stage table's read schema, next to its parquet


def extract_text(df: DataFrame) -> DataFrame:
    """Deterministic text extraction from html binary (pure Column expr).

    Minimal tag-strip: decode utf-8, drop <...> spans, collapse runs of
    whitespace, trim. For rows that already carry text, prefer it — the
    byte-identity invariant is then trivially preserved.
    """
    html_txt = F.decode(F.col("html"), "UTF-8")
    stripped = F.trim(
        F.regexp_replace(F.regexp_replace(html_txt, "<[^>]*>", " "), "\\s+", " ")
    )
    return df.withColumn(
        "text", F.coalesce(F.col("text"), stripped)
    )


def load_pages(
    spark: SparkSession,
    path: str,
    sample_col: str | None = None,
    lang: str | None = None,
) -> DataFrame:
    """Load a pages/documents table and normalize to
    (url, sample_id, text, lang). Metadata predicates (S3 analogue —
    the BAM-filter flags become column filters) push down to the scan."""
    df = spark.read.parquet(path)
    cols = set(df.columns)
    if "url" not in cols and "doc_id" in cols:
        df = df.withColumn("url", F.col("doc_id").cast("string"))
    if sample_col is None:
        sample_col = "source" if "source" in cols else "url"
    if "html" in cols and "text" in cols:
        df = extract_text(df)
    out = df.withColumn("sample_id", F.col(sample_col))
    if lang is not None:
        out = out.where(F.col("lang") == lang)
    return out.select("url", "sample_id", "text", *(["lang"] if "lang" in cols else []))


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _read_schema(schema: StructType, partition_by: list[str]) -> StructType:
    """The schema a parquet read of the written table infers: the data
    columns in order, then the partition columns, everything nullable.
    Partition columns keep their written type; the only one used,
    part_id, is an int, which is also the type inference picks."""
    data = [f for f in schema.fields if f.name not in partition_by]
    return _nullable(StructType(data + [schema[c] for c in partition_by]))


def write_stage(
    df: DataFrame, run_dir: str, stage: str, partition_by: list[str] | None = None
) -> dict:
    """Stage sink: parquet under <run_dir>/<stage>/ (KmDir analogue).

    Returns the stage's lineage numbers (plans/lineage.py), observed on
    the write job itself so no read-back scan is needed: ``output_rows``;
    ``checksum``, order-insensitive: the sum over rows of
    xxhash64(columns in name order) mod 2^31, masked to 63 bits; and
    ``partitions``, the
    sorted part ids written, or None for a table not partitioned by
    part_id. The hash sees the same values a read-back would: part_id is
    an int column, which is also the type parquet infers for it.

    After the parquet commit, the table's read schema goes to
    ``<stage>/_schema.json`` (Spark's readers skip ``_`` files), so
    ``read_stage`` starts no schema-inference job."""
    checksum = F.sum(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]) % F.lit(2**31))
    metrics = [
        F.count(F.lit(1)).alias("output_rows"),
        F.coalesce(checksum, F.lit(0)).bitwiseAND(F.lit((1 << 63) - 1)).alias("checksum"),
    ]
    if "part_id" in (partition_by or ()):
        metrics.append(F.sort_array(F.collect_set("part_id")).alias("partitions"))
    obs = Observation()
    w = df.observe(obs, *metrics).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    path = os.path.join(run_dir, stage)
    w.parquet(path)
    with open(os.path.join(path, SCHEMA_FILE), "w") as f:
        f.write(_read_schema(df.schema, partition_by or []).json())
    return {"partitions": None, **obs.get}


def read_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    """Read a table ``write_stage`` wrote, with its recorded schema."""
    path = os.path.join(run_dir, stage)
    with open(os.path.join(path, SCHEMA_FILE)) as f:
        schema = StructType.fromJson(json.load(f))
    return spark.read.schema(schema).parquet(path)
