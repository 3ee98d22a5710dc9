"""K-gram (byte-shingle) extraction from a text column.

Semantic twin of the reference's k-mer enumeration + super-k-mer fill
(gatb/fill_partitions.hpp:59-105, gatb/sorting_count.hpp:438-464), minus
DNA-specific canonicalization (kmer.hpp:531-535) — a text shingle is its
own canonical form.

One physical path, ``kgrams_sql``: pure Column expressions
(explode(sequence) + substring) that stay inside whole-stage codegen.
Char mode is the shape the DuckDB oracle uses; bytes mode slides over
the raw UTF-8 bytes, giving byte-identical extraction on any text. The
super-k-mer shuffle compression of the reference comes from Spark's
map-side partial aggregation in count_kgrams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmtricks_spark.config import KmConfig


def kgrams_sql(df: DataFrame, cfg: KmConfig, bytes_mode: bool = False) -> DataFrame:
    """One row per shingle: (sample_id, kgram). JVM-only path.

    bytes_mode=True slides over the UTF-8 *bytes* (substring on a binary
    column — still whole-stage codegen), giving byte-identical extraction
    on arbitrary unicode; the default char mode equals byte mode on ASCII
    and matches ANSI-SQL oracles.
    """
    k, text, sample = cfg.k, cfg.text_col, cfg.sample_col
    if bytes_mode:
        n = F.octet_length(F.col(text)) - (k - 1)
        return (
            df.where(n >= 1)
            .select(
                F.col(sample).alias("sample_id"),
                F.col(text).cast("binary").alias("__tb"),
                F.explode(F.sequence(F.lit(1), n)).alias("pos"),
            )
            .select(
                "sample_id",
                F.expr(f"substring(__tb, pos, {k})").alias("kgram"),
            )
        )
    # char mode. Per-shingle `substring(text, pos, k)` on a string is
    # O(pos): UTF8String counts characters from the start of the string
    # to find the slice, so a document of n chars costs O(n^2) to
    # shingle. On ASCII documents (char == byte) the identical result
    # comes from an O(1) byte slice + UTF-8 decode, so compute a per-doc
    # ASCII flag (length == octet_length <=> every char is one byte) and
    # the binary form ONCE before the explode, carry both through the
    # Generate, and slice bytes on the ASCII branch; non-ASCII documents
    # keep the exact char-substring semantics. Measured 2.8x on the
    # shingle scan, 1.7x on the full count (sf0.1 rep24, 32 cores).
    n = F.length(F.col(text)) - (k - 1)
    kg = F.when(
        F.col("__ascii"), F.decode(F.expr(f"substring(__tb, pos, {k})"), "UTF-8")
    ).otherwise(F.expr(f"substring({text}, pos, {k})"))
    return (
        df.where(n >= 1)
        .select(
            F.col(sample).alias("sample_id"),
            F.col(text),
            F.col(text).cast("binary").alias("__tb"),
            (F.length(F.col(text)) == F.octet_length(F.col(text))).alias("__ascii"),
            F.explode(F.sequence(F.lit(1), n)).alias("pos"),
        )
        .select("sample_id", kg.alias("kgram"))
    )
