"""Count stage: per-(sample, partition) exact shingle counts + histograms.

Reference parity:
* count + hard-min + saturation — A5/A8/P9/P10
  (gatb/sorting_count.hpp:694-884 heap merge ≙ one ``groupBy``;
  count_processor.hpp:64-69 hard-min; :66 saturation).
* histogram (count-of-counts) — A10 (histogram.hpp:34-207).
* data-dependent soft-min thresholds from histogram quantiles —
  histogram.hpp:218-244 / task_scheduler.hpp:388-392.

Everything below is declarative; Catalyst supplies partial (map-side)
aggregation, hash-agg with sort-based spill fallback, and AQE partition
coalescing — the reference implements each of these by hand
(sorting_count.hpp:1028-1305).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmtricks_spark.config import KmConfig
from kmtricks_spark.functions.hashing import part_id_col
from kmtricks_spark.functions.shingles import kgrams_sql


def count_kgrams(df: DataFrame, cfg: KmConfig) -> DataFrame:
    """Exact counts: (part_id, sample_id, kgram, count), count >= hard_min.

    Shingles explode in the JVM (kgrams_sql; bytes mode unless
    kgram_as_string) and Spark's partial aggregation pre-counts them
    map-side — the super-k-mer shuffle compression of the reference.

    Partitioning (R3): part_id = xxhash64(kgram) % P, attached after the
    aggregate, so it places rows without changing what counting costs.
    """
    shingles = kgrams_sql(df, cfg, bytes_mode=not cfg.kgram_as_string)
    if cfg.alphabet == "dna":
        from kmtricks_spark.functions.dna import canonicalize_kgrams

        shingles = canonicalize_kgrams(shingles)
    counts = shingles.groupBy("sample_id", "kgram").agg(
        F.count(F.lit(1)).alias("count")
    )
    counts = counts.withColumn("part_id", part_id_col(F.col("kgram"), cfg.nb_partitions))
    counts = counts.where(F.col("count") >= cfg.hard_min)
    if cfg.max_count:
        counts = counts.withColumn(
            "count", F.least(F.col("count"), F.lit(cfg.max_count)).cast("long")
        )
    return counts.select("part_id", "sample_id", "kgram", "count")


def histogram(
    counts: DataFrame, lower: int | None = None, upper: int | None = None
) -> DataFrame:
    """Per-sample count-of-counts (histogram.hpp:34-207).

    Returns (sample_id, count, n_unique, n_total): n_unique distinct
    kgrams observed `count` times; n_total = count * n_unique.

    With bounds (the reference KHist carries [lower, upper] and its
    vectors span only that range — histogram.hpp:43-70; the pipeline
    default is [1, 255], task_scheduler.hpp:103), only in-bound count
    values appear; pair with histogram_oob for the four out-of-bound
    counters. The bounded form is what keeps a threshold pass
    O(upper - lower) per sample on heavy-tailed count distributions —
    unbounded, a 10^12-doc corpus has millions of distinct count values.
    """
    if lower is not None:
        counts = counts.where(F.col("count") >= lower)
    if upper is not None:
        counts = counts.where(F.col("count") <= upper)
    return counts.groupBy("sample_id", "count").agg(
        F.count(F.lit(1)).alias("n_unique"),
        (F.count(F.lit(1)) * F.col("count")).alias("n_total"),
    )


def histogram_oob(counts: DataFrame, lower: int, upper: int | None) -> DataFrame:
    """Out-of-bound histogram counters, one row per sample — exactly the
    reference's oob_{lu,ln,uu,un} (histogram.hpp:55-70: below-lower /
    above-upper uniques and total occurrences). upper=None means
    unbounded above (the upper counters are identically zero).

    Returns (sample_id, oob_lu, oob_ln, oob_uu, oob_un)."""
    below = F.col("count") < lower
    above = F.col("count") > upper if upper is not None else F.lit(False)
    zero = F.lit(0).cast("long")
    return counts.groupBy("sample_id").agg(
        F.sum(below.cast("long")).alias("oob_lu"),
        F.sum(F.when(below, F.col("count")).otherwise(zero)).alias("oob_ln"),
        F.sum(above.cast("long")).alias("oob_uu"),
        F.sum(F.when(above, F.col("count")).otherwise(zero)).alias("oob_un"),
    )


def thresholds_from_histogram(
    hist: DataFrame, fraction: float, oob: DataFrame | None = None
) -> DataFrame:
    """Float soft-min path: per-sample threshold t such that kgrams with
    count <= t cover `fraction` of that sample's unique kgrams
    (histogram.hpp:218-244 compute_merge_thresholds).

    Returns (sample_id, threshold): smallest count value whose cumulative
    unique share is >= fraction.

    When `hist` is bounded, pass its histogram_oob frame: the reference
    computes the target n = p * unique() over ALL uniques (oob included,
    histogram.hpp:225-226) while the cumulative sum walks only the
    in-bound vector — so oob uniques raise the bar without ever being
    stepped over. A sample whose in-bound mass never reaches the bar
    yields no row (same as the reference's loop running off the vector).
    """
    w_cum = (
        "sum(n_unique) over (partition by sample_id order by count "
        "rows between unbounded preceding and current row)"
    )
    w_tot = "sum(n_unique) over (partition by sample_id)"
    ranked = hist.select(
        "sample_id",
        "count",
        F.expr(w_cum).alias("cum_unique"),
        F.expr(w_tot).alias("tot_unique"),
    )
    if oob is not None:
        extra = oob.select(
            "sample_id", (F.col("oob_lu") + F.col("oob_uu")).alias("_oob_u")
        )
        ranked = ranked.join(F.broadcast(extra), "sample_id", "left").withColumn(
            "tot_unique", F.col("tot_unique") + F.coalesce(F.col("_oob_u"), F.lit(0))
        )
    ranked = ranked.where(F.col("cum_unique") >= F.lit(fraction) * F.col("tot_unique"))
    return ranked.groupBy("sample_id").agg(F.min("count").alias("threshold"))
