"""Bloom-filter stage: windowed hashing -> per-(sample, partition) slices,
plus the bfc variant, the FPR report, per-sample global filters and the
membership probe.

Reference parity (SURVEY §2 A6/A9/P8/P11/P13, S7):
* hash-mode counts   — groupBy over the windowed hash (sorting_count.hpp:
  365-533, 908-997); collisions inside a window merge, as in the ref.
* bf slices          — HashVecProcessor BITSET per hash (count_processor.
  hpp:84-120) as a JVM bitmap_construct_agg build.
* per-sample concat  — howde-style: sample filter = ordered concat of its
  partition windows (howde_utils.hpp:133-185); zero windows for absent
  partitions (merge.hpp:575-600).
* bft                — the reference's per-partition bit transpose
  (merge.hpp:631-644) yields the same sample-major rows as bf, so both
  modes run bf_slices.
* bfc                — ceil(log2(c+1)) packed w-bit cells (packc.hpp:16-43),
  built by the same bitmap build over a window_bits * w bit window.
* fpr                — (1-e^{-n/m}) per (sample, partition) (utils.hpp:
  239-243, task.hpp:849-860).
* probe              — a join on (part_id, sample_id) and a bit read of
  the window, held as 64-bit words.

Every plan here runs in the JVM, with no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kmtricks_spark.config import KmConfig
from kmtricks_spark.functions.hashing import part_id_col, windowed_hash_col

BLOOM_MODES = ("bf", "bft", "bfc")


def check_bfc_width(width: int) -> None:
    """bfc cells pack whole into bytes: the width must divide 8."""
    if width not in (1, 2, 4, 8):
        raise ValueError(f"bfc_width must divide 8 (1, 2, 4 or 8), got {width}")


def hash_counts(counts: DataFrame, cfg: KmConfig) -> DataFrame:
    """(part_id, sample_id, hash_idx, count) — hash-mode aggregation.

    hash_idx is GLOBAL: (xxhash64(kgram) % w) + w*part_id, so every
    downstream artifact is window-anchored and concatenable.
    """
    w = cfg.window_bits
    h = counts.select(
        "part_id",
        "sample_id",
        windowed_hash_col(F.col("kgram"), w, F.col("part_id")),
        "count",
    )
    # repartition on (part_id, sample_id) BEFORE the aggregate: hash
    # partitioning on a subset of the grouping keys satisfies the agg's
    # clustered distribution, AND the downstream grouped builds
    # (bf/bfc_slices group on exactly these two keys), so the whole
    # hash_counts -> slices chain runs on ONE exchange instead of two
    # (agg exchange on 3 keys + slice-build exchange on 2). hash_idx
    # collisions merge in the (single-level) aggregate exactly as
    # before; rows shuffled are the same either way because collisions
    # are rare below full window load.
    return (
        h.repartition("part_id", "sample_id")
        .groupBy("part_id", "sample_id", "hash_idx")
        .agg(F.sum("count").alias("count"))
    )


_BITMAP_BUCKET_BITS = 32768  # bits per bitmap_construct_agg bucket (4 KB)


def _ordered_concat(m: Column, keys: range, n_bytes: int) -> Column:
    """Values of map `m`, each n_bytes long, concatenated in key order
    and zero-filled for absent keys. One variadic concat: a left fold
    would copy the growing prefix once per key (O(n^2) bytes per row).
    The fill right-pads the looked-up value with zero bytes, because a
    zero literal per key would put len(keys) * n_bytes bytes into the
    plan (1.2 MB of plan text at 8 windows of 64 KB)."""
    return F.concat(
        *[
            F.rpad(F.coalesce(F.element_at(m, F.lit(k)), F.lit(b"")), n_bytes, F.lit(b"\x00"))
            for k in keys
        ]
    )


def _window_bitmaps(rows: DataFrame, pos: Column, n_bits: int) -> DataFrame:
    """(part_id, sample_id, n_set, bitmap): one n_bits window per
    (part_id, sample_id) group of `rows`, with bit `pos` (0-based,
    LSB-first per byte — the reference BITSET layout) set for each row.
    A NULL `pos` sets nothing but still yields its group's row.

    Pure-JVM build: bitmap_construct_agg packs bits into fixed 4 KB
    buckets in exactly that layout, so the window is the ordered bucket
    concat (zero-filled for absent buckets) truncated to n_bits / 8
    bytes. When `rows` is hash-partitioned on (part_id, sample_id), as
    hash_counts leaves it, both grouping levels reuse that one exchange.
    """
    n_buckets = -(-n_bits // _BITMAP_BUCKET_BITS)
    # bitmap_* functions are 1-based. Loud failure on a position outside
    # the window (mis-routed or hand-built input): the bucket arithmetic
    # would otherwise silently truncate the bit while still counting it
    # — a silent Bloom false negative downstream
    v = F.when(pos.isNull() | pos.between(0, n_bits - 1), pos + 1).otherwise(
        F.raise_error(
            F.concat(
                F.lit("Bloom build: bit position outside its partition window: "),
                pos.cast("string"),
                F.lit(" (part_id "),
                F.col("part_id").cast("string"),
                F.lit(f", window of {n_bits} bits)"),
            )
        ).cast("long")
    )
    per_bucket = (
        rows.select(
            "part_id",
            "sample_id",
            F.bitmap_bucket_number(v).alias("bucket"),
            F.bitmap_bit_position(v).alias("bitpos"),
        )
        .groupBy("part_id", "sample_id", "bucket")
        .agg(F.bitmap_construct_agg(F.col("bitpos")).alias("bm"))
    )
    live = F.col("bucket").isNotNull()
    return (
        per_bucket.groupBy("part_id", "sample_id")
        .agg(
            F.sum(F.when(live, F.bitmap_count("bm")).otherwise(F.lit(0))).alias("n_set"),
            F.map_from_entries(
                F.collect_list(F.when(live, F.struct("bucket", "bm")))
            ).alias("__m"),
        )
        .select(
            "part_id",
            "sample_id",
            F.col("n_set").cast("long").alias("n_set"),
            _ordered_concat(F.col("__m"), range(1, n_buckets + 1), _BITMAP_BUCKET_BITS // 8)
            .substr(F.lit(1), F.lit(n_bits // 8))
            .alias("bitmap"),
        )
    )


def _local_idx(w: int) -> Column:
    """Window-local index of a hash_counts row: hash_idx minus its anchor."""
    return F.col("hash_idx") - F.col("part_id").cast("long") * F.lit(w)


def bf_slices(hcounts: DataFrame, cfg: KmConfig, min_count: int = 1) -> DataFrame:
    """One Bloom window per (partition, sample): (part_id, sample_id,
    n_set, bitmap). Serves both the bf and the bft modes: the
    reference's bft transpose (merge.hpp:631-644) yields these same
    sample-major rows, byte for byte.

    Because hash_counts pre-partitions on (part_id, sample_id), the
    whole hash_counts -> bf_slices chain is a single shuffle with zero
    Python.

    min_count > 1 masks sub-threshold rows to NULL instead of filtering
    them, so a fully-masked (part, sample) group still yields its
    empty-bitmap row (a pre-filter would drop the group — the contract
    is one row per group present in hcounts)."""
    local = _local_idx(cfg.window_bits)
    if min_count > 1:
        local = F.when(F.col("count") >= min_count, local)
    return _window_bitmaps(hcounts, local, cfg.window_bits)


def bf_concat(slices: DataFrame, cfg: KmConfig) -> DataFrame:
    """Per-sample global filter = slices ordered by part_id, zero-filled.

    (sample_id, total_set, filter binary of window_bytes * P).
    """
    P, w = cfg.nb_partitions, cfg.window_bits
    # same JVM map-assembly shape as bf_slices: one tiny shuffle of
    # (sample, part, window) rows, ordered concat with zero windows for
    # absent partitions (merge.hpp:575-600) — no Python boundary
    return (
        slices.groupBy("sample_id")
        .agg(
            F.sum("n_set").alias("total_set"),
            F.map_from_entries(
                F.collect_list(F.struct("part_id", "bitmap"))
            ).alias("__m"),
        )
        .select(
            "sample_id",
            F.col("total_set").cast("long").alias("total_set"),
            _ordered_concat(F.col("__m"), range(P), w // 8).alias("filter"),
        )
    )


def bfc_slices(hcounts: DataFrame, cfg: KmConfig) -> DataFrame:
    """Counting-BF window per (partition, sample): (part_id, sample_id,
    packed). Cell i holds min(bit_length(count), 2^width - 1)
    (packc.hpp:16-43) in window bits [i*width, (i+1)*width), LSB-first —
    bloom.pack_counts' layout. Built as a bit window of window_bits *
    width bits by the bf_slices bitmap build: bit j of cell i is window
    bit i*width + j. Counts are >= 1, as hash_counts leaves them."""
    w, width = cfg.window_bits, cfg.bfc_width
    check_bfc_width(width)
    cell = F.least(F.length(F.bin(F.col("count"))), F.lit((1 << width) - 1))
    bits = hcounts.select(
        "part_id",
        "sample_id",
        (_local_idx(w) * F.lit(width)).alias("base"),
        F.explode(
            F.filter(F.sequence(F.lit(0), F.lit(width - 1)), lambda j: F.bit_get(cell, j) == 1)
        ).alias("j"),
    )
    return _window_bitmaps(bits, F.col("base") + F.col("j"), w * width).select(
        "part_id", "sample_id", F.col("bitmap").alias("packed")
    )


def fpr_report(slices: DataFrame, cfg: KmConfig) -> DataFrame:
    """Per (sample, partition) FPR from the analytic model (k=1 hash)."""
    w = cfg.window_bits
    return slices.select(
        "part_id",
        "sample_id",
        "n_set",
        F.round(
            F.lit(1.0) - F.exp(-F.col("n_set").cast("double") / F.lit(float(w))), 9
        ).alias("fpr"),
    )


def bf_probe(slices: DataFrame, probes: DataFrame, cfg: KmConfig) -> DataFrame:
    """Distributed membership probe: (sample_id, kgram) rows against the
    per-(partition, sample) slices. Returns (sample_id, kgram, member
    int), one row per probe row.

    Each kgram is routed by the static hash the build used (part_id_col)
    and gets the same window-local index (windowed_hash_col minus the
    window anchor). Probes left-join the slices on (part_id, sample_id)
    and read bit local_idx of the window in the JVM. A probe whose
    (partition, sample) has no slice is member 0.

    The slices enter the join as arrays of 64-bit words, one per 8
    window bytes, parsed once per slice from the bitmap's hex. A joined
    row then reads its word in place: a binary column is copied whole
    into every row that reads it, so reading one byte of the bitmap
    would copy the window (64 KB at perfbench's 2^22 bits over 8
    partitions) once per probe. hex prints byte 0 first, so window bit
    i is bit (7 - i/8 % 8) * 8 + i % 8 of its word (LSB-first bytes,
    as the build lays them out).

    Bloom guarantee under test: member == 1 for every key that was
    inserted (no false negatives) — which makes present-key probes
    exactly oracle-comparable; absent keys may report 1 at the modeled
    FPR.

    The planner picks the join from its size estimates, with no hint:
    for slices read from a run's `bloom` table that is the compressed
    parquet size (257 KB at perfbench's 8 samples x 2^22 bits, while
    the bitmaps take 4.2 MB in memory), so at that scale it broadcasts
    the slices."""
    w = cfg.window_bits
    part = part_id_col(F.col("kgram"), cfg.nb_partitions)
    local = windowed_hash_col(F.col("kgram"), w, part) - part.cast("long") * F.lit(w)
    routed = probes.select("sample_id", "kgram", part, local.alias("local_idx"))
    words = slices.select(
        "part_id",
        "sample_id",
        F.transform(
            F.regexp_extract_all(F.hex("bitmap"), F.lit(".{16}"), F.lit(0)),
            lambda h: F.conv(h, 16, -10).cast("long"),
        ).alias("words"),
    )
    idx = F.col("local_idx")
    word = F.element_at("words", (F.shiftright(idx, 6) + 1).cast("int"))
    bit = F.bit_get(word, ((F.lit(7) - F.shiftright(idx, 3) % 8) * 8 + idx % 8).cast("int"))
    return routed.join(words, ["part_id", "sample_id"], "left").select(
        "sample_id", "kgram", F.coalesce(bit.cast("int"), F.lit(0)).alias("member")
    )
