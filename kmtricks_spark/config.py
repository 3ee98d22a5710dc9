"""Run configuration + SparkSession factory.

Mirrors the option surface of the reference CLI (``src/cli.cpp:121-377``)
as a plain dataclass; the compile-time k/count-width template dispatch of
the reference (``loop_executor.hpp``, ``CMakeLists.txt:25-40``) becomes
runtime parameters here.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field, replace

from pyspark.sql import SparkSession


def round_up(x: int, multiple: int) -> int:
    return ((x + multiple - 1) // multiple) * multiple


@dataclass(frozen=True)
class KmConfig:
    """Engine parameters.

    Reference flags: --kmer-size (cli.cpp:131), --hard-min (cli.cpp:137),
    --soft-min (cli.cpp:228), --recurrence-min (cli.cpp:250),
    --share-min (cli.cpp:256), --nb-partitions (cli.cpp:295),
    --bloom-size (cli.cpp:334), --bitw (cli.cpp:350).
    """

    k: int = 8                    # shingle width in BYTES (ref default 31 for DNA)
    nb_partitions: int = 32       # P; ref floor is 4 (task.hpp:112-115)
    hard_min: int = 2             # drop counts < hard_min at count time
    soft_min: int = 2             # scalar per-sample solidity threshold
    soft_min_by_sample: dict[str, int] = field(default_factory=dict)
    recurrence_min: int = 1       # keep kgram if solid in >= r_min samples
    share_min: int = 0            # rescue non-solid count if solid in >= share_min samples (0=off)
    max_count: int = 2**31 - 1    # count saturation (ref: MAX_C, count_processor.hpp:66)
    hist_lower: int = 1           # KHist lower bound (histogram.hpp:44, ref default 1)
    hist_upper: int = 0           # KHist upper bound (ref default 255); 0 = unbounded
    bloom_bits: int = 10_000_000  # --bloom-size default (cli.cpp:334-338)
    bfc_width: int = 2            # --bitw: packed-count BF cell width
    bloom_mode: str = "bf"        # bf | bft | bfc (--mode hash:{bf,bft,bfc}, cli.cpp:150-199)
    text_col: str = "text"
    sample_col: str = "source"
    kgram_as_string: bool = True  # decode shingles to str (ASCII corpora) vs keep bytes
    alphabet: str | None = None   # None (text) | "dna" (canonical k-mers, ref parity)

    @property
    def window_bits(self) -> int:
        """Per-partition Bloom window, ceil(B/P) rounded up to 64 bits.

        Exactly the reference's HashWindow arithmetic (hash.hpp:31-39) —
        this is what makes per-partition BF slices concatenable into one
        global filter without re-hashing.
        """
        return round_up(math.ceil(self.bloom_bits / self.nb_partitions), 64)

    @property
    def window_bytes(self) -> int:
        return self.window_bits // 8

    @property
    def total_bloom_bits(self) -> int:
        return self.window_bits * self.nb_partitions

    def soft_min_for(self, sample: str) -> int:
        return self.soft_min_by_sample.get(sample, self.soft_min)

    def with_(self, **kw) -> "KmConfig":
        return replace(self, **kw)


# ~120 classes per Pipeline.run + bf_probe, ~105 per curate_run: Spark's 100 thrashes
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    cores: int | None = None,
    app: str = "kmtricks_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Local-mode session tuned like a scaled-down cluster profile.

    On a real cluster these confs move to spark-submit; the plan code is
    identical (nothing here depends on local mode).

    The codegen cache holds ``CODEGEN_CACHE_ENTRIES`` compiled classes
    instead of Spark's 100, and generated class names leave out the
    codegen stage id, so a session that calls ``Pipeline.run`` or
    ``curate_run`` more than once compiles each class once (kmtricks
    compiles its k-width specialisations once, at build time). The cache
    is keyed by the generated source, so it never serves a stale result.
    A session not built here should set the same two confs;
    ``spark.sql.codegen.cache.maxEntries`` is static, so it must be set
    before the session starts.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", ""),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers codegen stages in the order they are planned, which
        # varies: with the id in the class name, the same code misses the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def input_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under `path` via the Hadoop FS API (works for local,
    HDFS, s3a — whatever the session's filesystem is)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(p).getLength())


def auto_partitions(
    spark: SparkSession,
    input_path: str,
    bytes_per_partition: int = 256 << 20,
    floor: int = 4,
    cap: int = 4096,
) -> int:
    """R1: input-stats-driven partition count. The reference sizes P from
    its sampled input stats with a floor of 4 (task.hpp:112-115); here
    P = clamp(ceil(input_bytes / bytes_per_partition), floor, cap) so each
    per-partition artifact (matrix slice, Bloom window group) sees a
    bounded byte budget at any corpus size."""
    b = input_bytes(spark, input_path)
    return min(max(floor, -(-b // bytes_per_partition)), cap)


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
