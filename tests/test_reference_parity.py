"""Golden parity against the reference's OWN test fixture.

kmtricks' integration tests count canonical 31-mers of two FASTA samples
(reference tests/data/{1,2}.fasta, k=31, m=10, abundance min 1) and assert
per-(sample, partition) distinct counts D1={37,46,12,43}, D2={20,21,58,39}
(tests/task_main.cpp:229-339) and merged per-partition {57,67,70,82}
(tests/merge_test.cpp:21-39). Partition membership depends on a canned
GATB repartition table, but the TOTALS are partition-independent:
sum(D1)=138, sum(D2)=138, sum(merged)=276 — plus an explicit golden
k-mer list for partition 0 (task_main.cpp:149-227). This test runs the
reference fixture through OUR pipeline in DNA mode and asserts exactly
those goldens.
"""

import os

import pytest
from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.count import count_kgrams
from kmtricks_spark.operators.merge import merged_long

REF_DATA = "/root/reference/tests/data"

# first entries of the golden partition-0 sorted kmer list, each count 1
# (task_main.cpp:149-175)
GOLDEN_P0 = [
    "AATATACTATATAATATATATAGCGAGGGGG",
    "ACATAATATACTATATAATATATATAGCGAG",
    "ACAGAGACATAATATACTATATAATATATAT",
    "ACAGCAGACAGAGACATAATATACTATATAA",
    "ACGACAGCAGACAGAGACATAATATACTATA",
    "ATATATTATATAGTATATTATGTCTCTGTCT",
]


def read_fasta(path: str) -> list[str]:
    seqs, cur = [], []
    for line in open(path):
        line = line.strip()
        if line.startswith(">"):
            if cur:
                seqs.append("".join(cur))
                cur = []
        else:
            cur.append(line)
    if cur:
        seqs.append("".join(cur))
    return seqs


@pytest.fixture(scope="module")
def dna_counts(spark):
    if not os.path.exists(f"{REF_DATA}/1.fasta"):
        pytest.skip("reference fixture not available")
    rows = [("D1", s) for s in read_fasta(f"{REF_DATA}/1.fasta")] + [
        ("D2", s) for s in read_fasta(f"{REF_DATA}/2.fasta")
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    cfg = KmConfig(k=31, hard_min=1, nb_partitions=4, alphabet="dna")
    return count_kgrams(df, cfg).cache()


def test_per_sample_distinct_totals(dna_counts):
    got = {
        r.sample_id: r.n
        for r in dna_counts.groupBy("sample_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # sum over the golden per-partition counts (task_main.cpp:229-339)
    assert got == {"D1": 37 + 46 + 12 + 43, "D2": 20 + 21 + 58 + 39}


def test_merged_distinct_total(dna_counts):
    cfg = KmConfig(k=31, hard_min=1, soft_min=1, recurrence_min=1, alphabet="dna")
    merged = merged_long(dna_counts, cfg)
    # merged matrix row count (merge_test.cpp:21-39): 57+67+70+82 distinct
    assert merged.select("kgram").distinct().count() == 57 + 67 + 70 + 82


def test_golden_partition0_kmers_present(dna_counts):
    d1 = {
        r.kgram: r["count"]
        for r in dna_counts.where(F.col("sample_id") == "D1").collect()
    }
    for km in GOLDEN_P0:
        assert d1.get(km) == 1, km


def test_canonicalization_order_is_2bit_not_ascii(spark):
    # 'G' > 'T' in the 2-bit encoding (A=0,C=1,T=2,G=3) but 'G' < 'T' in
    # ASCII — a kmer of all G must canonicalize to all C (its revcomp)
    from kmtricks_spark.functions.dna import canonical

    df = spark.createDataFrame([("GGG",), ("ACG",), ("CGT",)], ["kgram"])
    got = {r.kgram: r.c for r in df.select("kgram", canonical(F.col("kgram")).alias("c")).collect()}
    assert got["GGG"] == "CCC"
    assert got["ACG"] == "ACG"   # revcomp CGT; enc(ACG)=013 <= enc(CGT)=132
    assert got["CGT"] == "ACG"


def test_histogram_reference_golden(spark):
    """Reproduces the reference's OWN histogram golden
    (tests/histogram_test.cpp:8-37): counts {1,1,3,9,1,2,2,2,9,5} with
    bounds [1,10] give unique vector {3,3,1,0,1,0,0,0,2,0}, total vector
    {3,6,3,0,5,0,0,0,18,0}, and all four oob counters zero. A second
    corpus with out-of-bound counts pins the oob arithmetic
    (histogram.hpp:55-70 inc())."""
    from kmtricks_spark.operators.count import histogram, histogram_oob

    v = [1, 1, 3, 9, 1, 2, 2, 2, 9, 5]
    r = [3, 3, 1, 0, 1, 0, 0, 0, 2, 0]
    rn = [3, 6, 3, 0, 5, 0, 0, 0, 18, 0]
    counts = spark.createDataFrame(
        [("s", f"k{i}", c) for i, c in enumerate(v)], ["sample_id", "kgram", "count"]
    )
    got = {row["count"]: (row.n_unique, row.n_total)
           for row in histogram(counts, 1, 10).collect()}
    for c in range(1, 11):
        assert got.get(c, (0, 0)) == (r[c - 1], rn[c - 1]), c
    oob = histogram_oob(counts, 1, 10).collect()[0]
    assert (oob.oob_lu, oob.oob_ln, oob.oob_uu, oob.oob_un) == (0, 0, 0, 0)
    # oob case: reference inc() semantics for counts outside [lower,upper]
    v2 = v + [12, 15, 12]
    counts2 = spark.createDataFrame(
        [("s", f"k{i}", c) for i, c in enumerate(v2)], ["sample_id", "kgram", "count"]
    )
    assert {row["count"] for row in histogram(counts2, 1, 10).collect()} <= set(range(1, 11))
    o2 = histogram_oob(counts2, 1, 10).collect()[0]
    assert (o2.oob_lu, o2.oob_ln, o2.oob_uu, o2.oob_un) == (0, 0, 3, 39)
