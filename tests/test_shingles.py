"""Shingling goldens: exact k-gram multisets, byte-identical extraction
on multibyte UTF-8 (≙ reference kmer_test.cpp round-trips and
task_main.cpp golden counts)."""

from collections import Counter

import pytest

from kmtricks_spark import KmConfig
from kmtricks_spark.functions.shingles import kgrams_sql
from kmtricks_spark.operators.count import count_kgrams


def py_kgrams(text: str, k: int) -> Counter:
    b = text.encode("utf-8")
    return Counter(b[i : i + k] for i in range(len(b) - k + 1))


TINY = [
    ("s1", "abcabcab"),
    ("s1", "zz"),  # shorter than k -> no shingles at k=4
    ("s2", "abcd abcd"),
    ("s2", "café café x"),  # multibyte UTF-8 boundary coverage
]


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(TINY, ["source", "text"])


def expected_kgrams(k: int) -> Counter:
    out = Counter()
    for s, t in TINY:
        out.update({(s, g): c for g, c in py_kgrams(t, k).items()})
    return out


def test_golden_byte_kgrams_sql_bytes(spark, tiny):
    cfg = KmConfig(k=4, kgram_as_string=False)
    got = Counter(
        (r.sample_id, bytes(r.kgram)) for r in kgrams_sql(tiny, cfg, bytes_mode=True).collect()
    )
    assert got == expected_kgrams(4)


def test_shingle_count_identity(spark, tiny):
    # number of byte shingles == total windows
    cfg = KmConfig(k=4, kgram_as_string=False)
    exp = sum(max(len(t.encode("utf-8")) - 3, 0) for _, t in TINY)
    assert kgrams_sql(tiny, cfg, bytes_mode=True).count() == exp


def test_count_kgrams_bytes_on_utf8(spark, tiny):
    # kgram_as_string=False counts byte shingles, multibyte boundaries
    # included
    cfg = KmConfig(k=4, hard_min=1, kgram_as_string=False)
    got = {(r.sample_id, bytes(r.kgram)): r["count"] for r in count_kgrams(tiny, cfg).collect()}
    assert got == dict(expected_kgrams(4))


def test_sql_path_rowcount(spark, tiny):
    cfg = KmConfig(k=4)
    n = kgrams_sql(tiny, cfg).count()
    # char-based: 'café café x' has 11 chars -> 8 windows
    assert n == (8 - 3) + 0 + (9 - 3) + 8


def test_sql_char_ascii_fastpath_equals_char_semantics(spark):
    """The char-mode ASCII byte-slice fast path (r6 optimization) must
    reproduce exact CHARACTER substring semantics on a mixed corpus:
    pure-ASCII docs ride the O(1) byte slice, multibyte docs the char
    fallback — both must equal the naive per-char enumeration."""
    rows = [
        ("s1", "hello world shingles"),
        ("s2", "café déjà vu münchen"),   # fallback branch
        ("s3", "mixed café and ascii"),   # fallback branch
        ("s4", "ascii only text here!"),  # fast-path branch
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    cfg = KmConfig(k=4, kgram_as_string=True)
    got = Counter(
        (r["sample_id"], r["kgram"])
        for r in kgrams_sql(df, cfg).collect()
    )
    want = Counter(
        (s, t[i : i + 4]) for s, t in rows for i in range(len(t) - 3)
    )
    assert got == want
