"""Matrix post-ops: combine / filter / aggregate / compat check."""

import pytest

from kmtricks_spark.operators.matrix_ops import (
    aggregate,
    check_repart_compat,
    combine,
    filter_matrix,
)


@pytest.fixture(scope="module")
def mats(spark):
    a = spark.createDataFrame(
        [(0, "g1", [1, 2]), (1, "g2", [3, 0])], ["part_id", "kgram", "counts"]
    )
    b = spark.createDataFrame(
        [(0, "g1", [7]), (2, "g3", [9])], ["part_id", "kgram", "counts"]
    )
    return a, b


def test_combine_zero_fill(spark, mats):
    a, b = mats
    got = {r.kgram: (r.part_id, list(r.counts)) for r in combine(a, b, 2, 1).collect()}
    assert got == {
        "g1": (0, [1, 2, 7]),
        "g2": (1, [3, 0, 0]),
        "g3": (2, [0, 0, 9]),
    }


def test_filter_modes(spark, mats):
    a, _ = mats
    key = spark.createDataFrame([("g1", 5), ("gX", 4)], ["kgram", "count"])
    m = {r.kgram: list(r.counts) for r in filter_matrix(a, key, "m").collect()}
    assert m == {"g1": [1, 2, 5]}
    k = {(r.kgram, r["count"]) for r in filter_matrix(a, key, "k").collect()}
    assert k == {("gX", 4)}
    v = {r.kgram: r.key_count for r in filter_matrix(a, key, "v").collect()}
    assert v == {"g1": 5, "g2": 0}
    with pytest.raises(ValueError):
        filter_matrix(a, key, "z")


def test_aggregate_union_and_sorted(spark, mats):
    a, b = mats
    u = aggregate([a, b])
    assert u.count() == 4
    s = [r.kgram for r in aggregate([a, b], sorted_output=True).collect()]
    assert s == sorted(s)


def test_repart_compat():
    ok = {"k": 8, "m": 4, "nb_partitions": 32}
    check_repart_compat(ok, dict(ok))
    with pytest.raises(ValueError):
        check_repart_compat(ok, {**ok, "nb_partitions": 64})
    with pytest.raises(ValueError):
        check_repart_compat(ok, {**ok, "k": 9})
    # lineage of the removed sampled placement: static runs (and their
    # unused minimizer width) still combine, a sampled one on either side
    # is refused, since its part_ids follow a map no longer read
    check_repart_compat({"k": 8, "nb_partitions": 32}, {**ok, "repartition_type": "static"})
    sampled = {**ok, "repartition_type": "sampled"}
    for a, b in ((ok, sampled), (sampled, ok)):
        with pytest.raises(ValueError, match="sampled"):
            check_repart_compat(a, b)

