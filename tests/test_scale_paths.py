"""Scale-path evidence: partition pruning reaches the file level, the
iceberg adapter degrades cleanly, run metadata is written."""

import json
import os

from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.count import count_kgrams
from kmtricks_spark.sources.iceberg import iceberg_available, read_table, write_table


def test_partition_pruning_hits_files(spark, docs, tmp_path):
    cfg = KmConfig(k=8, hard_min=2, nb_partitions=8)
    out = str(tmp_path / "counts")
    count_kgrams(docs, cfg).write.partitionBy("part_id").parquet(out)
    pruned = spark.read.parquet(out).where(F.col("part_id") == 3)
    files = pruned.select(F.input_file_name()).distinct().collect()
    # every file read must come from the part_id=3 directory
    assert files and all("part_id=3" in r[0] for r in files)


def test_iceberg_adapter_fallback(spark, docs, tmp_path):
    assert iceberg_available(spark) in (True, False)
    ref = str(tmp_path / "t.parquet")
    write_table(docs.limit(10), ref)
    assert read_table(spark, ref).count() == 10


def test_run_infos_written(spark, sf_dir, tmp_path, capsys):
    from kmtricks_spark.plans.pipeline import Pipeline

    cfg = KmConfig(k=8, hard_min=2, nb_partitions=4, bloom_bits=1 << 16)
    rd = str(tmp_path / "run")
    Pipeline(spark, cfg, rd, os.path.join(sf_dir, "documents.parquet"), until="pa").run()
    with open(os.path.join(rd, "run_infos.json")) as f:
        rec = json.load(f)
    assert rec["status"]["counts"] == "done" and rec["wall_sec"] > 0
    # per-stage offsets from the run start: counts first, the rest after it
    st = rec["stages"]
    assert list(st) == ["counts", "histogram", "matrix", "pa"]
    assert {s["status"] for s in st.values()} == {"done"}
    for s in st.values():
        assert 0 <= s["start_s"] <= s["end_s"] <= rec["wall_sec"]
    assert all(st[s]["start_s"] >= st["counts"]["end_s"] for s in ("histogram", "matrix", "pa"))
    from kmtricks_spark.cli import main

    main(["infos", "--run-dir", rd])
    info = json.loads(capsys.readouterr().out)
    assert info["stages"]["matrix"]["end_s"] == st["matrix"]["end_s"]
