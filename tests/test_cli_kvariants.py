"""CLI entry smoke + k-width variants (the reference's compile-time
KMER_LIST becomes a plain runtime parameter — prove k independence)."""

import json
import os
import subprocess
import sys

import duckdb
import pytest

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.count import count_kgrams


@pytest.mark.parametrize("k", [3, 16])
def test_count_parity_other_k(spark, sf_dir, k):
    cfg = KmConfig(k=k, hard_min=2)
    got = count_kgrams(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")), cfg
    ).select("sample_id", "kgram", "count")
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        WITH sh AS (
          SELECT source AS sample_id, substring(text, i, {k}) AS kgram
          FROM '{sf_dir}/documents.parquet',
               LATERAL unnest(generate_series(1, length(text) - {k - 1})) AS t(i)
          WHERE length(text) >= {k}
        )
        SELECT sample_id, kgram, count(*)::BIGINT AS count
        FROM sh GROUP BY 1, 2 HAVING count(*) >= 2
        """
    ).df()
    sp = got.toPandas().sort_values(["sample_id", "kgram"]).reset_index(drop=True)
    oc = oracle.sort_values(["sample_id", "kgram"]).reset_index(drop=True)
    assert sp.equals(oc[sp.columns])


def test_cli_pipeline_and_dump(tmp_path, sf_dir):
    rd = str(tmp_path / "clirun")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    r = subprocess.run(
        [
            sys.executable, "-m", "kmtricks_spark.cli", "pipeline",
            "--input", os.path.join(sf_dir, "documents.parquet"),
            "--run-dir", rd, "--kmer-size", "8", "--hard-min", "2",
            "--nb-partitions", "4", "--bloom-size", "65536",
            "--until", "histogram", "--cores", "8",
        ],
        capture_output=True, text=True, timeout=300, env=env,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    status = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert status == {"counts": "done", "histogram": "done"}
    r2 = subprocess.run(
        [sys.executable, "-m", "kmtricks_spark.cli", "dump", "--run-dir", rd,
         "--stage", "histogram", "--limit", "5", "--cores", "4"],
        capture_output=True, text=True, timeout=180, env=env, cwd="/root/repo",
    )
    assert r2.returncode == 0 and "n_unique" in r2.stdout
