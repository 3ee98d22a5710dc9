"""Per-stage lineage metadata: the resume contract.

kmtricks persists every stage to its run directory so any (stage, sample,
partition) granularity can be re-run idempotently (kmdir.hpp:195-241,
cmd.hpp:74-272). Our equivalent: each stage writes its table plus a
lineage JSON, ``_lineage/<stage>.json``, with the fields

* ``stage`` and ``params`` (the knobs the stage's output depends on);
* ``output_rows``, ``checksum`` (order-insensitive, 63-bit) and
  ``partitions`` (sorted part ids written, or None for a table not
  partitioned by part_id), all three observed on the stage's write job
  by ``sources.pages.write_stage``, so recording them scans nothing;
* ``ts``, plus any caller extras (``curate_run`` adds its funnel report).

A stage is *complete* iff its lineage exists, its params match, and its
table's write committed — `Pipeline.run` skips complete stages, which is
exactly kill-and-rerun resumability.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import SparkSession

from kmtricks_spark.sources.pages import SCHEMA_FILE

LINEAGE_DIR = "_lineage"


def lineage_path(run_dir: str, stage: str) -> str:
    return os.path.join(run_dir, LINEAGE_DIR, f"{stage}.json")


def write_lineage(
    run_dir: str,
    stage: str,
    params: dict[str, Any],
    observed: dict,
    extra: dict | None = None,
) -> dict:
    """Record a finished stage; ``observed`` is what its ``write_stage``
    returned. Writes JSON only: no Spark job."""
    rec = {"stage": stage, "params": params, **observed, "ts": time.time(), **(extra or {})}
    os.makedirs(os.path.join(run_dir, LINEAGE_DIR), exist_ok=True)
    with open(lineage_path(run_dir, stage), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return rec


def read_lineage(run_dir: str, stage: str) -> dict | None:
    p = lineage_path(run_dir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage_complete(
    spark: SparkSession, run_dir: str, stage: str, params: dict[str, Any]
) -> bool:
    """Complete = lineage exists, params match, and the table's write
    committed: its ``_SUCCESS`` marker exists (a killed write leaves
    none) and so does the read schema ``write_stage`` records after the
    commit (a table written without one recomputes rather than fail at
    ``read_stage``) — OR the stage was explicitly cleaned with its
    lineage kept (`cli.py clean --keep-lineage`, the reference's Eraser
    semantics: consumed stage files are reclaimed and NOT regenerated on
    resume; a downstream stage that still needs the table fails loudly
    at read). Filesystem checks only, no Spark job; ``spark`` stays in
    the signature for existing callers."""
    rec = read_lineage(run_dir, stage)
    if rec is None:
        return False
    if {k: str(v) for k, v in rec["params"].items()} != {k: str(v) for k, v in params.items()}:
        return False
    table = os.path.join(run_dir, stage)
    return bool(rec.get("cleaned")) or all(
        os.path.exists(os.path.join(table, name)) for name in ("_SUCCESS", SCHEMA_FILE)
    )
