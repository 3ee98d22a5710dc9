"""Staged pipeline: count, then histogram, matrix, pa and bloom at once.

Mirrors `kmtricks pipeline` (task_scheduler.hpp:419-460, stages at
§3.1 of SURVEY.md) with kmtricks' operational semantics:
* every stage persists a parquet table + lineage JSON (resume = skip
  complete stages — the module-command story, cmd.hpp:74-272);
* stages exchange data only through those tables, so after `counts` the
  other four run concurrently from one driver-side pool, as kmtricks'
  count and merge tasks share one task pool (task_pool.hpp:1-122);
  matrix and pa wait for histogram only when `soft_min_quantile` derives
  their thresholds from it;
* `until` gates stages (--until, cli.cpp:265-273);
* `restrict_to` processes a subset of partitions (--restrict-to,
  task_scheduler.hpp:121-160) — partition pruning on part_id;
* data-dependent soft-min: an optional histogram-quantile pass feeding
  per-sample thresholds into the merge (histogram.hpp:218-244).
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from kmtricks_spark.config import KmConfig
from kmtricks_spark.operators.bloom_stage import (
    BLOOM_MODES,
    bf_slices,
    bfc_slices,
    check_bfc_width,
    fpr_report,
    hash_counts,
)
from kmtricks_spark.operators.count import count_kgrams, histogram, thresholds_from_histogram
from kmtricks_spark.operators.merge import count_matrix, merge_stats, pa_matrix
from kmtricks_spark.plans.lineage import stage_complete, write_lineage
from kmtricks_spark.sources.pages import read_stage, write_stage

STAGES = ("counts", "histogram", "matrix", "pa", "bloom")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: KmConfig,
        run_dir: str,
        input_path: str,
        until: str | None = None,
        restrict_to: list[int] | None = None,
        soft_min_quantile: float | None = None,
        restrict_samples: list[str] | None = None,
        export_bf: str | None = None,
        plugin=None,
        plugin_spec: str | None = None,
    ):
        if until is not None and until not in STAGES:
            raise ValueError(f"until must be one of {STAGES}")
        if cfg.bloom_mode not in BLOOM_MODES:
            raise ValueError(f"bloom_mode must be one of {BLOOM_MODES}, got {cfg.bloom_mode!r}")
        if cfg.bloom_mode == "bfc":
            check_bfc_width(cfg.bfc_width)
        if restrict_to is not None and (
            not restrict_to or any(not 0 <= p < cfg.nb_partitions for p in restrict_to)
        ):
            # an id outside [0, P) names no partition: a list of only such
            # ids would write empty tables and report them done
            raise ValueError(
                f"restrict_to must be a non-empty list of partition ids in "
                f"[0, {cfg.nb_partitions}), got {restrict_to!r}"
            )
        if export_bf and cfg.bloom_mode == "bfc":
            raise ValueError(
                "--export-filters is only supported for bloom_mode bf/bft "
                "(per-sample concat applies to bit slices, not packed "
                "counting cells) — silently skipping the export would be "
                "worse than refusing"
            )
        self.spark, self.cfg, self.run_dir = spark, cfg, run_dir
        self.input_path = input_path
        self.until = until
        self.restrict_to = restrict_to
        self.restrict_samples = restrict_samples
        self.soft_min_quantile = soft_min_quantile
        self.export_bf = export_bf
        # the callable never enters lineage params — the SPEC string does
        # (matrix stage only, via _stage_params): a resume with a
        # different plugin recomputes matrix instead of silently reusing
        # the filtered table, while counts/pa/bloom lineage — whose
        # outputs never depend on the plugin — stays valid
        self.plugin = plugin
        self._plugin_spec = plugin_spec
        self._params = {**asdict(cfg), "input": input_path, "restrict": restrict_to,
                        "restrict_samples": restrict_samples,
                        "export_bf": export_bf}
        # matrix and pa's (merge cfg, samples), computed once by whichever
        # of the two concurrent stages needs it first
        self._merge_lock = threading.Lock()
        self._merge = None

    # ---- helpers

    def _done(self, stage: str) -> bool:
        return stage_complete(self.spark, self.run_dir, stage, self._stage_params(stage))

    def _stage_params(self, stage: str) -> dict:
        p = {**self._params, "stage": stage}
        if stage == "matrix":
            p["plugin"] = self._plugin_spec
        if stage in ("matrix", "pa"):
            # _merge_cfg's per-sample soft-min thresholds shape both
            p["soft_min_quantile"] = self.soft_min_quantile
        return p

    def _finish(self, stage: str, observed: dict) -> bool:
        """Record the stage's lineage, last, once all its tables are
        written; returns True (the stage ran)."""
        write_lineage(self.run_dir, stage, self._stage_params(stage), observed)
        return True

    def _restrict(self, df: DataFrame) -> DataFrame:
        if self.restrict_to is not None:
            return df.where(F.col("part_id").isin(self.restrict_to))
        return df

    def _input(self) -> DataFrame:
        df = self.spark.read.parquet(self.input_path)
        if "source" not in df.columns and "url" in df.columns:
            df = df.withColumn("source", F.col("url"))
        if self.restrict_samples is not None:
            # per-sample module granularity (`count --id D1`, cmd.hpp:
            # 164-211): recompute one sample's cells idempotently; the
            # filter prunes at the scan, other samples' lineage untouched
            df = df.where(F.col(self.cfg.sample_col).isin(self.restrict_samples))
        return df

    # ---- stages

    def stage_counts(self) -> bool:
        if self._done("counts"):
            return False
        counts = count_kgrams(self._input(), self.cfg)
        return self._finish(
            "counts", write_stage(counts, self.run_dir, "counts", partition_by=["part_id"])
        )

    def _hist_bounds(self) -> tuple[int, int | None] | None:
        """(lower, upper) when the histogram is bounded in ANY direction —
        upper=0 means unbounded above, lower=1 is the no-op floor (counts
        are >= hard_min >= 1); None when fully unbounded."""
        lower, upper = self.cfg.hist_lower, self.cfg.hist_upper or None
        if upper is None and lower <= 1:
            return None
        return lower, upper

    def stage_histogram(self) -> bool:
        if self._done("histogram"):
            return False
        counts = read_stage(self.spark, self.run_dir, "counts")
        bounds = self._hist_bounds()
        if bounds:
            from kmtricks_spark.operators.count import histogram_oob

            h = histogram(counts, bounds[0], bounds[1])
            write_stage(
                histogram_oob(counts, bounds[0], bounds[1]),
                self.run_dir,
                "histogram_oob",
            )
        else:
            h = histogram(counts)
        return self._finish("histogram", write_stage(h, self.run_dir, "histogram"))

    def _merge_cfg(self) -> KmConfig:
        cfg = self.cfg
        if self.soft_min_quantile is not None:
            hist = read_stage(self.spark, self.run_dir, "histogram")
            oob = None
            if self._hist_bounds():  # bounded histogram: oob uniques raise the bar
                oob = read_stage(self.spark, self.run_dir, "histogram_oob")
            th = thresholds_from_histogram(hist, self.soft_min_quantile, oob=oob)
            overrides = {r.sample_id: int(r.threshold) for r in th.collect()}
            cfg = cfg.with_(soft_min_by_sample=overrides)
        return cfg

    def _samples(self, counts: DataFrame) -> list[str]:
        return sorted(r.sample_id for r in counts.select("sample_id").distinct().collect())

    def _merge_inputs(self, counts: DataFrame) -> tuple[KmConfig, list[str]]:
        with self._merge_lock:
            if self._merge is None:
                self._merge = (self._merge_cfg(), self._samples(counts))
            return self._merge

    def stage_matrix(self) -> bool:
        if self._done("matrix"):
            return False
        counts = self._restrict(read_stage(self.spark, self.run_dir, "counts"))
        cfg, samples = self._merge_inputs(counts)
        m = count_matrix(counts, samples, cfg)
        if self.plugin is not None:
            from kmtricks_spark.operators.plugin import apply_plugin

            # merge-time veto/transform hook (J7): applied to merged
            # rows before persist, the reference's call site
            # (merge.hpp:252-257)
            m = apply_plugin(m, self.plugin)
        observed = write_stage(m, self.run_dir, "matrix", partition_by=["part_id"])
        write_stage(merge_stats(counts, cfg), self.run_dir, "merge_stats")
        return self._finish("matrix", observed)

    def stage_pa(self) -> bool:
        if self._done("pa"):
            return False
        counts = self._restrict(read_stage(self.spark, self.run_dir, "counts"))
        cfg, samples = self._merge_inputs(counts)
        p = pa_matrix(counts, samples, cfg)
        return self._finish("pa", write_stage(p, self.run_dir, "pa", partition_by=["part_id"]))

    def stage_bloom(self) -> bool:
        if self._done("bloom"):
            return False
        counts = self._restrict(read_stage(self.spark, self.run_dir, "counts"))
        hc = hash_counts(counts, self.cfg)
        if self.cfg.bloom_mode == "bfc":
            return self._finish("bloom", write_stage(
                bfc_slices(hc, self.cfg), self.run_dir, "bloom", partition_by=["part_id"]
            ))
        # bft's transposed rows equal bf's slices byte for byte
        observed = write_stage(bf_slices(hc, self.cfg), self.run_dir, "bloom",
                               partition_by=["part_id"])
        slices = read_stage(self.spark, self.run_dir, "bloom")
        write_stage(fpr_report(slices, self.cfg), self.run_dir, "fpr")
        if self.export_bf:
            from kmtricks_spark.sources.howde import export_filters

            export_filters(slices, os.path.join(self.run_dir, "filters"), self.cfg,
                           bf_format=self.export_bf)
        return self._finish("bloom", observed)

    def run(self) -> dict[str, str]:
        """Run `counts`, then the later stages up to `until` concurrently,
        one pool thread each; every stage skips itself when complete.
        Each pool job inherits the caller's Spark local properties (its
        job group included). Waits for every stage, then re-raises the
        first failure in STAGES order; stages that finished keep their
        lineage. Returns {stage: 'done'|'skipped'} in STAGES order and
        writes run_infos.json: wall time, per-stage status with start/end
        offsets in seconds from the run start, and the config
        (run_infos.txt analogue, task_scheduler.hpp:453-457)."""
        t0 = time.perf_counter()
        stages = STAGES[: STAGES.index(self.until) + 1] if self.until else STAGES
        timing = {}

        def call(stage, after=None):
            if after is not None:
                after.result()
            start = time.perf_counter() - t0
            ran = getattr(self, f"stage_{stage}")()
            timing[stage] = {"status": "done" if ran else "skipped",
                             "start_s": round(start, 3),
                             "end_s": round(time.perf_counter() - t0, 3)}

        call("counts")
        futures = {}
        with ThreadPoolExecutor(len(STAGES) - 1, thread_name_prefix="stage") as pool:
            for stage in stages[1:]:
                after = None
                if self.soft_min_quantile is not None and stage in ("matrix", "pa"):
                    after = futures["histogram"]
                # one wrapper per stage: each clones the caller's properties,
                # so a job group one stage sets stays in its own thread
                target = inheritable_thread_target(self.spark)(call)
                futures[stage] = pool.submit(target, stage, after)
        for fut in futures.values():
            fut.result()
        status = {stage: timing[stage]["status"] for stage in stages}
        os.makedirs(self.run_dir, exist_ok=True)
        with open(os.path.join(self.run_dir, "run_infos.json"), "w") as f:
            json.dump(
                {
                    "wall_sec": round(time.perf_counter() - t0, 3),
                    "status": status,
                    "stages": {stage: timing[stage] for stage in stages},
                    "params": {k: str(v) for k, v in self._params.items()},
                    "spark": {
                        "version": self.spark.version,
                        "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
                    },
                },
                f,
                indent=1,
            )
        return status
