"""End-to-end corpus curation: quality -> rules -> language -> dedup.

The composition a training-data pipeline actually runs over raw pages
(the `curation_pipeline` query is the oracle-pinned core of it): each
stage is one of this repo's oracled operators, chained as DataFrame
transformations so Catalyst fuses the scalar filters into the scan and
the only shuffles are the ones dedup inherently needs (md5 groupBy, or
the LSH band join + star-contraction clustering for near-dup mode).

Two entry points run the same gate loop (`_funnel` over `_gate_table`)
and differ only in how a gate's survivors are materialized:
* `curate(df, ...)` — in-session funnel: one localCheckpoint per gate,
  with the gate's survivor count observed on that job; returns
  (survivors, report).
* `curate_run(spark, run_dir, input_path, ...)` — persisted-stage
  funnel with the count pipeline's resume story (stage parquet tables +
  lineage JSON + kill-rerun skip, plans/lineage.py): each enabled gate
  writes its survivors under <run_dir>/<stage>/ and a lineage record
  holding the rows observed on that write and the funnel report so far;
  a re-run with identical params skips completed gates and rebuilds
  the report from lineage.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kmtricks_spark.functions.text import gopher_keep_col, lang_guess_col, quality_col

CURATE_STAGES = ("scalar", "domain", "dedup", "semantic", "span", "decontam")


# ------------------------------------------------------------ gate bodies

def _scalar_gates(
    min_quality: float | None, gopher: bool, langs: list[str] | None, text_col: str
) -> list[tuple[str, Column]]:
    """(report_key, predicate) per enabled scalar gate, in funnel order."""
    gates: list[tuple[str, Column]] = []
    if min_quality is not None:
        gates.append(("after_quality", quality_col(text_col) >= min_quality))
    if gopher:
        gates.append(("after_gopher", gopher_keep_col(text_col)))
    if langs:
        gates.append(("after_lang", lang_guess_col(text_col).isin(list(langs))))
    return gates


def _scalar_pass(
    df: DataFrame, gates: list[tuple[str, Column]]
) -> tuple[DataFrame, Callable[[], dict]]:
    """Scalar-gate survivors and their funnel counts from ONE corpus
    scan: gate flags are computed once per row in a projection, and the
    funnel counts (input + running-conjunction stage counts, identical
    to sequential gate application) ride the job that materializes the
    survivors as observed metrics (CollectMetrics). Returns the lazy
    survivors and ``counts``, which returns the report ({input, after_*})
    once that job has finished. The metrics see every input row: the filter sits above the
    observe node, so Catalyst cannot push it past the metrics."""
    conj_flags: list[tuple[str, Column]] = []
    conj = None
    for name, pred in gates:
        conj = pred if conj is None else (conj & pred)
        conj_flags.append((name, conj))
    flag_names = [f"__g{i}" for i in range(len(conj_flags))]
    flagged = df.select("*", *[c.alias(fn) for (_, c), fn in zip(conj_flags, flag_names)])
    obs = Observation()
    # count(when(...)), not sum(when/otherwise): an EMPTY corpus then
    # reports 0 per gate instead of null
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("input"),
        *[
            F.count(F.when(F.col(fn), F.lit(1))).alias(name)
            for (name, _), fn in zip(conj_flags, flag_names)
        ],
    )
    # obs.get blocks until the materializing job completes
    return observed.where(F.col(flag_names[-1])).drop(*flag_names), lambda: obs.get


def _domain_gate(
    kept: DataFrame, max_docs_per_domain: int, url_col: str, id_col: str
) -> DataFrame:
    # RefinedWeb-style per-domain cap; placed before dedup so a spam
    # domain's million near-identical pages never reach the (more
    # expensive) signature/clustering stages
    if url_col not in kept.columns:
        raise ValueError(
            f"domain cap needs a URL column {url_col!r} in the input"
        )
    from kmtricks_spark.operators.sampling import cap_per_domain

    return cap_per_domain(kept, k=max_docs_per_domain, url_col=url_col, id_col=id_col)


def _dedup_gate(
    kept: DataFrame, dedup: str, min_jaccard: float,
    text_col: str, id_col: str,
) -> DataFrame:
    if dedup == "exact":
        from kmtricks_spark.operators.dedup import exact_dedup

        keep_ids = exact_dedup(kept, text_col=text_col, id_col=id_col).select(
            F.col("keep_id").alias(id_col)
        )
        return kept.join(keep_ids, id_col)
    if dedup == "minhash":
        from kmtricks_spark.operators.dedup import (
            dedup_keep_set,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        # spread before the signature mapInPandas: a freshly-scanned
        # parquet often has ~1 row group and would compute every
        # signature on one core
        src = kept.select(id_col, text_col).repartition(
            kept.sparkSession.sparkContext.defaultParallelism
        )
        sigs = minhash_signatures(src, id_col=id_col, text_col=text_col)
        pairs = minhash_lsh_pairs(sigs, min_jaccard=min_jaccard)
        return dedup_keep_set(kept, pairs.select("a", "b"), id_col=id_col)
    raise ValueError(f"dedup must be None|exact|minhash, got {dedup!r}")


def _semantic_gate(
    kept: DataFrame, semantic: float, vec_col: str, id_col: str,
    survivors: int, n_lists: int | None,
) -> DataFrame:
    # SemDeDup gate over an embedding column riding on the corpus rows:
    # IVF-clustered within-cluster cosine pruning, no all-pairs.
    # n_lists=None adapts: min(16, survivors) keeps the trainer fed on
    # small survivor sets; at corpus scale the caller MUST raise it
    # (semantic_n_lists / --semantic-n-lists) or the within-cluster
    # pair space degrades toward N^2/16. survivors==0 short-circuits
    # (nothing to dedup; ivf_train on an empty frame would raise).
    if vec_col not in kept.columns:
        raise ValueError(
            f"semantic dedup needs an embedding column {vec_col!r} in the input"
        )
    if survivors == 0:
        return kept
    from kmtricks_spark.operators.similarity import IVF_MAX_TRAIN_ROWS, semantic_dedup

    # explicit n_lists is still capped by the survivor count AND by
    # ivf_train's training-sample hard cap (max_train_rows=65536):
    # ivf_train cannot place more centroids than it has training rows,
    # and it never collects more than the cap — a corpus-sized value
    # would otherwise crash AFTER the upstream gates already ran
    cap = 16 if n_lists is None else int(n_lists)
    return semantic_dedup(
        kept,
        threshold=semantic,
        n_lists=max(1, min(cap, int(survivors), IVF_MAX_TRAIN_ROWS)),
        vec_col=vec_col,
        id_col=id_col,
    )


def _span_gate(
    kept: DataFrame, max_dup_coverage: float, span: int, stride: int,
    text_col: str, id_col: str, span_action: str = "drop",
) -> DataFrame:
    """Survivors carrying duplicate_spans' persisted span frame as
    ``._km_persisted``: the caller materializes them, then calls
    release_persisted(survivors).

    span_action='drop': remove whole documents over the coverage
    threshold (the Lee et al. drop decision). 'trim': keep every row
    but REWRITE the over-threshold documents' text with their
    duplicated intervals removed (trim_dup_spans) — row count is
    unchanged, content shrinks."""
    from kmtricks_spark.operators.dedup import (
        dup_span_coverage,
        duplicate_spans,
        trim_dup_spans,
    )

    if span_action not in ("drop", "trim"):
        raise ValueError(f"span_action must be drop|trim, got {span_action!r}")
    if not (0.0 <= max_dup_coverage <= 1.0):
        raise ValueError(f"max_dup_coverage must be in [0,1], got {max_dup_coverage}")
    spans = duplicate_spans(
        kept, span=span, stride=stride, text_col=text_col, id_col=id_col
    )
    heavy = (
        dup_span_coverage(kept, spans, span=span, text_col=text_col, id_col=id_col)
        .where(F.col("coverage") > max_dup_coverage)
        .select(F.col("doc_id").alias(id_col))
    )
    if span_action == "drop":
        out = kept.join(heavy, id_col, "left_anti")
        out._km_persisted = spans._km_persisted
        return out
    trimmed = trim_dup_spans(
        kept, spans, span=span, text_col=text_col, id_col=id_col, out_col="__trimmed"
    )
    out = (
        kept.join(heavy.withColumn("__h", F.lit(1)), id_col, "left")
        .join(trimmed, id_col, "left")
        .withColumn(
            text_col,
            F.when(F.col("__h").isNotNull(), F.coalesce("__trimmed", F.col(text_col)))
            .otherwise(F.col(text_col)),
        )
        .drop("__h", "__trimmed")
    )
    out._km_persisted = spans._km_persisted
    return out


def _decontam_gate(
    kept: DataFrame, decontaminate: DataFrame | str, contamination_n: int,
    text_col: str, id_col: str,
) -> DataFrame:
    from kmtricks_spark.operators.dedup import benchmark_contamination

    # drop every doc sharing an n-gram with the benchmark set
    # (GPT-3-style test-set hygiene); only contaminated doc_ids are
    # kept from the screen, so a synthesized bench id is fine (it
    # never reaches the output) and the anti-join side is tiny
    bench = decontaminate
    if isinstance(bench, str):  # curate_run's parquet path, read only if the gate runs
        bench = kept.sparkSession.read.parquet(bench)
    if "bench_id" not in bench.columns:
        bench = bench.withColumn("bench_id", F.monotonically_increasing_id())
    hits = benchmark_contamination(
        kept, bench, n=contamination_n,
        text_col=text_col, id_col=id_col, bench_text_col=text_col,
    ).select(F.col("doc_id").alias(id_col)).distinct()
    return kept.join(hits, id_col, "left_anti")


# ------------------------------------------------------------ the funnel

def _gate_table(
    min_quality, gopher, langs, dedup, min_jaccard, text_col, id_col,
    decontaminate, contamination_n, max_dup_coverage, span, stride,
    semantic, vec_col, semantic_n_lists, span_action, max_docs_per_domain,
    url_col,
) -> list[tuple]:
    """(stage, report key, enabled, body) per gate, in funnel order.
    ``body(kept, report)`` returns the gate's lazy survivors; the scalar
    gate, whose report key is None, returns (survivors, counts) instead
    (see _scalar_pass). ``decontaminate`` is a benchmark DataFrame or a
    parquet path, read only when the gate runs."""
    if semantic_n_lists is not None and semantic_n_lists < 1:
        raise ValueError(f"semantic_n_lists must be >= 1, got {semantic_n_lists}")
    scalar = _scalar_gates(min_quality, gopher, langs, text_col)
    return [
        ("scalar", None, bool(scalar), lambda kept, report: _scalar_pass(kept, scalar)),
        ("domain", "after_domain", max_docs_per_domain is not None,
         lambda kept, report: _domain_gate(kept, max_docs_per_domain, url_col, id_col)),
        ("dedup", "after_dedup", dedup is not None,
         lambda kept, report: _dedup_gate(kept, dedup, min_jaccard, text_col, id_col)),
        # the semantic gate sizes its IVF from the survivors so far
        ("semantic", "after_semantic", semantic is not None,
         lambda kept, report: _semantic_gate(
             kept, semantic, vec_col, id_col, report[list(report)[-1]], semantic_n_lists)),
        ("span", "after_span_dedup", max_dup_coverage is not None,
         lambda kept, report: _span_gate(
             kept, max_dup_coverage, span, stride, text_col, id_col, span_action)),
        ("decontam", "after_decontam", decontaminate is not None,
         lambda kept, report: _decontam_gate(
             kept, decontaminate, contamination_n, text_col, id_col)),
    ]


def _funnel(
    source: Callable[[], DataFrame],
    gates: list[tuple],
    materialize: Callable[[str, DataFrame, Callable[[int], dict]], DataFrame],
    resume: Callable[[str], tuple[DataFrame, dict] | None] = lambda stage: None,
    until: str | None = None,
) -> tuple[DataFrame, dict, dict]:
    """Run the enabled gates in order; returns (survivors, report,
    {stage: 'done'|'skipped'|'disabled'}).

    ``materialize(stage, survivors, funnel)`` materializes one gate's
    survivors and returns the materialized frame; it calls
    ``funnel(rows)`` with the survivor count it observed, which folds
    the gate's counts into the report and returns the report so far.
    ``resume(stage)`` returns the table and lineage record of a stage
    completed by an earlier run, or None. ``source()`` returns the input
    frame; it is called only when a gate runs on it or the report needs
    its count, so a fully resumed funnel never reads the input."""
    from kmtricks_spark.operators.dedup import release_persisted

    report: dict = {}
    status: dict = {}
    kept = None
    for stage, key, enabled, body in gates:
        if not enabled:
            status[stage] = "disabled"
        elif (done := resume(stage)) is not None:
            kept, rec = done
            report.update(rec["report"])
            if key is not None:  # records that predate the cumulative report
                report[key] = rec["output_rows"]
            status[stage] = "skipped"
        else:
            if kept is None:
                kept = source()
            if key is None:
                out, counts = body(kept, report)
            else:
                if "input" not in report:  # no scalar gate: one count job
                    report["input"] = kept.count()
                out = body(kept, report)

            def funnel(rows: int) -> dict:
                report.update(counts() if key is None else {key: rows})
                return dict(report)

            kept = materialize(stage, out, funnel)
            # the materialization cut the lineage to any cache the gate held
            release_persisted(out)
            status[stage] = "done"
        if until == stage:
            break
    if "input" not in report:  # nothing enabled at all
        kept = source() if kept is None else kept
        report["input"] = kept.count()
    last = [k for k in report if k.startswith("after_")]
    report["removed"] = report["input"] - (report[last[-1]] if last else report["input"])
    return kept, report, status


# --------------------------------------------------------- in-session API

def curate(
    df: DataFrame,
    min_quality: float | None = 0.5,
    gopher: bool = False,
    langs: list[str] | None = None,
    dedup: str | None = "exact",
    min_jaccard: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    decontaminate: DataFrame | None = None,
    contamination_n: int = 8,
    max_dup_coverage: float | None = None,
    span: int = 40,
    stride: int = 10,
    semantic: float | None = None,
    vec_col: str = "embedding",
    semantic_n_lists: int | None = None,
    span_action: str = "drop",
    max_docs_per_domain: int | None = None,
    url_col: str = "url",
) -> tuple[DataFrame, dict]:
    """Apply the curation funnel; returns (survivors, report).

    dedup: None | 'exact' (md5 keep-min) | 'minhash' (LSH candidate
    pairs -> large-star/small-star connected components, round-bound
    on ANY duplicate-graph shape -> keep cluster minima).
    decontaminate: optional benchmark DataFrame (text_col; bench_id
    synthesized if absent) — survivors sharing any contamination_n-gram
    with it are dropped (test-set hygiene gate, reported as
    'after_decontam').
    max_dup_coverage: optional [0,1] threshold — survivors whose
    duplicated-substring coverage (strided span/stride screen across
    the surviving corpus, merged intervals / doc length) exceeds it are
    dropped (the Lee et al. substring-dedup decision, reported as
    'after_span_dedup').
    semantic: optional cosine threshold — SemDeDup gate over `vec_col`
    (IVF-clustered within-cluster pruning, semantic_dedup), reported as
    'after_semantic'; requires the embedding column on the corpus rows.
    semantic_n_lists: IVF cluster count for the semantic gate; None
    adapts (min(16, survivors)) which is right for small corpora only —
    at corpus scale SET THIS (clusters ~ sqrt(N) keeps the
    within-cluster pair space linear-ish; the cap exists because
    ivf_train needs >= n_lists sample rows).

    Scale shape: quality, gopher, and lang are pure per-row Column
    predicates, so they are fused into ONE corpus scan that computes
    the whole scalar-gate funnel report (input + after_quality/
    after_gopher/after_lang, each the running conjunction, identical to
    sequential application) as observed metrics of the localCheckpoint
    that materializes the rows surviving all scalar gates. The domain /
    dedup / semantic / span-coverage / decontamination gates are
    relational, not scalar, and downstream gates re-read their
    survivors, so each ends in its own localCheckpoint, whose survivor
    count is observed on that same job. For a funnel that should
    survive a kill, use curate_run.
    """

    def checkpoint(stage, survivors, funnel):
        obs = Observation()
        out = survivors.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint()
        funnel(obs.get["rows"])
        return out

    gates = _gate_table(
        min_quality, gopher, langs, dedup, min_jaccard, text_col, id_col,
        decontaminate, contamination_n, max_dup_coverage, span, stride,
        semantic, vec_col, semantic_n_lists, span_action, max_docs_per_domain,
        url_col,
    )
    kept, report, _ = _funnel(lambda: df, gates, checkpoint)
    return kept, report


# ------------------------------------------------------ persisted-run API

def curate_run(
    spark: SparkSession,
    run_dir: str,
    input_path: str,
    until: str | None = None,
    min_quality: float | None = 0.5,
    gopher: bool = False,
    langs: list[str] | None = None,
    dedup: str | None = "exact",
    min_jaccard: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    decontaminate_path: str | None = None,
    contamination_n: int = 8,
    max_dup_coverage: float | None = None,
    span: int = 40,
    stride: int = 10,
    semantic: float | None = None,
    vec_col: str = "embedding",
    semantic_n_lists: int | None = None,
    span_action: str = "drop",
    max_docs_per_domain: int | None = None,
    url_col: str = "url",
) -> tuple[DataFrame, dict]:
    """The curation funnel with the count pipeline's operational
    semantics (plans/pipeline.py / plans/lineage.py): every enabled gate
    persists its survivors as a parquet stage table under
    <run_dir>/<stage>/ plus a lineage JSON (params, the row count and
    checksum observed on the write, the funnel report so far). A re-run
    skips gates whose lineage matches and whose table is readable —
    kill-and-rerun resumes past completed gates. Lineage params are
    scoped per gate (own knobs + enabled upstream knobs), so changing a
    knob invalidates exactly its gate and everything downstream, while
    enabling a NEW downstream gate on a completed run reuses the
    upstream stages as-is. `until` stops after the named stage
    ('scalar'|'domain'|'dedup'|'semantic'|'span'|'decontam').

    The parquet table IS the inter-stage materialization (no
    localCheckpoint here — survivors are written once and re-read), so
    a resumed funnel never recomputes an upstream gate. Returns
    (survivors_of_last_completed_stage, report) with the report
    reconstructed from lineage on resume.
    """
    from kmtricks_spark.plans.lineage import read_lineage, stage_complete, write_lineage
    from kmtricks_spark.sources.pages import read_stage, write_stage

    if until is not None and until not in CURATE_STAGES:
        raise ValueError(f"until must be one of {CURATE_STAGES}")
    gates = _gate_table(
        min_quality, gopher, langs, dedup, min_jaccard, text_col, id_col,
        decontaminate_path, contamination_n, max_dup_coverage, span, stride,
        semantic, vec_col, semantic_n_lists, span_action, max_docs_per_domain,
        url_col,
    )
    # params are scoped PER GATE and accumulated down the funnel: a
    # stage's lineage binds its own knobs plus every ENABLED upstream
    # gate's knobs (its input provenance). Changing a knob therefore
    # invalidates exactly its gate and everything downstream, while
    # ENABLING a new downstream gate (e.g. adding --semantic to a
    # completed run) leaves upstream lineage valid and resumes from the
    # last completed stage.
    stage_params = {
        "scalar": {"min_quality": min_quality, "gopher": gopher, "langs": langs},
        "domain": {"max_docs_per_domain": max_docs_per_domain, "url_col": url_col},
        "dedup": {"dedup": dedup, "min_jaccard": min_jaccard},
        "semantic": {"semantic": semantic, "vec_col": vec_col,
                     "semantic_n_lists": semantic_n_lists},
        "span": {"max_dup_coverage": max_dup_coverage, "span": span,
                 "stride": stride, "span_action": span_action},
        "decontam": {
            "decontaminate": (
                os.path.realpath(decontaminate_path) if decontaminate_path else None
            ),
            "contamination_n": contamination_n,
        },
    }
    enabled = {stage: on for stage, _, on, _ in gates}

    def params_of(stage: str) -> dict:
        p = {"input": os.path.realpath(input_path), "text_col": text_col, "id_col": id_col}
        for s in CURATE_STAGES:
            if enabled[s]:
                p.update(stage_params[s])
            if s == stage:
                break
        p["stage"] = stage
        return p

    def persist(stage, survivors, funnel):
        observed = write_stage(survivors, run_dir, stage)
        write_lineage(
            run_dir, stage, params_of(stage), observed,
            extra={"report": funnel(observed["output_rows"])},
        )
        return read_stage(spark, run_dir, stage)

    def resume(stage):
        if not stage_complete(spark, run_dir, stage, params_of(stage)):
            return None
        return read_stage(spark, run_dir, stage), read_lineage(run_dir, stage)

    kept, report, status = _funnel(
        lambda: spark.read.parquet(input_path), gates, persist, resume, until
    )
    report["stages"] = status
    return kept, report
