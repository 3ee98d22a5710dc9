"""spark-submit entry point mirroring the reference CLI.

Subcommands ≙ src/cli.cpp:26-54: pipeline, one per stage (counts,
histogram, matrix, pa, bloom), aggregate, combine, filter, dump, infos —
plus clean and curate. Run as:

    spark-submit --py-files kmtricks_spark.zip -m kmtricks_spark.cli \
        pipeline --input pages.parquet --run-dir /tmp/run1 --kmer-size 8 \
        --hard-min 2 --soft-min 3 --recurrence-min 2 --until matrix

Flag names follow Appendix A of SURVEY.md (cli.cpp:121-377 surface).
"""

from __future__ import annotations

import argparse
import json
import sys

from kmtricks_spark.config import KmConfig, get_spark


def _cfg_from(args) -> KmConfig:
    return KmConfig(
        k=args.kmer_size,
        nb_partitions=args.nb_partitions,
        hard_min=args.hard_min,
        soft_min=args.soft_min,
        recurrence_min=args.recurrence_min,
        share_min=args.share_min,
        hist_lower=args.hist_lower,
        hist_upper=args.hist_upper,
        bloom_bits=args.bloom_size,
        bfc_width=args.bitw,
        bloom_mode=args.bloom_mode,
    )


def _add_common(p):
    p.add_argument("--run-dir", required=True)
    p.add_argument("--kmer-size", type=int, default=8)
    p.add_argument("--nb-partitions", type=int, default=32,
                   help="0 = auto from input size (R1, task.hpp:112-115)")
    p.add_argument("--hard-min", type=int, default=2)
    p.add_argument("--soft-min", type=int, default=2)
    p.add_argument("--soft-min-quantile", type=float, default=None)
    p.add_argument("--recurrence-min", type=int, default=1)
    p.add_argument("--share-min", type=int, default=0)
    p.add_argument("--hist-lower", type=int, default=1,
                   help="histogram lower bound (KHist, histogram.hpp:44)")
    p.add_argument("--hist-upper", type=int, default=0,
                   help="histogram upper bound (ref default 255); 0 = unbounded")
    p.add_argument("--bloom-size", type=int, default=10_000_000)
    p.add_argument("--bitw", type=int, choices=[1, 2, 4, 8], default=2,
                   help="bfc cell width in bits; must divide 8")
    p.add_argument("--bloom-mode", choices=["bf", "bft", "bfc"], default="bf",
                   help="--mode hash:{bf,bft,bfc} analogue (cli.cpp:150-199)")
    p.add_argument("--export-filters", choices=["kmbf", "howdesbt"], default=None,
                   help="also write one standalone BF file per sample "
                        "(howdesbt = reference bffileheader layout, "
                        "howde_utils.hpp:56-122)")
    p.add_argument("--restrict-to-list", type=str, default=None,
                   help="comma-separated partition ids")
    p.add_argument("--restrict-to", type=float, default=None,
                   help="fraction [0.05,1.0] of partitions to process "
                        "(cli.cpp:301-305): the first ceil(f*P) ids")
    p.add_argument("--sample-id", type=str, default=None,
                   help="comma-separated sample ids: recompute only these "
                        "samples' cells (count --id analogue, cmd.hpp:164-211)")
    p.add_argument("--cores", type=int, default=None)


def _add_plugin_flags(p):
    # only on subcommands whose run actually reaches the merge stage
    # (pipeline, matrix) — accepting-and-ignoring it elsewhere would be
    # a silent flag drop
    p.add_argument("--plugin", type=str, default=None,
                   help="merge plugin 'module:callable' (J7 hook, "
                        "cli.cpp:358-377): batch predicate over merged "
                        "rows, or a factory when --plugin-config is given")
    p.add_argument("--plugin-config", type=str, default=None,
                   help="config string passed to the plugin factory")


def main(argv=None):
    ap = argparse.ArgumentParser(prog="kmtricks-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    pipe = sub.add_parser("pipeline", help="full run: counts..bloom")
    _add_common(pipe)
    _add_plugin_flags(pipe)
    pipe.add_argument("--input", required=True)
    pipe.add_argument("--until", choices=["counts", "histogram", "matrix", "pa", "bloom"])

    for stage in ("counts", "histogram", "matrix", "pa", "bloom"):
        sp = sub.add_parser(stage, help=f"run only the {stage} stage")
        _add_common(sp)
        if stage == "matrix":
            _add_plugin_flags(sp)
        sp.add_argument("--input", required=False)

    info = sub.add_parser("infos", help="print run_infos + per-stage lineage summary")
    info.add_argument("--run-dir", required=True)
    info.add_argument("--cores", type=int, default=None)

    dump = sub.add_parser("dump", help="stage table -> stdout sample")
    dump.add_argument("--run-dir", required=True)
    dump.add_argument("--stage", required=True)
    dump.add_argument("--limit", type=int, default=20)
    dump.add_argument("--cores", type=int, default=None)

    # post-ops over existing runs (cmd.hpp:274-724 surface)
    agg = sub.add_parser("aggregate", help="union per-partition matrix rows (J10)")
    agg.add_argument("--run-dir", required=True)
    agg.add_argument("--stage", default="matrix")
    agg.add_argument("--sorted", action="store_true")
    agg.add_argument("--restrict-to-list", type=str, default=None)
    agg.add_argument("--output", required=True)
    agg.add_argument("--cores", type=int, default=None)

    comb = sub.add_parser("combine", help="horizontal merge of two runs' matrices (J8)")
    comb.add_argument("--run-dir", required=True)
    comb.add_argument("--other", required=True, help="second run dir")
    comb.add_argument("--output", required=True)
    comb.add_argument("--allow-missing-lineage", action="store_true",
                      help="combine even when a run has no matrix lineage "
                           "(skips the reference's compatibility refusal)")
    comb.add_argument("--cores", type=int, default=None)

    filt = sub.add_parser("filter", help="new sample vs existing matrix (J9)")
    filt.add_argument("--run-dir", required=True)
    filt.add_argument("--key-counts", required=True,
                      help="parquet of (kgram, count) for the key sample")
    filt.add_argument("--out-mode", choices=["m", "k", "v"], default="m")
    filt.add_argument("--output", required=True)
    filt.add_argument("--cores", type=int, default=None)

    cl = sub.add_parser("clean", help="delete consumed stage tables "
                        "(O5: the reference's --clear / Eraser, utils.hpp:250-309)")
    cl.add_argument("--run-dir", required=True)
    cl.add_argument("--stages", default="counts",
                    help="comma-separated stage tables to delete; only clean "
                         "stages whose consumers have completed")
    cl.add_argument("--keep-lineage", action="store_true",
                    help="keep the lineage JSON so resume still skips the "
                         "stage (data gone, provenance kept)")

    cur = sub.add_parser("curate", help="quality/rules/lang/dedup funnel -> curated parquet")
    cur.add_argument("--input", required=True)
    cur.add_argument("--output", required=True)
    cur.add_argument("--min-quality", type=float, default=0.5,
                     help="quality_score threshold; negative disables")
    cur.add_argument("--gopher", action="store_true", help="apply Gopher rules (keep==1)")
    cur.add_argument("--langs", type=str, default=None,
                     help="comma-separated lang_guess codes to keep")
    cur.add_argument("--dedup", choices=["none", "exact", "minhash"], default="exact")
    cur.add_argument("--min-jaccard", type=float, default=0.8)
    cur.add_argument("--max-dup-coverage", type=float, default=None,
                     help="drop survivors whose duplicated-substring "
                          "coverage exceeds this fraction (span screen)")
    cur.add_argument("--span", type=int, default=40,
                     help="span length for --max-dup-coverage")
    cur.add_argument("--stride", type=int, default=10,
                     help="span stride for --max-dup-coverage")
    cur.add_argument("--max-docs-per-domain", type=int, default=None,
                     help="per-domain document cap over --url-col "
                          "(RefinedWeb-style diversity gate)")
    cur.add_argument("--url-col", type=str, default="url",
                     help="URL column for --max-docs-per-domain")
    cur.add_argument("--span-action", choices=["drop", "trim"], default="drop",
                     help="over-coverage docs: drop whole rows, or trim "
                          "the duplicated intervals out of their text")
    cur.add_argument("--decontaminate", type=str, default=None,
                     help="parquet of benchmark texts (text column): drop "
                          "survivors sharing any n-gram with it")
    cur.add_argument("--contamination-n", type=int, default=8,
                     help="n-gram length for --decontaminate (>=8 keeps "
                          "grams rare; the published collision rule)")
    cur.add_argument("--semantic", type=float, default=None,
                     help="SemDeDup cosine threshold over --vec-col "
                          "(IVF-clustered within-cluster pruning)")
    cur.add_argument("--vec-col", type=str, default="embedding",
                     help="embedding column for --semantic")
    cur.add_argument("--semantic-n-lists", type=int, default=None,
                     help="IVF cluster count for --semantic (default "
                          "adapts to min(16, survivors) — set ~sqrt(N) "
                          "at corpus scale)")
    cur.add_argument("--run-dir", default=None,
                     help="persisted-stage mode: each gate writes its "
                          "survivors + lineage under this dir; a re-run "
                          "with identical flags resumes past completed "
                          "gates (kill-rerun safe)")
    cur.add_argument("--until", default=None,
                     choices=["scalar", "domain", "dedup", "semantic", "span",
                              "decontam"],
                     help="with --run-dir: stop after this gate")
    cur.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)
    if args.cmd == "infos":
        return _infos(args.run_dir)
    if args.cmd == "clean":
        return _clean(args)
    spark = get_spark(cores=args.cores)
    try:
        if getattr(args, "nb_partitions", None) == 0:
            from kmtricks_spark.config import auto_partitions

            inp = getattr(args, "input", None)
            if not inp:
                raise SystemExit("--nb-partitions 0 (auto) needs --input")
            args.nb_partitions = auto_partitions(spark, inp)
        if args.cmd == "dump":
            df = spark.read.parquet(f"{args.run_dir}/{args.stage}")
            df.show(args.limit, truncate=False)
            return 0
        if args.cmd == "curate":
            from kmtricks_spark.operators.curation import curate, curate_run

            if args.until and not args.run_dir:
                raise SystemExit("--until requires --run-dir")
            knobs = dict(
                min_quality=(None if args.min_quality < 0 else args.min_quality),
                gopher=args.gopher,
                langs=args.langs.split(",") if args.langs else None,
                dedup=(None if args.dedup == "none" else args.dedup),
                min_jaccard=args.min_jaccard,
                contamination_n=args.contamination_n,
                max_dup_coverage=args.max_dup_coverage,
                span=args.span,
                stride=args.stride,
                span_action=args.span_action,
                max_docs_per_domain=args.max_docs_per_domain,
                url_col=args.url_col,
                semantic=args.semantic,
                vec_col=args.vec_col,
                semantic_n_lists=args.semantic_n_lists,
            )
            if args.run_dir:
                kept, report = curate_run(
                    spark, args.run_dir, args.input, until=args.until,
                    decontaminate_path=args.decontaminate, **knobs,
                )
            else:
                bench = spark.read.parquet(args.decontaminate) if args.decontaminate else None
                kept, report = curate(
                    spark.read.parquet(args.input), decontaminate=bench, **knobs
                )
            kept.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"curate": "done", "output": args.output, **report}))
            return 0
        if args.cmd in ("aggregate", "combine", "filter"):
            return _post_op(spark, args)
        from kmtricks_spark.plans.pipeline import Pipeline

        restrict = (
            [int(x) for x in args.restrict_to_list.split(",")]
            if args.restrict_to_list
            else None
        )
        if args.restrict_to is not None:
            if args.restrict_to_list:
                raise SystemExit("--restrict-to and --restrict-to-list are exclusive")
            f = args.restrict_to
            if not (0.05 <= f <= 1.0):  # the reference's accepted range
                raise SystemExit("--restrict-to must be in [0.05, 1.0]")
            import math

            restrict = list(range(math.ceil(f * args.nb_partitions)))
        samples = args.sample_id.split(",") if args.sample_id else None
        plugin_fn = plugin_spec = None
        if getattr(args, "plugin", None):
            from kmtricks_spark.operators.plugin import load_plugin

            plugin_fn = load_plugin(args.plugin, args.plugin_config)
            plugin_spec = f"{args.plugin}|{args.plugin_config or ''}"
        pl = Pipeline(
            spark,
            _cfg_from(args),
            args.run_dir,
            getattr(args, "input", None),
            until=(args.cmd if args.cmd != "pipeline" else args.until),
            restrict_to=restrict,
            soft_min_quantile=args.soft_min_quantile,
            restrict_samples=samples,
            export_bf=args.export_filters,
            plugin=plugin_fn,
            plugin_spec=plugin_spec,
        )
        status = pl.run()
        print(json.dumps(status))
        return 0
    finally:
        spark.stop()


def _clean(args) -> int:
    """O5 analogue (utils.hpp:250-309 Eraser / --keep-tmp/--clear): drop
    consumed stage tables to reclaim space once their consumers are
    complete. Pure filesystem — no Spark session."""
    import os
    import shutil

    removed = []
    for stage in args.stages.split(","):
        stage = stage.strip()
        d = os.path.join(args.run_dir, stage)
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed.append(stage)
        lj = os.path.join(args.run_dir, "_lineage", f"{stage}.json")
        if args.keep_lineage:
            # mark cleaned: resume treats the stage complete (Eraser
            # semantics — consumed data reclaimed, never regenerated)
            if os.path.exists(lj):
                with open(lj) as f:
                    rec = json.load(f)
                rec["cleaned"] = True
                with open(lj, "w") as f:
                    json.dump(rec, f, indent=1, default=str)
        elif os.path.exists(lj):
            os.remove(lj)
    print(json.dumps({"clean": "done", "removed": removed,
                      "keep_lineage": bool(args.keep_lineage)}))
    return 0


def _infos(run_dir: str) -> int:
    """run_infos.txt analogue (task_scheduler.hpp:453-457): wall time,
    per-stage lineage rows/checksums and, for pipeline stages, their
    status and start/end offsets (s) from the run start, which overlap
    for the stages that run concurrently. Pure filesystem — no Spark."""
    import os

    out = {"run_dir": run_dir}
    ri = os.path.join(run_dir, "run_infos.json")
    timing = {}
    if os.path.exists(ri):
        with open(ri) as f:
            out["run_infos"] = json.load(f)
        timing = out["run_infos"].get("stages", {})
    stages = {}
    ldir = os.path.join(run_dir, "_lineage")
    if os.path.isdir(ldir):
        for fn in sorted(os.listdir(ldir)):
            with open(os.path.join(ldir, fn)) as f:
                rec = json.load(f)
            stages[rec["stage"]] = {
                "output_rows": rec.get("output_rows"),
                "checksum": rec.get("checksum"),
                "partitions": len(rec.get("partitions") or {}) or None,
                **timing.get(rec["stage"], {}),
            }
    out["stages"] = stages
    print(json.dumps(out))
    return 0


def _post_op(spark, args) -> int:
    """aggregate / combine / filter over persisted runs, with the
    reference's repartition-compatibility refusal (task.hpp:136-147)."""
    from pyspark.sql import functions as F

    from kmtricks_spark.operators.matrix_ops import (
        aggregate,
        check_repart_compat,
        combine,
        filter_matrix,
    )
    from kmtricks_spark.plans.lineage import read_lineage

    if args.cmd == "aggregate":
        df = spark.read.parquet(f"{args.run_dir}/{args.stage}")
        if args.restrict_to_list:
            ids = [int(x) for x in args.restrict_to_list.split(",")]
            df = df.where(F.col("part_id").isin(ids))
        aggregate([df], sorted_output=args.sorted).write.mode("overwrite").parquet(args.output)
    elif args.cmd == "combine":
        la, lb = read_lineage(args.run_dir, "matrix"), read_lineage(args.other, "matrix")
        if la and lb:
            check_repart_compat(la["params"], lb["params"])
        elif not args.allow_missing_lineage:
            # the reference refuses runs it cannot validate (task.hpp:
            # 136-147); silently skipping the check would let k/P
            # mismatches merge
            missing = args.run_dir if la is None else args.other
            raise SystemExit(
                f"combine: no matrix lineage in {missing} — cannot verify "
                "partitioning compatibility (pass --allow-missing-lineage "
                "to override)"
            )
        a = spark.read.parquet(f"{args.run_dir}/matrix")
        b = spark.read.parquet(f"{args.other}/matrix")
        ra, rb = a.select(F.size("counts")).first(), b.select(F.size("counts")).first()
        if ra is None or rb is None:
            raise SystemExit(
                f"combine: empty matrix table in "
                f"{args.run_dir if ra is None else args.other}"
            )
        combine(a, b, ra[0], rb[0]).write.mode("overwrite").parquet(args.output)
    else:  # filter
        matrix = spark.read.parquet(f"{args.run_dir}/matrix")
        key = spark.read.parquet(args.key_counts)
        filter_matrix(matrix, key, out=args.out_mode).write.mode("overwrite").parquet(
            args.output
        )
    n = spark.read.parquet(args.output).count()
    print(json.dumps({args.cmd: "done", "output": args.output, "rows": n}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
