"""CLI entry point — the reference's ``dedups`` command surface
(/root/reference/src/lib.rs:50-226) re-expressed over tables.

``python -m dedup_spark TABLE [TABLE...]`` where TABLE is a parquet
path or catalog table in input_hint shape. Flag mapping (reference →
here): paths → tables; --delete/--move-to → action plan rows (dry-run
by default, the reference's --dry-run semantics preserved and made the
DEFAULT — a table pipeline never mutates without --execute);
--media-mode → --fuzzy (the near-dup stack); --media-similarity 0-100
→ threshold fraction; --mode → --selection-strategy;
--media-formats/--media-resolution → W3 preference ranking over
lang/size; --fast-mode → xxhash64; --sort-by/--sort-order → W2 in-set
ordering; --raw-sizes → suppress humansize display columns; --target +
--deduplicate → multi-source compare mode (§3.2); --filter-from /
--include / --exclude → rclone-style rules; --cache-location →
signature store path; --output/--format → report sink;
--progress/--verbose/--log-file/--version → driver niceties.
Interactive TUI (-i) is intentionally out of scope (SURVEY §3.3) — its
engine semantics (rescan, plan, execute) ARE this CLI.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from dedup_spark.config import HASH_ALGORITHMS, KEEP_STRATEGIES


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dedup_spark",
        description="PySpark near-duplicate detection over (repo, path, commit, lang, content) tables",
    )
    p.add_argument("tables", nargs="+", help="input tables (parquet paths or catalog names)")
    p.add_argument("--config", help=".deduprc-style TOML config file")
    p.add_argument("--algorithm", choices=HASH_ALGORITHMS)
    p.add_argument("--include", action="append", default=None, help="glob include (repeatable)")
    p.add_argument("--exclude", action="append", default=None, help="glob exclude (repeatable)")
    p.add_argument("--filter-from", help="rclone-style filter rules file")
    p.add_argument("--fuzzy", "--media-mode", dest="fuzzy", action="store_true",
                   help="near-dup mode (reference --media-mode)")
    p.add_argument("--similarity", "--media-similarity", dest="similarity",
                   type=int, default=None, metavar="0-100",
                   help="similarity threshold percent (reference --media-similarity)")
    p.add_argument("--selection-strategy", "--mode", dest="strategy", default=None,
                   choices=KEEP_STRATEGIES,
                   help="keep-selection strategy (reference --mode)")
    p.add_argument("--media-formats", default=None, metavar="CSV",
                   help="keep-preference list, highest priority first "
                        "(maps to lang preference on code tables)")
    p.add_argument("--media-resolution", default=None, metavar="highest|lowest|WxH",
                   type=_resolution_arg,
                   help="resolution keep-preference; WxH/an int targets the "
                        "closest size (the table analog of pixel count)")
    p.add_argument("--fast-mode", action="store_true",
                   help="xxhash64 content hashing (reference --fast-mode; "
                        "pair with --cache-location for cached reruns)")
    p.add_argument("--sort-by", default=None,
                   choices=["name", "size", "modified", "created", "path", "path_length"],
                   help="in-set file ordering in the report (reference --sort-by)")
    p.add_argument("--sort-order", default="asc", choices=["asc", "desc"])
    p.add_argument("--raw-sizes", action="store_true",
                   help="report sizes in raw bytes only (default adds "
                        "humansize-style display columns)")
    p.add_argument("--progress", action="store_true",
                   help="show Spark console progress bars")
    p.add_argument("--verbose", "-v", action="store_true", help="spark INFO logging")
    p.add_argument("--log-file", default=None, help="also append summary lines here")
    from dedup_spark import __version__

    p.add_argument("--version", action="version", version=f"dedup_spark {__version__}")
    p.add_argument("--delete", action="store_true", help="plan delete for non-kept files")
    p.add_argument("--move-to", metavar="PREFIX", help="plan move of non-kept files under PREFIX")
    p.add_argument("--execute", action="store_true",
                   help="apply the plan (default is dry run, plan only)")
    p.add_argument("--target", help="target table for compare mode")
    p.add_argument("--deduplicate", action="store_true",
                   help="with --target: also report cross-source duplicate sets")
    p.add_argument("--output", "-o", help="report output path")
    p.add_argument("--format", "-f", choices=["json", "parquet", "toml"], default="json")
    p.add_argument("--cache-location", help="signature store path (resumable reruns)")
    p.add_argument("--parallel", type=int, default=None, help="shuffle partitions")
    p.add_argument("--master", default=None, help="spark master (default local[*])")
    p.add_argument("--min-cluster-size", type=int, default=2)
    return p


def make_config(args):
    from dedup_spark.config import DedupConfig, config_from_toml, load_config
    from dedup_spark.sources.filters import parse_filter_file

    overrides: dict = {}
    if args.algorithm:
        overrides["algorithm"] = args.algorithm
    elif args.fast_mode:
        # reference --fast-mode: the speed-optimized hash (README:391
        # recommends xxhash); an explicit --algorithm wins
        overrides["algorithm"] = "xxhash64"
    if args.similarity is not None:
        overrides["similarity_threshold"] = args.similarity / 100.0
    if args.strategy:
        overrides["keep_strategy"] = args.strategy
    if args.media_formats:
        overrides["lang_preference"] = tuple(
            s.strip() for s in args.media_formats.split(",") if s.strip()
        )
    if args.cache_location:
        overrides["cache_path"] = args.cache_location
    if args.parallel:
        overrides["shuffle_partitions"] = args.parallel
    include = tuple(args.include or ())
    exclude = tuple(args.exclude or ())
    if args.filter_from:
        with open(args.filter_from, encoding="utf-8") as f:
            inc, exc = parse_filter_file(f.read())
        include, exclude = include + inc, exclude + exc
    if include:
        overrides["include"] = include
    if exclude:
        overrides["exclude"] = exclude
    if args.config:
        return load_config(args.config, **overrides)
    return config_from_toml("", **overrides) if overrides else DedupConfig()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = make_config(args)

    from dedup_spark.operators.compare import cross_source_duplicates, missing_in_target
    from dedup_spark.operators.exact import exact_clusters
    from dedup_spark.operators.report import write_report
    from dedup_spark.plans.pipeline import DedupPipeline
    from dedup_spark.session import get_spark

    extra_conf = {"spark.ui.showConsoleProgress": "true"} if args.progress else None
    spark = get_spark("dedup-cli", master=args.master,
                      shuffle_partitions=cfg.shuffle_partitions,
                      extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("INFO" if args.verbose else "ERROR")
    pipe = DedupPipeline(spark, cfg)

    def emit(obj: dict) -> None:
        line = json.dumps(obj)
        print(line)
        if args.log_file:
            with open(args.log_file, "a", encoding="utf-8") as f:
                f.write(line + "\n")

    if args.target:
        # §3.2 multi-source compare: sources vs target, per-file anti join
        src = pipe.load(args.tables[0])
        for t in args.tables[1:]:
            src = src.unionByName(pipe.load(t))
        from dedup_spark.operators.exact import with_content_hash

        src_h = with_content_hash(src.withColumn("source", F.lit("src")), cfg)
        tgt_h = with_content_hash(
            pipe.load(args.target).withColumn("source", F.lit("tgt")), cfg
        )
        missing = missing_in_target(src_h, tgt_h)
        emit({"missing_in_target": missing.count()})
        if args.deduplicate:
            both = src_h.unionByName(tgt_h)
            cross = cross_source_duplicates(both)
            emit({"cross_source_duplicate_files": cross.count()})
        if args.output:
            write_report(missing.select("repo", "path", "commit", "hash"),
                         args.output, args.format)
        return 0

    files = pipe.load(args.tables[0])
    for t in args.tables[1:]:
        files = files.unionByName(pipe.load(t))

    if args.fuzzy:
        clusters = pipe.run(files, min_cluster_size=args.min_cluster_size)
    else:
        clusters = exact_clusters(files, cfg, args.min_cluster_size)

    if args.sort_by:
        # reference --sort-by/--sort-order: in-set file ordering (W2)
        from dedup_spark.operators.report import duplicate_report
        from dedup_spark.operators.select import rank_in_set

        if (
            args.sort_by in ("modified", "created")
            and f"{args.sort_by}_at" not in clusters.columns
        ):
            # rank_in_set would silently fall back to path order —
            # refuse instead: the input_hint table has no timestamps
            # unless the source provides them as extra columns
            print(
                f"error: --sort-by {args.sort_by} requires a "
                f"{args.sort_by}_at column in the input table",
                file=sys.stderr,
            )
            return 2
        ranked = rank_in_set(
            clusters.filter(F.col("cluster_size") >= 2),
            criterion=args.sort_by,
            ascending=args.sort_order == "asc",
        )
        report = duplicate_report(ranked, order_col="display_rank")
    else:
        report = pipe.report(clusters)
    n_sets = report.count()
    summary = {"duplicate_sets": n_sets,
               "files_in_sets": clusters.filter(F.col("cluster_size") >= 2).count()}

    if args.delete or args.move_to:
        from dedup_spark.operators.actions import build_plan, execute_plan, plan_summary
        from dedup_spark.operators.select import select_kept, select_preferred

        dup_sets = clusters.filter(F.col("cluster_size") >= 2)
        if cfg.lang_preference or args.media_resolution:
            # reference --media-formats / --media-resolution → W3
            # preference ranking (format list first, then resolution);
            # a resolution-only preference applies too (empty format
            # list → resolution alone decides)
            policy, target = args.media_resolution or ("highest", None)
            sel = select_preferred(
                dup_sets, cfg.lang_preference,
                resolution_policy=policy, target_size=target,
            )
        else:
            sel = select_kept(dup_sets, cfg.keep_strategy)
        plan = (build_plan(sel, "move", target_prefix=args.move_to)
                if args.move_to else build_plan(sel, "delete"))
        for r in plan_summary(plan).collect():
            summary[f"plan_{r['action']}"] = r["n"]
        if args.execute:
            survivors = execute_plan(files, plan, dry_run=False)
            summary["surviving_files"] = survivors.count()
        else:
            summary["dry_run"] = True

    if args.output:
        out = report.drop("files")
        if not args.raw_sizes:
            # reference default: humansize DECIMAL display; --raw-sizes
            # suppresses the display columns (raw bytes stay either way)
            from dedup_spark.operators.report import human_size

            out = out.withColumn("min_size_display", human_size("min_size")) \
                     .withColumn("max_size_display", human_size("max_size"))
        write_report(out, args.output, args.format)
        summary["report"] = args.output
    emit(summary)
    return 0


def _resolution_arg(s: str) -> tuple[str, int | None]:
    """argparse type for --media-resolution: highest | lowest | WxH |
    bytes (WxH and a plain int both become closest_to over the size
    column — the table analog of pixel count). Malformed values raise
    ArgumentTypeError → a clean argparse usage error, not a traceback."""
    sl = s.strip().lower()
    if sl == "highest":
        return "highest", None
    if sl == "lowest":
        return "lowest", None
    try:
        if "x" in sl:
            w, h = sl.split("x", 1)
            return "closest_to", int(w) * int(h)
        return "closest_to", int(sl)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"invalid --media-resolution {s!r}: expected highest, lowest, "
            "WxH (e.g. 1280x720) or an integer size"
        ) from None


if __name__ == "__main__":
    sys.exit(main())
