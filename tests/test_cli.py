from __future__ import annotations

import json

import pytest

from dedup_spark.__main__ import build_parser, main, make_config

SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli") / "files.parquet")
    rows = [
        ("r1", "a/one.py", "c", "py", "alpha beta gamma delta"),
        ("r1", "b/two.py", "c", "py", "alpha beta gamma delta"),   # exact dup
        ("r1", "c/three.py", "c", "py", "epsilon zeta eta theta"),
    ]
    spark.createDataFrame(rows, SCHEMA).write.parquet(d)
    return d


def test_cli_exact_scan(spark, table, capsys):
    assert main([table]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["duplicate_sets"] == 1
    assert out["files_in_sets"] == 2


def test_cli_delete_plan_dry_run(spark, table, capsys):
    assert main([table, "--delete", "--selection-strategy", "shortest_path"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["plan_keep"] == 1
    assert out["plan_delete"] == 1
    assert out["dry_run"] is True


def test_cli_execute_delete(spark, table, capsys):
    assert main([table, "--delete", "--execute"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["surviving_files"] == 2  # one of the dup pair removed


def test_cli_report_output(spark, table, tmp_path, capsys):
    rpt = str(tmp_path / "report")
    assert main([table, "-o", rpt, "-f", "json"]) == 0
    rows = [json.loads(line) for line in
            open(next(p for p in __import__("pathlib").Path(rpt).glob("part-*")))]
    assert len(rows) == 1
    assert rows[0]["n_files"] == 2


def test_cli_compare_mode(spark, table, tmp_path, capsys):
    tgt = str(tmp_path / "tgt.parquet")
    spark.createDataFrame(
        [("t", "x.py", "c", "py", "alpha beta gamma delta")], SCHEMA
    ).write.parquet(tgt)
    assert main([table, "--target", tgt, "--deduplicate"]) == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    merged = {k: v for d in lines for k, v in d.items()}
    assert merged["missing_in_target"] == 1          # only three.py's hash missing
    assert merged["cross_source_duplicate_files"] == 3  # dup set spans src+tgt


def test_make_config_precedence(tmp_path):
    f = tmp_path / "dedup.toml"
    f.write_text('algorithm = "md5"\nmedia_similarity = 80\n')
    args = build_parser().parse_args(
        ["t", "--config", str(f), "--algorithm", "sha256", "--include", "src/**"]
    )
    cfg = make_config(args)
    assert cfg.algorithm == "sha256"          # CLI wins
    assert cfg.similarity_threshold == 0.8    # file fills the rest
    assert cfg.include == ("src/**",)


def test_cli_algorithm_reads_config_table():
    # every config.HASH_ALGORITHMS entry parses, not a hand-kept subset
    cfg = make_config(build_parser().parse_args(["t", "--algorithm", "fnv1a"]))
    assert cfg.algorithm == "fnv1a"


def test_filter_from(tmp_path):
    ff = tmp_path / "rules.txt"
    ff.write_text("# comment\n+ src/**\n- *.min.js\n")
    args = build_parser().parse_args(["t", "--filter-from", str(ff)])
    cfg = make_config(args)
    assert cfg.include == ("src/**",)
    assert cfg.exclude == ("*.min.js",)


def test_reference_flag_aliases_and_fast_mode():
    # reference spellings parse to the same dests as ours
    args = build_parser().parse_args(
        ["t", "--media-mode", "--media-similarity", "85", "--mode", "shortest_path",
         "--fast-mode", "--media-formats", "py, go"]
    )
    assert args.fuzzy and args.similarity == 85 and args.strategy == "shortest_path"
    cfg = make_config(args)
    assert cfg.algorithm == "xxhash64"        # --fast-mode default
    assert cfg.similarity_threshold == 0.85
    assert cfg.lang_preference == ("py", "go")
    # explicit --algorithm beats --fast-mode
    cfg2 = make_config(build_parser().parse_args(["t", "--fast-mode", "--algorithm", "sha1"]))
    assert cfg2.algorithm == "sha1"


def test_parse_resolution():
    from dedup_spark.__main__ import _resolution_arg

    assert _resolution_arg("highest") == ("highest", None)
    assert _resolution_arg("lowest") == ("lowest", None)
    assert _resolution_arg("1280x720") == ("closest_to", 1280 * 720)
    assert _resolution_arg("4096") == ("closest_to", 4096)


def test_cli_sort_by_and_human_sizes(spark, table, tmp_path, capsys):
    rpt = str(tmp_path / "sorted_report")
    assert main([table, "--sort-by", "path_length", "--sort-order", "desc",
                 "-o", rpt, "-f", "json"]) == 0
    rows = [json.loads(line) for line in
            open(next(p for p in __import__("pathlib").Path(rpt).glob("part-*")))]
    assert len(rows) == 1
    # desc path-length: b/two.py (8) vs a/one.py (8) tie → path asc tiebreak;
    # both same length here, so just assert columns exist and are humansized
    assert rows[0]["min_size_display"].endswith(" B")
    assert "files_csv" in rows[0]


def test_cli_media_preference_selection(spark, tmp_path, capsys):
    d = str(tmp_path / "pref.parquet")
    rows = [
        ("r1", "a/one.py", "c", "py", "alpha beta gamma delta"),
        ("r1", "b/two.go", "c", "go", "alpha beta gamma delta"),  # exact dup, go
    ]
    spark.createDataFrame(rows, SCHEMA).write.parquet(d)
    # prefer go over py: the kept file must be the .go one
    assert main([d, "--delete", "--media-formats", "go,py"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["plan_keep"] == 1 and out["plan_delete"] == 1
    # operator-level check that the preference ranks the .go file first
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.exact import exact_clusters
    from dedup_spark.operators.select import select_preferred
    from dedup_spark.plans.pipeline import DedupPipeline

    cfg = DedupConfig(lang_preference=("go", "py"))
    pipe = DedupPipeline(spark, cfg)
    clusters = exact_clusters(pipe.load(d), cfg, 2)
    kept = select_preferred(clusters, cfg.lang_preference).filter("is_kept").first()
    assert kept["lang"] == "go"


def test_human_size_units(spark):
    from dedup_spark.operators.report import human_size
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(500,), (1500,), (2_500_000,), (3_200_000_000,), (999_999,), (1000,)],
        "n long",
    )
    vals = [r["h"] for r in df.select(human_size("n").alias("h")).collect()]
    # 999_999 promotes to MB at the rounding boundary (never "1000.00 kB");
    # no locale comma grouping anywhere
    assert vals == ["500 B", "1.50 kB", "2.50 MB", "3.20 GB", "1.00 MB", "1.00 kB"]


def test_cli_version(capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit) as ei:
        build_parser().parse_args(["--version"])
    assert ei.value.code == 0
    assert "dedup_spark" in capsys.readouterr().out


def test_cli_log_file(spark, table, tmp_path, capsys):
    lf = str(tmp_path / "run.log")
    assert main([table, "--log-file", lf]) == 0
    logged = json.loads(open(lf).read().strip().splitlines()[-1])
    assert logged["duplicate_sets"] == 1


def test_cli_resolution_only_preference(spark, tmp_path, capsys):
    """--media-resolution without --media-formats must still apply
    (review fix: the gate used to require a format list)."""
    d = str(tmp_path / "res.parquet")
    rows = [
        ("r1", "a/long.py", "c", "py", "alpha beta gamma delta padding padding"),
        ("r1", "b/s.py", "c", "py", "alpha beta gamma delta padding padding"),
    ]
    spark.createDataFrame(rows, SCHEMA).write.parquet(d)
    # same content (exact dups); lowest-size keeps either (sizes equal) —
    # use the operator to assert the policy wires through
    from dedup_spark.operators.exact import exact_clusters
    from dedup_spark.operators.select import select_preferred
    from dedup_spark.config import DedupConfig
    from dedup_spark.plans.pipeline import DedupPipeline

    assert main([d, "--delete", "--media-resolution", "lowest"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["plan_keep"] == 1 and out["plan_delete"] == 1
    cfg = DedupConfig()
    clusters = exact_clusters(DedupPipeline(spark, cfg).load(d), cfg, 2)
    kept = select_preferred(clusters, (), resolution_policy="lowest").filter("is_kept")
    assert kept.count() == 1  # empty preference list is valid


def test_cli_resolution_malformed_is_clean_error(capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit) as ei:
        build_parser().parse_args(["t", "--media-resolution", "720p"])
    assert ei.value.code == 2  # argparse usage error, not a traceback
    # uppercase X parses (review fix)
    args = build_parser().parse_args(["t", "--media-resolution", "1280X720"])
    assert args.media_resolution == ("closest_to", 1280 * 720)


def test_cli_sort_by_modified_without_column_errors(spark, table, capsys):
    assert main([table, "--sort-by", "modified"]) == 2
    assert "modified_at" in capsys.readouterr().err
