"""End-to-end cluster-assignment + recall fixture (the BASELINE.json
gate: dup-pair recall >= 0.99 at the frozen shingle/signature config).
Mirrors the reference's integration layer
(/root/reference/tests/integration_tests.rs:320-451).
"""

import pytest
from pyspark.sql import functions as F

from corpus import corpus_df, generate_corpus
from dedup_spark.config import RECALL_CONFIG
from dedup_spark.plans.pipeline import DedupPipeline


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(seed=42)


@pytest.fixture(scope="module")
def clusters(spark, corpus):
    pipe = DedupPipeline(spark, RECALL_CONFIG)
    return pipe.run(corpus_df(spark, corpus)).cache()


@pytest.fixture(scope="module")
def key2cid(clusters):
    return {
        (r["repo"], r["path"], r["commit"]): r["cluster_id"]
        for r in clusters.select("repo", "path", "commit", "cluster_id").collect()
    }


def test_recall_at_matched_config(corpus, key2cid):
    assert corpus.expected_pairs, "fixture must contain expected near-dup pairs"
    found = sum(
        1
        for ka, kb, _fam in corpus.expected_pairs
        if key2cid.get(ka) is not None and key2cid.get(ka) == key2cid.get(kb)
    )
    recall = found / len(corpus.expected_pairs)
    assert recall >= 0.99, f"recall {recall:.3f} ({found}/{len(corpus.expected_pairs)})"


def test_exact_sets_single_cluster(corpus, key2cid):
    for keys in corpus.expected_exact:
        labels = {key2cid[k] for k in keys}
        assert len(labels) == 1, f"exact set split: {keys} -> {labels}"


def test_boilerplate_not_merged(corpus, clusters, key2cid):
    # hot-shingle family: shared license header, distinct bodies — must
    # NOT all collapse into one cluster (precision guard for skew block)
    from corpus import LICENSE

    boiler_keys = [
        (r["repo"], r["path"], r["commit"])
        for r in corpus.rows
        if r["content"].startswith(LICENSE)
    ]
    import collections

    boiler_rows = [r for r in corpus.rows if r["content"].startswith(LICENSE)]
    labels = collections.Counter(
        key2cid[(r["repo"], r["path"], r["commit"])] for r in boiler_rows
    )
    # every boilerplate file has a distinct body → should be ~all distinct
    assert max(labels.values()) <= 2


def test_unique_files_stay_singletons(corpus, clusters):
    n_expected_clustered = sum(len(s) for s in corpus.expected_exact)
    dup_rows = clusters.filter("cluster_size >= 2").count()
    # clustered rows = exact members + near-dup families (bases+variants);
    # sanity bound: strictly fewer than half the corpus
    assert dup_rows < len(corpus.rows) * 0.65
    assert dup_rows >= n_expected_clustered


def test_determinism_across_runs(spark, corpus, clusters):
    pipe = DedupPipeline(spark, RECALL_CONFIG)
    again = pipe.run(corpus_df(spark, corpus))
    a = sorted((r["file_id"], r["cluster_id"]) for r in clusters.select("file_id", "cluster_id").collect())
    b = sorted((r["file_id"], r["cluster_id"]) for r in again.select("file_id", "cluster_id").collect())
    assert a == b


def test_sha256_invariant(spark, corpus, clusters):
    # per-row invariant (BASELINE.json input_hint): stored hash equals
    # sha256 of content for every surviving row. Cluster output is slim
    # (content stays in the source table) → join the body back by key.
    src = corpus_df(spark, corpus).select(
        "repo", "path", "commit", F.sha2("content", 256).alias("src_sha")
    )
    joined = clusters.join(src, ["repo", "path", "commit"], "left")
    assert joined.filter(F.col("src_sha").isNull()).count() == 0
    assert joined.filter(F.col("hash") != F.col("src_sha")).count() == 0


def test_plan_and_report_shapes(spark, clusters):
    pipe = DedupPipeline(spark, RECALL_CONFIG)
    report = pipe.report(clusters)
    assert report.filter("n_files < 2").count() == 0
    plan = pipe.plan(clusters.filter("cluster_size >= 2"))
    per_cluster = plan.groupBy("cluster_id").agg(
        F.sum(F.when(F.col("action") == "keep", 1).otherwise(0)).alias("kept")
    )
    assert per_cluster.filter("kept != 1").count() == 0


def test_skew_metrics_surface_dropped_buckets(spark):
    # force tiny caps: every bucket with >=2 members becomes "dropped"
    from dedup_spark.config import DedupConfig
    from dedup_spark.plans.pipeline import DedupPipeline

    rows = [(i, "r", f"p{i}", "c", "py", "def main return none for i in range") for i in range(5)]
    df = spark.createDataFrame(
        rows, "file_id long, repo string, path string, commit string, lang string, content string"
    )
    cfg = DedupConfig(band_bucket_cap=1)
    pipe = DedupPipeline(spark, cfg)
    sigs = pipe.signatures(df)
    over = pipe.skew_metrics(sigs)
    got = over.groupBy("source").count().collect()
    sources = {r["source"] for r in got}
    # 5 identical contents share every band and every block-pair value
    assert sources == {"lsh_band", "simhash_blockpair"}
    assert over.filter("n != 5").count() == 0


def test_reliable_checkpoint_mode_matches_local(spark, corpus, clusters, tmp_path):
    """checkpoint_mode='reliable' (real checkpoint files, executor-loss
    resumable) must produce identical cluster assignments to the default
    localCheckpoint mode, and must actually write checkpoint data."""
    import os

    cfg = RECALL_CONFIG.with_(
        checkpoint_mode="reliable", checkpoint_dir=str(tmp_path / "ckpt")
    )
    rel = DedupPipeline(spark, cfg).run(corpus_df(spark, corpus))
    a = sorted(
        (r["repo"], r["path"], r["commit"], r["cluster_id"])
        for r in rel.select("repo", "path", "commit", "cluster_id").collect()
    )
    b = sorted(
        (r["repo"], r["path"], r["commit"], r["cluster_id"])
        for r in clusters.select("repo", "path", "commit", "cluster_id").collect()
    )
    assert a == b
    ckpt = str(tmp_path / "ckpt")
    assert os.path.isdir(ckpt) and any(os.scandir(ckpt))  # files were written


def test_run_is_cluster_of_edges(spark):
    """``run()`` is graph assembly over ``edges()``: on a seeded synthetic
    corpus (exact and near copies), ``cluster(*edges(files))`` gives
    run()'s rows, and ``edges()`` returns the members with their exact
    representative plus the verified representative pairs."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.sources.loader import prepare_code_files
    from dedup_spark.sources.synth import synth_code_corpus

    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg)
    files = prepare_code_files(synth_code_corpus(spark, 40, seed=7, partitions=2), cfg).localCheckpoint()
    members, verified = pipe.edges(files)
    assert "exact_rep" in members.columns and members.count() == 40
    assert {"id_a", "id_b"} <= set(verified.columns)
    reps = {r["exact_rep"] for r in members.collect()}
    pairs = verified.select("id_a", "id_b").collect()
    assert pairs and all(r["id_a"] in reps and r["id_b"] in reps for r in pairs)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assembled = pipe.cluster(members, verified)
    run = pipe.run(files)
    assert assembled.columns == run.columns
    assert rows(assembled) == rows(run)
    assert rows(assembled.filter("cluster_size >= 2")) == rows(pipe.run(files, min_cluster_size=2))
