"""The exact collapse and label step shared by the text engine and the
media signature graph (``exact.with_exact_rep``, ``cc.attach_labels``):
``DedupPipeline.collapse()`` keeps one representative per distinct
content, and no caller's output columns change shape — the media paths
never leak the collapse's ``_rn``/``exact_rep``, and ``run()`` keeps
``exact_rep``."""

from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.operators import multimodal as mm
from dedup_spark.plans.pipeline import DedupPipeline

CODE_DDL = "repo string, path string, commit string, lang string, content string"


def _code_files(spark):
    # three distinct contents, each carried by two paths
    rows = [
        ("r", f"p{i}", "c", "py", "def main return none for i in range " + "x" * (i % 3))
        for i in range(6)
    ]
    return spark.createDataFrame(rows, CODE_DDL)


def _assets(spark):
    # 8 assets per kind over 4 distinct payloads (fake decode): every
    # signature is shared by exactly two assets of one kind
    rows = []
    for i in range(8):
        for j, kind in enumerate(("image", "audio", "video")):
            rows.append((3 * i + j, kind, bytearray(bytes([i % 4]) * 64), None))
    return spark.createDataFrame(rows, mm.ASSET_SCHEMA)


def test_output_columns_match_their_pinned_lists(spark):
    assets = _assets(spark)
    pinned = {
        mm.image_near_dup_clusters: [
            "phash", "asset_id", "decoder", "width", "height", "cluster_id", "cluster_size",
        ],
        mm.audio_near_dup_clusters: ["afp", "asset_id", "decoder", "cluster_id", "cluster_size"],
        mm.video_near_dup_clusters: [
            "vfp", "asset_id", "n_frames_sampled", "decoder", "width", "height",
            "cluster_id", "cluster_size",
        ],
    }
    for fn, cols in pinned.items():
        assert fn(assets, fake=True).columns == cols, fn.__name__
    media = ["asset_id", "modality", "decoder", "cluster_id", "cluster_size"]
    assert mm.media_near_dup_clusters(assets, fake=True).columns == media
    with_meta = mm.media_near_dup_clusters(assets, fake=True, with_meta=True)
    assert with_meta.columns == media + ["width", "height"]
    # one row per asset; each signature is carried by two assets of one
    # kind, so every cluster holds whole pairs
    sizes = {r["asset_id"]: r["cluster_size"] for r in with_meta.collect()}
    assert len(sizes) == 24 and all(n % 2 == 0 for n in sizes.values())

    clusters = DedupPipeline(spark, DedupConfig()).run(_code_files(spark))
    assert clusters.columns == [
        "exact_rep", "file_id", "repo", "path", "commit", "lang", "size", "hash",
        "cluster_id", "cluster_size",
    ]


def test_collapse_keeps_one_min_id_rep_per_hash(spark):
    from dedup_spark.sources.loader import prepare_code_files

    cfg = DedupConfig()
    files = prepare_code_files(_code_files(spark), cfg)
    members, reps = DedupPipeline(spark, cfg).collapse(files)

    min_id = {
        r["hash"]: r["m"] for r in members.groupBy("hash").agg(F.min("file_id").alias("m")).collect()
    }
    got = {r["hash"]: r["file_id"] for r in reps.collect()}
    assert reps.count() == len(got) == len(min_id) == 3
    assert got == min_id
    # every member carries its group's representative, without the
    # signature arrays; reps carry signatures but no collapse columns
    assert all(r["exact_rep"] == min_id[r["hash"]] for r in members.collect())
    assert members.count() == 6
    assert not {"_rn", "minhash", "simhash", "n_shingles", "content"} & set(members.columns)
    assert {"minhash", "simhash"} <= set(reps.columns)
    assert not {"_rn", "exact_rep", "content"} & set(reps.columns)
