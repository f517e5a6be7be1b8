"""The media orchestrator's one graph: byte-shingle ("blob") assets join
the signature modalities before assembly, so ``media_near_dup_clusters``
runs ONE connected-components pass and ONE label join over all four
modalities, and gives blob rows the labels ``binary_near_dup_clusters``
gives them alone."""

import os
from unittest import mock

import numpy as np
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.imagecodec import encode_png_gray8
from dedup_spark.operators import cc
from dedup_spark.operators.multimodal import (
    ASSET_SCHEMA,
    binary_near_dup_clusters,
    media_near_dup_clusters,
)

BLOB = bytes(range(256)) * 16  # 4 KB structured payload, no magic
BLOB_IDS = (3, 4, 5, 6, 7)


def _assets(spark):
    yy, xx = np.mgrid[0:32, 0:32]
    png = encode_png_gray8(np.minimum(yy * 5 + xx * 3, 255).astype(np.uint8))
    mutated = bytearray(BLOB)
    mutated[100] ^= 0xFF  # near copy: one flipped byte
    rows = [
        (1, "", png, None),
        (2, "", png, None),
        (3, "", BLOB, None),
        (4, "", BLOB, None),  # exact copy of 3: labelled through exact_rep
        (5, "", bytes(mutated), None),  # a verified byte-shingle edge to 3
        (6, "", bytes((i * 37 + 11) % 251 for i in range(4096)), None),
        (7, "", png[: len(png) // 2], None),  # PNG magic, truncated: rerouted
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_blob_rows_match_the_byte_shingle_pipeline(spark):
    assets = _assets(spark)
    got = {
        r["asset_id"]: r for r in media_near_dup_clusters(assets).collect()
    }
    assert sorted(got) == [1, 2, *BLOB_IDS]
    alone = binary_near_dup_clusters(assets.filter(F.col("asset_id").isin(*BLOB_IDS)))
    want = {
        r["asset_id"]: (f"blob:{r['cluster_id']}", r["cluster_size"]) for r in alone.collect()
    }
    assert {a: (got[a]["cluster_id"], got[a]["cluster_size"]) for a in BLOB_IDS} == want
    assert all(got[a]["modality"] == "blob" and got[a]["decoder"] == "bytes" for a in BLOB_IDS)
    assert want[3] == want[4] == want[5] == ("blob:3", 3)
    assert want[6] == ("blob:6", 1) and want[7] == ("blob:7", 1)
    assert (got[1]["cluster_id"], got[2]["cluster_id"]) == ("image:1", "image:1")


def test_one_components_pass_for_every_modality(spark, tmp_path):
    """Under the small-graph strategy a components pass takes exactly
    one convergence checksum, so one build-and-write of the orchestrator
    makes one checksum call: the byte-shingle graph has no pass of its
    own."""
    with mock.patch.object(cc, "_checksum", wraps=cc._checksum) as checksum:
        media_near_dup_clusters(_assets(spark)).write.parquet(str(tmp_path / "out"))
    assert checksum.call_count == 1


def test_media_call_leaves_the_text_signature_store_alone(spark, tmp_path):
    """A store-bearing config is a text config: the byte-shingle
    pipeline must not save blob signatures, keyed (repo, path, commit)
    like text rows, into it."""
    from dedup_spark.plans.pipeline import DedupPipeline

    store = str(tmp_path / "store")
    cfg = DedupConfig(cache_path=store)
    code = spark.createDataFrame(
        [("r", f"p{i}", "c", "py", f"def f{i}(): return {i} + 1") for i in range(3)],
        "repo string, path string, commit string, lang string, content string",
    )
    DedupPipeline(spark, cfg).run(code).collect()  # seed one generation

    def listing():
        return sorted(
            (os.path.relpath(os.path.join(d, f), store), os.path.getsize(os.path.join(d, f)))
            for d, _, files in os.walk(store)
            for f in files
        )

    before = listing()
    assert before
    media_near_dup_clusters(_assets(spark), cfg).write.parquet(str(tmp_path / "out"))
    assert listing() == before
