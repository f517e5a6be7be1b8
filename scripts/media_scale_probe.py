"""End-to-end media-orchestrator scale probe.

Generates N mixed-format assets EXECUTOR-SIDE (deterministic per
asset_id — no driver bottleneck, no external data): groups of three
carriers of one source signal (images as PNG + lossless WebP + QOI;
audio as WAV + FLAC-in-Matroska + AU, the middle carrier routed
through the orchestrator's video→audio retry) plus unique
singletons, then runs the full
`media_near_dup_clusters` pipeline (real decode → each modality's
perceptual signature → one Hamming block-pair join and one CC over
all modalities, gated by modality in the bucket key) and reports

- wall seconds and assets/sec at each requested parallelism level,
- planted within-group pair recall (every 3-carrier group must land
  in ONE cluster),
- n_clusters, asserted IDENTICAL across levels (partition/parallelism
  invariance — the same gate bench_scaling.py applies to the text
  pipeline).

Usage: python3 scripts/media_scale_probe.py [n_assets] [cores ...]
Defaults: 60000 assets, levels 8 and 32. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _make_payload(aid: int) -> tuple[bytes, int]:
    """Deterministic asset for id: gid = aid // 3 picks the source
    signal; aid % 3 picks the carrier. Every 4th group is replaced by
    three unrelated singletons (distinct signals) so the probe also
    measures that non-dups stay apart."""
    import numpy as np

    from dedup_spark.functions.audiocodec import (
        encode_au_pcm16,
        encode_mka,
        encode_wav_pcm16,
    )
    from dedup_spark.functions.imagecodec import (
        encode_png_gray8,
        encode_qoi_gray8,
    )
    from dedup_spark.functions.webp import encode_webp_gray8

    gid = aid // 3
    variant = aid % 3
    singleton = gid % 4 == 0
    seed = aid if singleton else gid
    rng = np.random.RandomState(0xBEEF ^ seed)
    if gid % 2 == 0:  # image group
        img = rng.randint(0, 256, (24, 16)).astype(np.uint8)
        if variant == 0:
            return encode_png_gray8(img), gid
        if variant == 1:
            return encode_webp_gray8(img, lz77=True), gid
        return encode_qoi_gray8(img), gid
    if os.environ.get("MEDIA_PROBE_MASS"):
        # adversarial mass-duplicate regime: only 13 distinct audio
        # signals across ALL groups — thousands of identical
        # signatures per signal. Without the exact-signature collapse
        # in _signature_edges this overflows the 512
        # bucket cap and recall drops to ~1/3; with it, recall is 1.0
        # at any multiplicity.
        x = np.sin(np.linspace(0, 40 + (seed % 13), 4096)) * 0.3
    else:
        # diverse-corpus regime: distinct broadband signal per group
        # (bench_scaling's planted-pair design)
        x = np.clip(rng.standard_normal(4096) * 0.25, -1, 1)
    if variant == 0:
        return encode_wav_pcm16(x, 8000), gid
    if variant == 1:
        # FLAC-in-Matroska: sniffs as VIDEO by magic, so this carrier
        # exercises the orchestrator's video→audio reroute (one
        # anti-join retry) at probe scale — 1/3 of all audio assets
        # take that path and must still land in the group's cluster
        return encode_mka(x, 8000, codec="flac"), gid
    return encode_au_pcm16(x, 8000), gid


def run_level(cores: int, n_assets: int) -> dict:
    from pyspark.sql import functions as F

    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        media_near_dup_clusters,
    )
    from dedup_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid in pdf["id"]:
                payload, _gid = _make_payload(int(aid))
                rows.append(
                    {"asset_id": int(aid), "kind": "blob",
                     "payload": payload, "mime": None}
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in ASSET_SCHEMA.fields]
            )

    assets = (
        spark.range(n_assets)
        .repartition(max(cores * 4, 16))
        .mapInPandas(_gen, ASSET_SCHEMA)
    )
    t0 = time.time()
    out = media_near_dup_clusters(assets).select("asset_id", "cluster_id")
    agg = (
        out.withColumn("gid", (F.col("asset_id") / 3).cast("long"))
        .groupBy("gid")
        .agg(
            F.countDistinct("cluster_id").alias("n_cl"),
            F.count("*").alias("n"),
        )
    )
    planted = agg.filter((F.col("gid") % 4 != 0) & (F.col("n") == 3))
    stats = planted.agg(
        F.count("*").alias("groups"),
        F.sum(F.when(F.col("n_cl") == 1, 1).otherwise(0)).alias("merged"),
    ).collect()[0]
    n_clusters = out.select("cluster_id").distinct().count()
    wall = time.time() - t0
    spark.stop()
    groups = stats["groups"]
    return {
        "cores": cores,
        "n_assets": n_assets,
        "wall_s": round(wall, 1),
        "assets_per_sec": round(n_assets / wall, 1),
        "planted_groups": groups,
        "planted_group_recall": round(stats["merged"] / groups, 4),
        "n_clusters": n_clusters,
    }


def main() -> None:
    n_assets = int(sys.argv[1]) if len(sys.argv) > 1 else 60000
    levels = [int(a) for a in sys.argv[2:]] or [8, 32]
    results = [run_level(c, n_assets) for c in levels]
    invariant = len({r["n_clusters"] for r in results}) == 1
    recalls = {r["cores"]: r["planted_group_recall"] for r in results}
    out = {
        "metric": "media_orchestrator_scale_probe",
        "levels": results,
        "n_clusters_invariant_across_levels": invariant,
    }
    if len(results) >= 2:
        a, b = results[0], results[-1]
        ratio = b["cores"] / a["cores"]
        out["scaling_efficiency"] = round(
            (a["wall_s"] / b["wall_s"]) / ratio, 3
        )
    print(json.dumps(out))
    assert invariant, "n_clusters varies across parallelism levels"
    assert all(r == 1.0 for r in recalls.values()), recalls


if __name__ == "__main__":
    main()
