"""Seeded benchmark inputs.

Each workload writes its program input (what ``DedupPipeline.run`` or
``media_near_dup_clusters`` reads) under the work directory. What the
output check needs to know stays on the benchmark side: a truth table
for text (the generator's debug columns), the asset-id layout for media.

The same seed gives the same bytes at any parallelism, because every
row is a pure function of (seed, row id).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ASSET_DDL = "asset_id long, kind string, payload binary, mime string"
GROUP = 3  # carriers per planted media group


def write_text_inputs(spark: SparkSession, n: int, seed: int, out_dir: str) -> dict:
    """``sources/synth.py`` corpus of ``n`` files: 60% originals, 20%
    exact copies, 20% near copies (Jaccard ~0.92). The debug columns
    go to the truth table only."""
    from dedup_spark.sources.synth import synth_code_corpus

    df = synth_code_corpus(spark, n, seed=seed, with_debug_cols=True, partitions=4)
    df = df.localCheckpoint()
    files = f"{out_dir}/files.parquet"
    truth = f"{out_dir}/truth.parquet"
    df.drop("_id", "_orig", "_is_near", "_n_mut").write.parquet(files)
    df.select("path", "_id", "_orig", "_is_near", "_n_mut").write.parquet(truth)
    return {"input": files, "truth": truth, "fingerprint": fingerprint(spark.read.parquet(files), "content")}


def fingerprint(df: DataFrame, col: str) -> dict:
    """Row count and ``bit_xor(xxhash64(col))``: equal fingerprints mean
    the parent and the change read identical inputs."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"), F.bit_xor(F.xxhash64(col)).alias("xor")
    ).first()
    return {"rows": int(row["rows"]), "xxhash64_xor": int(row["xor"])}


# ---- media --------------------------------------------------------------

# Group layout by gid % 10 (a group is GROUP consecutive asset ids):
# 0-2 image (PNG, lossless WebP, QOI); 3-5 audio (WAV, FLAC-in-Matroska,
# AU; the Matroska carrier sniffs as video and takes the video->audio
# retry); 6 video (Y4M, MJPEG-AVI, MJPEG-Matroska); 7 blob (random bytes
# plus two copies with flipped bytes: the byte-shingle path); 8-9
# singletons (three unrelated assets: image, audio, blob).
MEDIA_LAYOUT = {
    **{t: "image" for t in (0, 1, 2)},
    **{t: "audio" for t in (3, 4, 5)},
    6: "video",
    7: "blob",
    8: "single",
    9: "single",
}


def _media_payload(seed: int, aid: int) -> bytes:
    import numpy as np

    from dedup_spark.functions.audiocodec import encode_au_pcm16, encode_mka, encode_wav_pcm16
    from dedup_spark.functions.imagecodec import encode_png_gray8, encode_qoi_gray8
    from dedup_spark.functions.videocodec import encode_avi_mjpeg, encode_mkv_mjpeg, encode_y4m
    from dedup_spark.functions.webp import encode_webp_gray8

    gid, variant = divmod(aid, GROUP)
    role = MEDIA_LAYOUT[gid % 10]
    if role == "single":
        role = ("image", "audio", "blob")[variant]
        rng = np.random.RandomState([seed & 0xFFFFFFFF, aid, 1])
        variant = 0
    else:
        rng = np.random.RandomState([seed & 0xFFFFFFFF, gid, 0])
    # each carrier adds its own small noise, so carriers of one group
    # have near (not identical) signatures and the Hamming join has
    # pairs to find in every modality
    noise = np.random.RandomState([seed & 0xFFFFFFFF, aid, 2])
    if role == "image":
        img = rng.randint(0, 256, (24, 16)).astype(np.int16)
        if variant:
            img = img + noise.randint(-1, 2, img.shape)
        img = np.clip(img, 0, 255).astype(np.uint8)
        enc = (encode_png_gray8, lambda a: encode_webp_gray8(a, lz77=True), encode_qoi_gray8)
        return enc[variant](img)
    if role == "audio":
        # broadband clip with a falling spectrum (band energies well
        # above the carrier noise)
        n = 4096
        spec = np.fft.rfft(rng.standard_normal(n)) / (1.0 + np.fft.rfftfreq(n, 1 / 8000.0) / 500.0)
        x = np.fft.irfft(spec, n)
        x = x / np.max(np.abs(x)) * 0.8
        if variant:
            x = np.clip(x + 0.004 * noise.standard_normal(n), -1, 1)
        if variant == 0:
            return encode_wav_pcm16(x, 8000)
        if variant == 1:
            return encode_mka(x, 8000, codec="flac")
        return encode_au_pcm16(x, 8000)
    if role == "video":
        # blocky frames pHash stably through the lossy MJPEG carriers
        base = rng.randint(0, 256, (8, 8)).astype(np.uint8)
        img = np.kron(base, np.ones((4, 4), dtype=np.uint8))
        frames = np.stack([np.roll(img, 4 * t, axis=1) for t in range(4)])
        return (encode_y4m, encode_avi_mjpeg, encode_mkv_mjpeg)[variant](frames)
    # the text prefix keeps random bytes from passing for a format magic
    blob = bytearray(b"#blob\n" + rng.randint(0, 256, 2048).astype(np.uint8).tobytes())
    for i in range(variant):
        blob[300 + 700 * i] ^= 0xFF
    return bytes(blob)


def write_media_inputs(spark: SparkSession, n_groups: int, seed: int, out_dir: str) -> dict:
    """``n_groups`` x 3 assets, generated on the executors."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = [int(a) for a in pdf["id"]]
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    # no kind tag: routing goes by payload magic alone
                    "kind": ["blob"] * len(ids),
                    "payload": [_media_payload(seed, a) for a in ids],
                    "mime": [None] * len(ids),
                }
            )

    assets = f"{out_dir}/assets.parquet"
    spark.range(0, n_groups * GROUP, 1, 8).mapInPandas(gen, ASSET_DDL).write.parquet(assets)
    return {"input": assets, "fingerprint": fingerprint(spark.read.parquet(assets), "payload")}


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Hadoop ``.crc`` side files
    and markers are not counted as files but their bytes are."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return total, files
