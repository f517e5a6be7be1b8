from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup_spark.operators.multimodal import (
    ASSET_SCHEMA,
    byte_shingles,
    decode_asset,
    detect_kind_from_magic,
    extract_asset_meta,
)
from dedup_spark.sources.assets import documents_as_assets

PNG = bytes.fromhex("89504e47") + b"fakepngdata"
MP3 = bytes.fromhex("49443303") + b"fakemp3data"


def _assets(spark):
    rows = [(1, "blob", PNG, None), (2, "blob", MP3, None), (3, "blob", b"xy", None)]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_detect_kind():
    assert detect_kind_from_magic(PNG) == "image"
    assert detect_kind_from_magic(MP3) == "audio"
    assert detect_kind_from_magic(b"no") == "blob"
    assert detect_kind_from_magic(None) == "blob"


def test_decode_stub_gated():
    with pytest.raises(NotImplementedError):
        decode_asset(PNG, "image")
    d = decode_asset(PNG, "image", fake=True)
    assert d["n_bytes"] == len(PNG)
    assert 0 <= d["concentration_q"] <= 1000


def test_extract_asset_meta(spark):
    out = {r["asset_id"]: r for r in extract_asset_meta(_assets(spark)).collect()}
    assert out[1]["kind"] == "image"
    assert out[2]["kind"] == "audio"
    assert out[3]["kind"] == "blob"
    assert out[1]["n_bytes"] == len(PNG)
    assert out[1]["magic"] == "89504e47"
    assert out[3]["magic"] is None


def test_extract_meta_deterministic(spark):
    a = extract_asset_meta(_assets(spark)).collect()
    b = extract_asset_meta(_assets(spark)).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_byte_shingles(spark):
    out = {r["asset_id"]: r["shingles"] for r in byte_shingles(_assets(spark), k=4, stride=2).collect()}
    # 4-byte shingles as 8-hex-char strings, stride 2 bytes
    assert all(len(s) == 8 for s in out[1])
    assert out[1][0] == "89504E47"
    # short payload → single whole-payload shingle
    assert out[3] == ["7879"]


def test_documents_as_assets(spark):
    assets = documents_as_assets(spark, "/root/testdata/sf0.001")
    assert assets.schema.fieldNames() == ["asset_id", "kind", "payload", "mime"]
    meta = extract_asset_meta(assets.limit(8))
    kinds = {r["kind"] for r in meta.collect()}
    assert kinds <= {"image", "audio", "video", "blob"}
    assert len(kinds) >= 3  # header cycling exercises several kinds


def test_binary_near_dup_clusters_merge_mutated_payload(spark):
    """End-to-end binary near-dup: a payload differing by a few bytes
    must cluster with its original; an unrelated payload must not."""
    from dedup_spark.operators.multimodal import binary_near_dup_clusters

    base = bytes(range(256)) * 16  # 4KB structured payload
    mutated = bytearray(base)
    mutated[100] ^= 0xFF  # single-byte flip
    other = bytes((i * 37 + 11) % 251 for i in range(4096))
    rows = [
        (1, "blob", bytes(base), None),
        (2, "blob", bytes(mutated), None),
        (3, "blob", other, None),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, mime string"
    )
    got = {r["asset_id"]: r["cluster_id"] for r in binary_near_dup_clusters(df).collect()}
    assert got[1] == got[2]
    assert got[3] != got[1]


# ---- resize / frame-sample / feature plumbing ----------------------------

MKV = bytes.fromhex("1a45dfa3") + bytes(range(256)) * 8  # ~2 KB "video"


def test_resize_nearest_math():
    import numpy as np

    from dedup_spark.operators.multimodal import resize_nearest

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    same = resize_nearest(img, 4, 4)
    assert np.array_equal(same, img)  # identity at equal dims
    half = resize_nearest(img, 2, 2)
    # nearest-neighbor picks rows 0,2 and cols 0,2
    assert np.array_equal(half, img[[0, 2]][:, [0, 2]])


def test_resize_images(spark):
    from dedup_spark.operators.multimodal import resize_images

    rows = [(1, "blob", PNG, None), (2, "blob", MP3, None)]
    out = resize_images(
        spark.createDataFrame(rows, ASSET_SCHEMA), out_w=8, out_h=6
    ).collect()
    # only the image row survives; audio is skipped
    assert [r["asset_id"] for r in out] == [1]
    r = out[0]
    assert (r["out_w"], r["out_h"]) == (8, 6)
    assert len(r["pixels"]) == 8 * 6
    assert r["src_w"] > 0 and r["src_h"] > 0
    # deterministic across runs
    again = resize_images(
        spark.createDataFrame(rows, ASSET_SCHEMA), out_w=8, out_h=6
    ).collect()[0]
    assert bytes(again["pixels"]) == bytes(r["pixels"])


def test_sample_frames(spark):
    from dedup_spark.operators.multimodal import _fake_duration_ms, sample_frames

    rows = [(1, "blob", MKV, None), (2, "blob", PNG, None)]
    out = sample_frames(
        spark.createDataFrame(rows, ASSET_SCHEMA), every_ms=500
    ).collect()
    # one-to-many: only the video row emits, one frame per 500 ms
    assert {r["asset_id"] for r in out} == {1}
    expect = min(64, max(1, _fake_duration_ms(MKV) // 500))
    assert len(out) == expect
    assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == list(
        range(expect)
    )
    assert all(r["ts_ms"] == r["frame_idx"] * 500 for r in out)
    assert all(len(r["frame"]) >= 1 for r in out)


def test_sample_frames_max_frames_clip(spark):
    from dedup_spark.operators.multimodal import sample_frames

    rows = [(1, "blob", MKV, None)]
    out = sample_frames(
        spark.createDataFrame(rows, ASSET_SCHEMA), every_ms=10, max_frames=5
    ).collect()
    assert len(out) == 5
    assert max(r["frame_idx"] for r in out) == 4  # clip is visible, not silent


def test_extract_features_feeds_embedding_ops(spark):
    """Multimodal → embedding-dedup loop: byte-histogram features from
    binary payloads run straight through cosine_near_dup_pairs."""
    import numpy as np

    from dedup_spark.operators.multimodal import extract_features
    from dedup_spark.operators.similarity import cosine_near_dup_pairs

    twin_a = PNG + bytes(range(200)) * 10
    twin_b = PNG + bytes(range(200)) * 10 + b"\x01\x02"  # tiny mutation
    other = MP3 + bytes([7, 7, 7, 9]) * 500
    rows = [(1, "blob", twin_a, None), (2, "blob", twin_b, None), (3, "blob", other, None)]
    feats = extract_features(spark.createDataFrame(rows, ASSET_SCHEMA), dim=32)
    vecs = {r["asset_id"]: np.array(r["embedding"]) for r in feats.collect()}
    assert all(abs(np.linalg.norm(v) - 1.0) < 1e-5 for v in vecs.values())
    pairs = cosine_near_dup_pairs(
        feats.select(F.col("asset_id").alias("vec_id"), "embedding"), threshold=0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_kind_table_routes_by_magic():
    """detect_kind_from_magic gives each payload its expected routed
    kind over every magic family, short payloads, and garbage."""
    import numpy as np

    from dedup_spark.functions.audiocodec import encode_wav_pcm16
    from dedup_spark.functions.imagecodec import (
        encode_bmp_gray8,
        encode_ico_gray8,
        encode_png_gray8,
    )
    from dedup_spark.functions.jpegcodec import encode_jpeg_gray8
    from dedup_spark.functions.videocodec import encode_avi_mjpeg, encode_y4m

    img = np.zeros((8, 8), dtype=np.uint8)
    frames = np.zeros((2, 8, 8), dtype=np.uint8)
    expected = [
        (encode_png_gray8(img), "image"),
        (encode_bmp_gray8(img), "image"),
        (encode_jpeg_gray8(img), "image"),
        (encode_wav_pcm16(np.zeros(64), 8000), "audio"),
        (encode_y4m(frames), "video"),
        (encode_avi_mjpeg(frames), "video"),
        (b"ID3\x03 mp3 bytes", "audio"),
        (b"\x1a\x45\xdf\xa3 matroska", "video"),
        (b"BMW text, not a bitmap", "blob"),
        (b"RIFF\x00\x00\x00\x00XXXX", "blob"),  # RIFF but unknown form type
        (b"", "blob"),
        (b"ab", "blob"),
        (b"plain text payload", "blob"),
        (b"\xff\xd8\xff", "blob"),  # 3-byte JPEG SOI only (len < 4 -> blob)
        (b"\x00\x00\x00\x14ftypisom\x00\x00\x00\x00isom", "video"),  # ISO-BMFF
        (b"\x89PNGftyp!!", "image"),  # crafted: 4-byte magic family must WIN over offset-4 ftyp
        (b"GIF89a\x04\x00\x04\x00\x00\x00\x00", "image"),  # GIF
        (b"fLaC\x80\x00\x00\x22" + bytes(34), "audio"),  # FLAC
        (b"\x00\x00\x01\xb3\x02\x00\x20" + bytes(8), "video"),  # MPEG-1/2 ES
        (b"OggS\x00\x02" + bytes(24), "audio"),  # Ogg
        (b"\xff\xfb\x90\x00" + bytes(16), "audio"),  # raw MP3 frame sync
        (b"\xff\xff\xff\xff" + bytes(16), "blob"),  # sync but bad bitrate
        (b"\xff\xe0\x00\x00" + bytes(16), "blob"),  # sync but reserved layer
        (b"II\x2a\x00" + bytes(16), "image"),  # TIFF little-endian
        (b"MM\x00\x2a" + bytes(16), "image"),  # TIFF big-endian
        (b"IIRO\x08\x00\x00\x00" + bytes(8), "image"),  # Olympus ORF
        (b"IIRS\x08\x00\x00\x00" + bytes(8), "image"),  # ORF "IIRS" variant
        (b"II\x55\x00\x18\x00\x00\x00" + bytes(8), "image"),  # Panasonic RW2
        (b"IIRX\x08\x00\x00\x00" + bytes(8), "blob"),  # near-miss magic word
        (b"II\x55\x01" + bytes(12), "blob"),  # near-miss RW2 magic
        (b"MMOR" + bytes(12), "blob"),  # big-endian ORF form not recognized
        (b"\x00\x00\x00\x10moov" + bytes(8), "video"),  # legacy QuickTime
        (b"\x00\x00\x00\x08wide" + bytes(8), "video"),  # legacy QuickTime
        (b"abcdfree text, not a movie at all", "blob"),  # implausible size
        (b"\x00\x00\x00\x04moov" + bytes(12), "blob"),  # size < 8
        (b"\x00\x00\x00\x40mdat" + bytes(8), "blob"),  # size > file length
        (b"qoif\x00\x00\x00\x08\x00\x00\x00\x08\x03\x00", "image"),  # QOI
        (b"farbfeld\x00\x00\x00\x02\x00\x00\x00\x02", "image"),  # farbfeld
        (b"farbfel_ not quite", "blob"),  # 8-byte magic near-miss
        (b"P5\n8 8\n255\n" + bytes(64), "image"),  # binary PGM
        (b"P6 # c\n2 2 255 " + bytes(12), "image"),  # binary PPM, comment
        (b"P2\n2 2\n255\n0 1 2 3\n", "blob"),  # ASCII PGM = text at magic layer
        (b"P5x8 8", "blob"),  # no whitespace after variant
        (b"Peter wrote plain text", "blob"),  # 'P' + letter
        (b"\x00\x00\x01\x00\x01\x00" + bytes(20), "image"),  # ICO, 1 entry
        (b"\x00\x00\x01\x00\x00\x00" + bytes(20), "blob"),  # ICO count 0
        (b"\x00\x00\x01\x00\xff\x00" + bytes(20), "blob"),  # ICO count 255
        (b"\x00\x00\x01\x00\x01\x01" + bytes(20), "blob"),  # count high byte
        (b"#?RADIANCE\nFORMAT=32-bit_rle_rgbe\n\n-Y 2 +X 2\n", "image"),  # HDR
        (b"#?RGBE\n\n-Y 1 +X 1\n" + bytes(4), "image"),  # RGBE variant
        (b"#?RADIANT text, not an hdr", "blob"),  # near-miss
        (b"#? comment-looking text", "blob"),  # near-miss
        (b"DDS |" + bytes(124), "image"),  # DDS
        (b"DDSX not a surface", "blob"),  # near-miss
        (b"FORM\x00\x00\x00\x20AIFF" + bytes(8), "audio"),  # AIFF
        (b"FORM\x00\x00\x00\x20AIFC" + bytes(8), "audio"),  # AIFF-C
        (b"FORM\x00\x00\x00\x208SVX" + bytes(8), "blob"),  # other IFF form
        (b".snd" + bytes(20), "audio"),  # Sun AU
        (b".sndwich text, oddly", "audio"),  # AU magic is only 4 bytes -> audio (header validates later)
        (b"\x00\x00\x01\xba\x44\x00\x04\x00\x04\x01\x00\x00\x03\xf8", "video"),  # MPEG-PS
        (b"\x00\x00\x01\xb9", "blob"),  # program end alone: not a pack header
        ((b"\x47" + bytes(187)) * 3, "video"),  # MPEG-TS: 3 sync'd packets
        ((b"\x47" + bytes(187)) * 2, "blob"),  # only 2 packets -> blob (too weak)
        (b"\x47" + bytes(187) + b"\x48" + bytes(187) + b"\x47" + bytes(187), "blob"),  # broken sync
        (b"G major chord text " * 40, "blob"),  # 'G'-led text, no 188-sync
        (b"FLV\x01\x05\x00\x00\x00\x09\x00\x00\x00\x00", "video"),  # FLV
        (b"FLV\x02 wrong version text", "blob"),  # FLV needs version 1
        (b"\x30\x26\xb2\x75\x8e\x66\xcf\x11\xa6\xd9\x00\xaa\x00\x62\xce\x6c", "video"),  # ASF
        (b"\x30\x26\xb2\x74 near-miss guid", "blob"),  # not the ASF guid
        ((b"\x47" + bytes(203)) * 3, "video"),  # 204-byte DVB TS
        ((b"\x47" + bytes(195)) * 3, "blob"),  # 196-byte stride: neither form
        # inputs where the hand-written sniffers used to disagree; each
        # now follows the one table row (choices listed in CHANGES.md)
        (b"BM\x36\x00\x00\x00\x01\x00\x00\x00" + bytes(8), "blob"),  # BMP reserved bytes nonzero
        (b"GIF8 text, not a gif", "blob"),  # GIF needs GIF87a/GIF89a
        (b"GIF87a\x04\x00\x04\x00\x00\x00\x00", "image"),  # GIF87a
        (b"YUV4 text, not a stream", "blob"),  # Y4M needs YUV4MPEG2
        (b"YUV4MPEG2 W8 H8 F25:1\n", "video"),
        (encode_ico_gray8(img, png_entry=False), "image"),  # ICO passing is_ico too
        (b"P5\nxyz not a header", "blob"),  # PNM whitespace then no digit
        (b"\xff\xea\x90\x00" + bytes(16), "blob"),  # MPEG sync, reserved version
        (b"\xff\xf1\x50\x80" + bytes(16), "blob"),  # ADTS: token aac, routed blob
        (b"\x30\x26\xb2\x75 only the 4-byte prefix", "blob"),  # ASF needs the full GUID
        (b"\x89PNG not the 8-byte signature", "image"),  # PNG 4-byte magic
        (b"ID3\x04\x00 v2.4 tag", "audio"),  # any ID3v2 version
        (b"\xff\xd8\xff\xe0JFIF", "image"),  # 8 bytes, under the old 12-byte format floor
        (b"\x00\x00\x00\x08ftyp", "video"),  # 8-byte ISO-BMFF
        (b"RIFFftyp" + bytes(8), "video"),  # unknown RIFF form, ftyp at offset 4
    ]
    for i, (payload, kind) in enumerate(expected):
        assert detect_kind_from_magic(payload) == kind, (i, payload[:12])


def test_format_row_decoder_is_the_only_dispatch(spark):
    """Swapping one format-table row's decoder (in the test process) routes
    that format through the swap inside media_near_dup_clusters: no
    second dispatch chain remains. Every other row, and every cluster,
    is unchanged."""
    from unittest import mock

    import numpy as np

    from dedup_spark.functions.audiocodec import encode_wav_pcm16
    from dedup_spark.functions.formats import FORMATS
    from dedup_spark.functions.imagecodec import encode_png_gray8, encode_qoi_gray8
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    yy, xx = np.mgrid[0:32, 0:32]
    img = np.minimum(yy * 5 + xx * 3, 255).astype(np.uint8)
    x = np.sin(np.linspace(0, 300, 8000)) * 0.5
    rows = [
        (1, "blob", bytearray(encode_png_gray8(img)), None),
        (2, "blob", bytearray(encode_png_gray8(img[:, ::-1])), None),
        (3, "blob", bytearray(encode_qoi_gray8(img)), None),
        (4, "blob", bytearray(encode_wav_pcm16(x, 8000)), None),
        (5, "blob", bytearray(b"plain text blob " * 30), None),
    ]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)

    def run():
        return {
            r["asset_id"]: (r["decoder"], r["cluster_id"], r["cluster_size"])
            for r in media_near_dup_clusters(df).collect()
        }

    png = next(r for r in FORMATS if r.token == "png")
    real = png.pixels

    def swapped(raw):
        img_, w, h, _dec = real(raw)
        return img_, w, h, "png-swapped"

    base = run()
    with mock.patch.object(png, "pixels", swapped):
        got = run()
    assert {a: d for a, (d, _c, _n) in got.items()} == {
        1: "png-swapped", 2: "png-swapped", 3: "qoi", 4: "wav", 5: "bytes"
    }
    assert {a: v[1:] for a, v in got.items()} == {a: v[1:] for a, v in base.items()}
    assert {a: v[0] for a, v in base.items()}[1] == "png"
    assert got[1][1] == got[3][1] != got[2][1]  # PNG twin + QOI merge


def test_media_orchestrator_decodes_once_per_modality(spark):
    """The decode+fingerprint mapInPandas frame feeds BOTH the
    clustering branch and the leftover anti-join; the orchestrator
    must lineage_cut it ONE time so both consumers share a single
    materialization. Regression: the final plan must not contain the
    decode UDF at all (it lives behind the cut's LogicalRDD) — if
    either branch re-derived it from the raw assets, `_sigs` would
    reappear in the optimized plan and JPEG-heavy corpora
    (~116 ms/asset) would pay decode twice."""
    import numpy as np

    from dedup_spark.functions.imagecodec import encode_png_gray8
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    img = (np.arange(64 * 64, dtype=np.uint8).reshape(64, 64)) % 251
    rows = [
        (1, "", bytearray(encode_png_gray8(img)), ""),
        (2, "", b"plain text blob" * 20, ""),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, mime string"
    )
    out = media_near_dup_clusters(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_sigs(" not in plan, plan
    assert out.count() == 2  # and the shared-cut plan still executes


def test_media_orchestrator_decodes_in_one_python_pass(spark):
    """Every modality, and the video→audio retry, decode in ONE
    MapInPandas: among the plans the orchestrator materializes, exactly
    one Python map reads the payload (three when each modality had its
    own stage)."""
    from unittest import mock

    import numpy as np

    import dedup_spark.checkpoint as ckpt
    from dedup_spark.functions.audiocodec import encode_mka, encode_wav_pcm16
    from dedup_spark.functions.imagecodec import encode_png_gray8
    from dedup_spark.functions.videocodec import encode_y4m
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    img = (np.arange(32 * 32, dtype=np.uint8).reshape(32, 32)) % 251
    clip = np.sin(np.linspace(0, 300, 8000)) * 0.5
    rows = [
        (1, "", encode_png_gray8(img), None),
        (2, "", encode_wav_pcm16(clip, 8000), None),
        (3, "", encode_y4m(np.stack([img] * 4)), None),
        (4, "", encode_mka(clip, 8000), None),
        (5, "", b"plain text blob" * 20, None),
    ]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    real, plans = ckpt.lineage_cut, []

    def spy(frame, cfg, eager=True):
        plans.append(frame._jdf.queryExecution().optimizedPlan().toString())
        return real(frame, cfg, eager)

    with mock.patch.object(ckpt, "lineage_cut", spy):
        out = {r["asset_id"]: r["modality"] for r in media_near_dup_clusters(df).collect()}
    assert out == {1: "image", 2: "audio", 3: "video", 4: "audio", 5: "blob"}
    decode = [
        line for plan in plans for line in plan.splitlines()
        if "MapInPandas" in line and "payload#" in line
    ]
    assert len(decode) == 1, decode


def test_media_orchestrator_rows_match_per_modality_functions(spark):
    """The one decode pass gives each asset the same (modality,
    decoder, cluster_id, cluster_size) as the per-modality functions
    on the assets each one can fingerprint, with the byte-shingle path
    taking the rest: an audio-only Matroska takes the video→audio
    retry, a corrupt PNG reroutes to ``blob`` and a magic-less TGA
    routes by its kind tag."""
    import numpy as np

    from dedup_spark.functions.audiocodec import encode_mka, encode_wav_pcm16
    from dedup_spark.functions.imagecodec import encode_png_gray8, encode_tga_gray8
    from dedup_spark.functions.videocodec import encode_y4m
    from dedup_spark.operators.multimodal import (
        audio_near_dup_clusters,
        binary_near_dup_clusters,
        image_near_dup_clusters,
        media_near_dup_clusters,
        video_near_dup_clusters,
    )

    yy, xx = np.mgrid[0:32, 0:32]
    img = np.minimum(yy * 5 + xx * 3, 255).astype(np.uint8)
    other = (255 - np.minimum(yy * 2 + xx * 7, 255)).astype(np.uint8)
    clip = np.sin(np.linspace(0, 300, 8000)) * 0.5
    png = encode_png_gray8(img)
    blob = bytes(range(256)) * 8
    mka, corrupt = 5, 6
    rows = [
        (1, "", png, None),
        (2, "image", encode_tga_gray8(img), None),  # no magic: the tag routes it
        (3, "", encode_png_gray8(other), None),
        (4, "", encode_wav_pcm16(clip, 8000), None),
        (mka, "", encode_mka(clip, 8000, codec="pcm"), None),  # sniffs as video
        (corrupt, "", png[: len(png) // 2], None),  # PNG magic, truncated body
        (7, "", encode_y4m(np.stack([img, other] * 2)), None),
        (8, "", encode_y4m(np.stack([img, other] * 2)), None),
        (9, "", blob, None),
        (10, "", blob[:-8] + b"tailtail", None),
    ]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {
        r["asset_id"]: (r["modality"], r["decoder"], r["cluster_id"], r["cluster_size"])
        for r in media_near_dup_clusters(df).collect()
    }
    aid = F.col("asset_id")
    per_modality = (
        ("image", image_near_dup_clusters(df.filter(aid != corrupt))),
        # the retry, spelled out: the Matroska row as the audio path sees it
        ("audio", audio_near_dup_clusters(
            df.withColumn("kind", F.when(aid == mka, "audio").otherwise(F.col("kind")))
        )),
        ("video", video_near_dup_clusters(df.filter(aid != mka))),
        ("blob", binary_near_dup_clusters(df.filter(aid.isin(corrupt, 9, 10)))
            .withColumn("decoder", F.lit("bytes"))),
    )
    want = {
        r["asset_id"]: (m, r["decoder"], f"{m}:{r['cluster_id']}", r["cluster_size"])
        for m, frame in per_modality
        for r in frame.collect()
    }
    assert got == want
    assert got[2][:3] == ("image", "tga", got[1][2])
    assert got[mka][0] == "audio" and got[mka][2] == got[4][2]
    assert got[corrupt][:2] == ("blob", "bytes")


def test_media_near_dup_clusters_routes_by_kind(spark):
    """The unified orchestrator: one near-dup copy per modality must
    merge within its kind and NEVER across kinds (the reference's
    same-kind gate), blobs falling through to byte-shingle dedup."""
    import numpy as np

    from dedup_spark.functions.imagecodec import encode_png_gray8
    from dedup_spark.functions.audiocodec import encode_wav_pcm16
    from dedup_spark.functions.videocodec import encode_y4m
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    rng = np.random.default_rng(3)
    yy, xx = np.mgrid[0:64, 0:64]
    img = np.minimum(yy * 2 + xx * 3, 255).astype(np.uint8)
    img_noisy = np.clip(
        img.astype(np.int16) + rng.integers(-3, 4, img.shape), 0, 255
    ).astype(np.uint8)
    # broadband audio clip + noisy copy
    n = 16000
    spec = np.fft.rfft(rng.standard_normal(n))
    f = np.fft.rfftfreq(n, 1 / 8000.0)
    clip = np.fft.irfft(spec / (1.0 + f / 500.0), n)
    clip = clip / np.max(np.abs(clip)) * 0.8
    clip_noisy = np.clip(clip + 0.02 * rng.standard_normal(n), -1, 1)
    frames = np.stack([np.minimum(yy * 2 + xx + 4 * t, 255).astype(np.uint8) for t in range(8)])
    blob = bytes(range(256)) * 16
    blob_noisy = bytearray(blob)
    blob_noisy[100] ^= 0xFF

    rows = [
        (1, "", bytearray(encode_png_gray8(img)), ""),
        (2, "", bytearray(encode_png_gray8(img_noisy)), ""),
        (3, "", bytearray(encode_wav_pcm16(clip, 8000)), ""),
        (4, "", bytearray(encode_wav_pcm16(clip_noisy, 8000)), ""),
        (5, "", bytearray(encode_y4m(frames)), ""),
        (6, "", bytearray(blob), ""),
        (7, "", bytes(blob_noisy), ""),
        # recognized-but-undecodable kinds (MP3 magic -> audio, MKV ->
        # video): with fake=False these must NOT kill the job — they
        # reroute to the byte-shingle blob path, visibly decoder='bytes'
        (8, "", bytearray(b"ID3\x03" + bytes(blob)), ""),
        (9, "", bytearray(b"\x1a\x45\xdf\xa3" + bytes(blob)), ""),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, mime string"
    )
    out = {r["asset_id"]: r for r in media_near_dup_clusters(df).collect()}
    assert len(out) == 9  # every asset lands in exactly one row
    assert {out[i]["modality"] for i in (1, 2)} == {"image"}
    assert {out[i]["modality"] for i in (3, 4)} == {"audio"}
    assert out[5]["modality"] == "video"
    assert {out[i]["modality"] for i in (6, 7, 8, 9)} == {"blob"}
    assert out[1]["decoder"] == "png" and out[3]["decoder"] == "wav"
    assert out[5]["decoder"] == "y4m"
    assert all(out[i]["decoder"] == "bytes" for i in (6, 7, 8, 9))
    assert out[1]["cluster_id"] == out[2]["cluster_id"]      # image pair merges
    assert out[3]["cluster_id"] == out[4]["cluster_id"]      # audio pair merges
    assert out[6]["cluster_id"] == out[7]["cluster_id"]      # blob pair merges
    # the ID3/MKV payloads share blob's byte content after their magic
    # prefixes -- near-dup byte shingles merge all four
    assert out[8]["cluster_id"] == out[6]["cluster_id"]
    assert out[9]["cluster_id"] == out[6]["cluster_id"]
    # cross-kind labels can never collide (namespaced)
    ids = {out[i]["cluster_id"] for i in (1, 3, 5, 6)}
    assert len(ids) == 4
    assert out[5]["cluster_size"] == 1


def test_media_orchestrator_magic_beats_tag(spark):
    """Routing reads the payload magic first and the caller's kind tag
    only where no routed format row matches: a PNG tagged audio is an
    image; an ASCII PGM (a ``blob`` row at the magic layer) tagged image
    decodes as an image; random bytes tagged video fail the video decode
    and end on the byte-shingle path."""
    import numpy as np

    from dedup_spark.functions.imagecodec import encode_png_gray8, encode_pnm_gray8
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    yy, xx = np.mgrid[0:16, 0:16]
    img = np.minimum(yy * 9 + xx * 5, 255).astype(np.uint8)
    pgm = encode_pnm_gray8(img, ascii_variant=True)
    noise = np.random.default_rng(5).integers(0, 256, 2048, dtype=np.uint8).tobytes()
    assert detect_kind_from_magic(pgm) == detect_kind_from_magic(noise) == "blob"
    rows = [
        (1, "audio", bytearray(encode_png_gray8(img)), None),
        (2, "image", bytearray(pgm), None),
        (3, "video", bytearray(noise), None),
    ]
    out = {
        r["asset_id"]: (r["modality"], r["decoder"])
        for r in media_near_dup_clusters(spark.createDataFrame(rows, ASSET_SCHEMA)).collect()
    }
    assert out == {1: ("image", "png"), 2: ("image", "pgm"), 3: ("blob", "bytes")}


def test_one_signature_graph_gates_on_modality(spark):
    """One Hamming join + CC over several modalities' signatures keyed
    by ``modality``: cross-modality rows with an equal signature, or
    one within simhash_radius, never pair, never share a
    representative and never count in each other's cluster_size."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.multimodal import _signature_near_dup_clusters
    from dedup_spark.operators.simhash_join import simhash_candidate_pairs

    s = 0x5A5A_F0F0_1234_ABCD
    t = 0x0F0F_3C3C_9876_5432
    rows = [
        (1, "image", s),
        (2, "audio", s),           # same 64-bit signature, other modality
        (3, "image", t),
        (4, "audio", t ^ 0b111),   # 3 bits from 3, other modality
        (5, "image", s ^ 1),       # 1 bit from 1: the image pair
        (6, "audio", s),           # exact copy of 2: the audio pair
    ]
    sigs = spark.createDataFrame(rows, "asset_id long, modality string, sig long")
    cfg = DedupConfig()
    out = {
        r["asset_id"]: (r["modality"], r["cluster_id"], r["cluster_size"])
        for r in _signature_near_dup_clusters(sigs, "sig", cfg, by=("modality",)).collect()
    }
    assert out == {
        1: ("image", 1, 2), 5: ("image", 1, 2),
        2: ("audio", 2, 2), 6: ("audio", 2, 2),
        3: ("image", 3, 1), 4: ("audio", 4, 1),
    }
    pairs = simhash_candidate_pairs(
        sigs.withColumnRenamed("sig", "simhash"), cfg, id_col="asset_id", by=("modality",)
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 5), (2, 6)}


def test_bucket_cap_counts_per_modality(spark):
    """A block-pair value shared by two modalities, each at or under
    band_bucket_cap but over it together, still yields each modality's
    pairs: the cap counts the members of one modality, as it did when
    every modality ran its own join."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.multimodal import _signature_near_dup_clusters
    from dedup_spark.operators.simhash_join import simhash_candidate_pairs

    s = 0x1111_2222_3333_4444
    rows = [
        (1, "image", s), (2, "image", s ^ 1),
        (3, "audio", s), (4, "audio", s ^ 1),
    ]
    sigs = spark.createDataFrame(rows, "asset_id long, modality string, simhash long")
    cfg = DedupConfig().with_(band_bucket_cap=2)  # 2 per modality, 4 together
    gated = simhash_candidate_pairs(sigs, cfg, id_col="asset_id", by=("modality",))
    assert {(r["id_a"], r["id_b"]) for r in gated.collect()} == {(1, 2), (3, 4)}
    # without the gate every bucket 1-2 and 3-4 share holds 4 > cap
    # members and is dropped; only the cross-modality twins remain
    ungated = simhash_candidate_pairs(sigs, cfg, id_col="asset_id")
    assert {(r["id_a"], r["id_b"]) for r in ungated.collect()} == {(1, 3), (2, 4)}
    out = {
        r["asset_id"]: (r["cluster_id"], r["cluster_size"])
        for r in _signature_near_dup_clusters(
            sigs.withColumnRenamed("simhash", "sig"), "sig", cfg, by=("modality",)
        ).collect()
    }
    assert out == {1: (1, 2), 2: (1, 2), 3: (3, 2), 4: (3, 2)}


def test_media_clusters_match_per_modality_paths(spark):
    """Regression pin: on a mixed image/audio/video fixture the
    orchestrator's one cross-modality graph gives each modality the
    same clusters (ids and sizes) as that modality's own
    image/audio/video_near_dup_clusters run."""
    import numpy as np

    from dedup_spark.functions.audiocodec import encode_wav_pcm16
    from dedup_spark.functions.imagecodec import encode_bmp_gray8, encode_png_gray8
    from dedup_spark.functions.videocodec import encode_y4m
    from dedup_spark.operators.multimodal import (
        audio_near_dup_clusters,
        image_near_dup_clusters,
        media_near_dup_clusters,
        video_near_dup_clusters,
    )

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:48, 0:48]
    images = [
        np.minimum(yy * 3 + xx * 2, 255).astype(np.uint8),
        (255 - np.minimum(yy * 2 + xx * 5, 255)).astype(np.uint8),
        rng.integers(0, 256, (48, 48)).astype(np.uint8),
    ]
    clips = [np.sin(np.linspace(0, f, 8000)) * 0.6 for f in (300.0, 1700.0)]
    clips.append(np.clip(rng.standard_normal(8000) * 0.3, -1, 1))

    def noisy(a, amp):
        return np.clip(a.astype(np.int16) + rng.integers(-amp, amp + 1, a.shape), 0, 255).astype(np.uint8)

    payloads = [
        encode_png_gray8(images[0]), encode_bmp_gray8(images[0]),
        encode_png_gray8(noisy(images[0], 2)),
        encode_png_gray8(images[1]), encode_bmp_gray8(images[1]),
        encode_png_gray8(images[2]),
        encode_wav_pcm16(clips[0], 8000), encode_wav_pcm16(clips[0] * 0.5, 8000),
        encode_wav_pcm16(clips[1], 8000), encode_wav_pcm16(clips[2], 8000),
        encode_wav_pcm16(clips[2], 8000),
    ]
    # still clips of the images: each video's signature equals (or is
    # within radius of) an image's, so only the modality gate keeps
    # them apart
    for k in range(3):
        payloads.append(encode_y4m(np.stack([images[k]] * 4)))
        if k < 2:
            payloads.append(encode_y4m(np.stack([noisy(images[k], 2)] * 4)))
    rows = [(i + 1, "blob", bytearray(p), None) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)

    got = {
        r["asset_id"]: (r["modality"], r["cluster_id"], r["cluster_size"])
        for r in media_near_dup_clusters(df).collect()
    }
    want = {}
    for modality, fn in (
        ("image", image_near_dup_clusters),
        ("audio", audio_near_dup_clusters),
        ("video", video_near_dup_clusters),
    ):
        for r in fn(df).collect():
            want[r["asset_id"]] = (modality, f"{modality}:{r['cluster_id']}", r["cluster_size"])
    assert got == want
    # the fixture is not trivial: every modality has a merged cluster
    assert {m for m, _c, n in got.values() if n > 1} == {"image", "audio", "video"}


def test_media_orchestrator_routes_round5_codecs(spark):
    """The round-5 decoders ride the SAME orchestrator sniff: Ogg →
    audio/vorbis, MPEG-1/2 elementary streams → video/m1v|m2v, MP3 →
    audio/mp3 — real frame/sample decode (not the blob reroute), and
    same-content cross-format pairs merge within their kind."""
    import numpy as np

    from test_mpeg3 import rec_clip

    from dedup_spark.config import DedupConfig
    from dedup_spark.functions.mpeg1video import encode_m1v, encode_m2v
    from dedup_spark.functions.mpeg3 import encode_mp3_pcm16
    from dedup_spark.functions.videocodec import encode_y4m
    from dedup_spark.functions.vorbis import encode_vorbis_pcm16
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    clip = rec_clip(16000, 32000)
    # blocky content pHashes stably across lossy re-encodes (same
    # pattern as the mpeg1video cross-container flagship)
    rng = np.random.default_rng(3)
    base = rng.integers(0, 255, (24, 32)).astype(np.float64)
    img = np.kron(base, np.ones((2, 2))).astype(np.uint8)
    frames = np.stack([np.roll(img, 5 * t, axis=1) for t in range(4)])
    rows = [
        (1, "", bytearray(encode_vorbis_pcm16(clip, 32000)), ""),
        (2, "", bytearray(encode_mp3_pcm16(clip, 32000)), ""),
        (3, "", bytearray(encode_m1v(frames)), ""),
        (4, "", bytearray(encode_m2v(frames)), ""),
        (5, "", bytearray(encode_y4m(frames)), ""),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, mime string"
    )
    cfg = DedupConfig(similarity_threshold=0.85, simhash_radius=9)
    out = {r["asset_id"]: r for r in media_near_dup_clusters(df, cfg).collect()}
    assert out[1]["modality"] == "audio" and out[1]["decoder"] == "vorbis"
    assert out[2]["modality"] == "audio" and out[2]["decoder"] == "mp3"
    assert out[3]["modality"] == "video" and out[3]["decoder"] == "m1v"
    assert out[4]["modality"] == "video" and out[4]["decoder"] == "m2v"
    assert out[5]["modality"] == "video" and out[5]["decoder"] == "y4m"
    assert out[1]["cluster_id"] == out[2]["cluster_id"]  # audio pair merges
    assert (out[3]["cluster_id"] == out[4]["cluster_id"]
            == out[5]["cluster_id"])                     # video trio merges
    assert out[1]["cluster_id"] != out[3]["cluster_id"]  # never cross-kind


def test_mass_duplicate_signatures_cluster_past_bucket_cap(spark):
    """Web-scale regression (found by scripts/media_scale_probe.py):
    ONE asset duplicated far past band_bucket_cap must still cluster
    completely — the exact-signature collapse feeds the Hamming join
    one representative per distinct signature, so the cap governs
    DISTINCT-signature skew only, never identical-copy multiplicity."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.functions.imagecodec import encode_png_gray8
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        media_near_dup_clusters,
    )

    import numpy as np

    img_a = np.arange(24 * 16, dtype=np.uint32).reshape(24, 16) % 256
    img_b = 255 - img_a
    a_png = encode_png_gray8(img_a.astype(np.uint8))
    b_png = encode_png_gray8(img_b.astype(np.uint8))
    rows = [(i, "blob", a_png, None) for i in range(40)]
    rows += [(100 + i, "blob", b_png, None) for i in range(3)]
    cfg = DedupConfig().with_(band_bucket_cap=8)  # 40 copies >> cap
    out = media_near_dup_clusters(
        spark.createDataFrame(rows, ASSET_SCHEMA), config=cfg
    ).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["asset_id"])
    sizes = sorted(len(v) for v in by_cluster.values())
    assert sizes == [3, 40], sizes  # complete clusters, no dropped copies
    assert all(r["cluster_size"] in (3, 40) for r in out)


def test_capstone_all_audio_carriers_one_cluster(spark):
    """Capstone: ONE recording through EVERY real audio carrier the
    engine decodes — WAV, FLAC, Ogg-FLAC, Ogg-Vorbis, Matroska
    (A_FLAC / A_VORBIS / A_PCM), MPEG Layers I/II/III, FLV-MP3,
    PS-MP2, TS-MP2, AIFF(sowt) and AU — lands in ONE audio-namespaced
    cluster at the documented media-similarity-85 gate, while a
    different recording stays out. This guards against any silent
    fragmentation across the routing/retry/namespace machinery."""
    from test_mpeg3 import rec_clip

    from dedup_spark.config import DedupConfig
    from dedup_spark.functions.audiocodec import (
        encode_aiff_pcm16,
        encode_au_pcm16,
        encode_flac_pcm16,
        encode_mka,
        encode_ogg_flac_pcm16,
        encode_wav_pcm16,
    )
    from dedup_spark.functions.containers import (
        encode_flv,
        encode_mpeg_ps,
        encode_mpeg_ts,
    )
    from dedup_spark.functions.mpeg3 import encode_mp3_pcm16
    from dedup_spark.functions.mpegaudio import (
        encode_mp1_pcm16,
        encode_mp2_pcm16,
    )
    from dedup_spark.functions.vorbis import encode_vorbis_pcm16
    from dedup_spark.operators.multimodal import media_near_dup_clusters
    import numpy as np

    x = rec_clip(16000, 32000)
    other = rec_clip(16000, 32000, seed=77, nlines=9)
    mp3 = encode_mp3_pcm16(x, 32000)
    mp2 = encode_mp2_pcm16(x, 32000)
    xi = np.clip(np.round(np.asarray(x) * 32767), -32768, 32767)
    payloads = {
        "wav": encode_wav_pcm16(x, 32000),
        "flac": encode_flac_pcm16(x, 32000),
        "oggflac": encode_ogg_flac_pcm16(x, 32000),
        "vorbis": encode_vorbis_pcm16(xi, 32000),
        "mkaflac": encode_mka(x, 32000, codec="flac", lacing="xiph"),
        "mkavorbis": encode_mka(x, 32000, codec="vorbis", lacing="ebml"),
        "mkapcm": encode_mka(x, 32000, codec="pcm"),
        "mp1": encode_mp1_pcm16(x, 32000),
        "mp2": mp2,
        "mp3": mp3,
        "flv-mp3": encode_flv(audio_payloads=[
            mp3[i : i + 700] for i in range(0, len(mp3), 700)]),
        "ps-mp2": encode_mpeg_ps(mp2, stream_id=0xC0),
        "ts-mp2": encode_mpeg_ts(mp2, stream_type=0x04, stream_id=0xC0),
        "aiff": encode_aiff_pcm16(x, 32000, sowt=True),
        "au": encode_au_pcm16(x, 32000),
    }
    rows = [(i, "blob", bytearray(p), None)
            for i, p in enumerate(payloads.values())]
    rows.append((99, "blob", bytearray(encode_wav_pcm16(other, 32000)), None))
    cfg = DedupConfig(similarity_threshold=0.85, simhash_radius=9)
    out = {
        r["asset_id"]: r
        for r in media_near_dup_clusters(
            spark.createDataFrame(
                rows, "asset_id long, kind string, payload binary, mime string"
            ),
            cfg,
        ).collect()
    }
    decoders = {name: out[i]["decoder"]
                for i, name in enumerate(payloads)}
    assert decoders == {
        "wav": "wav", "flac": "flac", "oggflac": "oggflac",
        "vorbis": "vorbis", "mkaflac": "mkaflac",
        "mkavorbis": "mkavorbis", "mkapcm": "mkapcm", "mp1": "mp1",
        "mp2": "mp2", "mp3": "mp3", "flv-mp3": "flv-mp3",
        "ps-mp2": "ps-mp2", "ts-mp2": "ts-mp2", "aiff": "aiff",
        "au": "au",
    }
    clusters = {out[i]["cluster_id"] for i in range(len(payloads))}
    assert len(clusters) == 1, clusters
    assert all(out[i]["modality"] == "audio" for i in range(len(payloads)))
    assert out[99]["cluster_id"] not in clusters


def test_capstone_all_video_carriers_one_cluster(spark):
    """Capstone: ONE clip through every real video carrier — raw Y4M,
    MPEG-1/2 elementary streams, PS- and TS-wrapped, MJPEG in
    AVI/Matroska/MP4/legacy-MOV — lands in ONE video cluster."""
    import numpy as np

    from dedup_spark.config import DedupConfig
    from dedup_spark.functions.containers import (
        encode_mpeg_ps,
        encode_mpeg_ts,
    )
    from dedup_spark.functions.mpeg1video import encode_m1v, encode_m2v
    from dedup_spark.functions.videocodec import (
        encode_avi_mjpeg,
        encode_mkv_mjpeg,
        encode_mp4_mjpeg,
        encode_y4m,
    )
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    rng = np.random.default_rng(31)
    base = rng.integers(40, 216, (64, 80)).astype(np.uint8)
    frames = np.stack([np.roll(base, 5 * i, axis=1) for i in range(4)])
    m1v, m2v = encode_m1v(frames), encode_m2v(frames)
    payloads = {
        "y4m": encode_y4m(frames),
        "m1v": m1v,
        "m2v": m2v,
        "ps-m1v": encode_mpeg_ps(m1v),
        "ts-m2v": encode_mpeg_ts(m2v, stream_type=0x02),
        "avi-mjpeg": encode_avi_mjpeg(frames),
        "mkv-mjpeg": encode_mkv_mjpeg(frames),
        "mp4-mjpeg": encode_mp4_mjpeg(frames),
        "mov-mjpeg": encode_mp4_mjpeg(frames, legacy_mov=True),
    }
    rows = [(i, "blob", bytearray(p), None)
            for i, p in enumerate(payloads.values())]
    cfg = DedupConfig(similarity_threshold=0.85, simhash_radius=9)
    out = {
        r["asset_id"]: r
        for r in media_near_dup_clusters(
            spark.createDataFrame(
                rows, "asset_id long, kind string, payload binary, mime string"
            ),
            cfg,
        ).collect()
    }
    decoders = {name: out[i]["decoder"] for i, name in enumerate(payloads)}
    assert decoders == {name: name for name in payloads}
    assert len({out[i]["cluster_id"] for i in range(len(payloads))}) == 1
    assert all(out[i]["modality"] == "video" for i in range(len(payloads)))
