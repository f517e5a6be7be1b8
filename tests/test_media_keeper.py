"""Media keeper parity: format-preference rank then decoded pixel
resolution, the reference's find_best_file_to_keep
(/root/reference/src/media_dedup.rs:425-515) — with the ranking
value-verified against an independent DuckDB window mirror."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_spark.functions.audiocodec import encode_wav_pcm16
from dedup_spark.functions.containers import encode_adts, encode_ogg
from dedup_spark.functions.imagecodec import (
    encode_bmp_gray8,
    encode_gif_gray8,
    encode_png_gray8,
    encode_tiff_gray8,
)
from dedup_spark.functions.jpegcodec import encode_jpeg_gray8
from dedup_spark.functions.rawimage import encode_raw_like
from dedup_spark.functions.videocodec import encode_y4m
from dedup_spark.operators.multimodal import (
    ASSET_SCHEMA,
    media_keeper_meta,
    sniff_media_format,
)
from dedup_spark.operators.select import (
    REFERENCE_FORMAT_PREFERENCE,
    select_media_keeper,
)


def _img(w: int, h: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w), dtype=np.uint8)


def _assets_df(spark, rows):
    return spark.createDataFrame(
        [(aid, "blob", payload, None) for aid, payload in rows], ASSET_SCHEMA
    )


# ---------------------------------------------------------------- sniffer


def test_sniff_format_images():
    im = _img(16, 16)
    assert sniff_media_format(encode_png_gray8(im)) == "png"
    assert sniff_media_format(encode_jpeg_gray8(im)) == "jpeg"
    assert sniff_media_format(encode_bmp_gray8(im)) == "bmp"
    assert sniff_media_format(encode_gif_gray8(im)) == "gif"
    assert sniff_media_format(encode_tiff_gray8(im)) == "tiff"
    for flavor in ("arw", "nef", "cr2", "orf", "rw2"):
        assert sniff_media_format(encode_raw_like(im, flavor)) == flavor


def test_sniff_format_audio_video_containers():
    x = (np.sin(np.linspace(0, 40, 2048)) * 3000).astype(np.int16)
    assert sniff_media_format(encode_wav_pcm16(x, 8000)) == "wav"
    from dedup_spark.functions.audiocodec import encode_flac_pcm16

    assert sniff_media_format(encode_flac_pcm16(x, 8000)) == "flac"
    assert sniff_media_format(encode_ogg(4096)) == "ogg"
    assert sniff_media_format(encode_adts(3)) == "aac"
    frames = np.stack([_img(32, 16, s) for s in (1, 2)])
    assert sniff_media_format(encode_y4m(frames)) == "y4m"
    from dedup_spark.functions.containers import encode_mkv, encode_mp4

    assert sniff_media_format(encode_mkv(1000, ["V_MJPEG"])) == "mkv"
    mp4 = encode_mp4(1000, ["vide"])
    assert sniff_media_format(mp4) == "mp4"
    from dedup_spark.functions.mpeg3 import encode_mp3_pcm16
    from dedup_spark.functions.mpegaudio import (
        encode_mp1_pcm16,
        encode_mp2_pcm16,
    )

    x32 = (np.sin(np.linspace(0, 80, 4096)) * 3000).astype(np.int16)
    assert sniff_media_format(encode_mp1_pcm16(x32, 32000)) == "mp1"
    x48 = (np.sin(np.linspace(0, 80, 4608)) * 3000).astype(np.int16)
    assert sniff_media_format(encode_mp2_pcm16(x48, 48000)) == "mp2"
    assert sniff_media_format(encode_mp3_pcm16(x32, 32000)) == "mp3"


def test_sniff_format_mov_and_unknown():
    # pre-ftyp QuickTime: plausible leading box size + moov at offset 4
    mov = (16).to_bytes(4, "big") + b"moov" + b"\x00" * 8
    assert sniff_media_format(mov) == "mov"
    # qt brand in ftyp → mov token
    qt = (16).to_bytes(4, "big") + b"ftypqt  " + b"\x00" * 8
    assert sniff_media_format(qt) == "mov"
    assert sniff_media_format(b"free-form text that is not media") is None
    assert sniff_media_format(b"short") is None
    assert sniff_media_format(None) is None


# ----------------------------------------------------------- keeper meta


def test_media_keeper_meta_geometry(spark):
    im_s, im_l = _img(16, 12), _img(24, 16)
    x = (np.sin(np.linspace(0, 40, 1024)) * 3000).astype(np.int16)
    frames = np.stack([_img(32, 16, s) for s in (1, 2)])
    rows = [
        (1, encode_png_gray8(im_s)),
        (2, encode_jpeg_gray8(im_l)),
        (3, encode_wav_pcm16(x, 8000)),
        (4, encode_y4m(frames)),
        (5, b"\x89PNG\r\n\x1a\ngarbage-truncated"),  # decode fails
        (6, b"plain text blob, no media magic here."),
    ]
    meta = {
        r["asset_id"]: r
        for r in media_keeper_meta(_assets_df(spark, rows)).collect()
    }
    assert (meta[1]["format"], meta[1]["width"], meta[1]["height"]) == (
        "png", 16, 12)
    assert (meta[2]["format"], meta[2]["width"], meta[2]["height"]) == (
        "jpeg", 24, 16)
    assert meta[3]["format"] == "wav"
    assert meta[3]["width"] is None and meta[3]["height"] is None
    assert (meta[4]["format"], meta[4]["width"], meta[4]["height"]) == (
        "y4m", 32, 16)
    # failed decode ⇒ metadata = None (reference: extraction error)
    assert meta[5]["format"] is None
    assert meta[6]["format"] is None


# ---------------------------------------------------------------- keeper


def _meta_clusters(spark, rows):
    """rows: (cluster_id, asset_id, format, width, height)"""
    return spark.createDataFrame(
        rows,
        "cluster_id string, asset_id long, format string, "
        "width long, height long",
    )


def _kept(df) -> dict:
    return {
        r["cluster_id"]: r["asset_id"]
        for r in df.filter("is_kept").collect()
    }


def test_keeper_format_rank_wins(spark):
    rows = [
        ("c1", 10, "jpeg", 640, 480),   # bigger, but jpeg ranks after png
        ("c1", 11, "png", 16, 12),
        ("c1", 12, "tiff", 320, 240),
        ("c2", 20, "bmp", 8, 8),
        ("c2", 21, "arw", 4, 4),        # RAW family tops the list
    ]
    kept = _kept(select_media_keeper(_meta_clusters(spark, rows)))
    assert kept == {"c1": 11, "c2": 21}


def test_keeper_resolution_policies(spark):
    rows = [
        ("c1", 1, "png", 16, 12),
        ("c1", 2, "png", 64, 48),
        ("c1", 3, "png", 32, 24),
    ]
    mc = _meta_clusters(spark, rows)
    assert _kept(select_media_keeper(mc)) == {"c1": 2}  # highest
    assert _kept(
        select_media_keeper(mc, resolution_policy="lowest")
    ) == {"c1": 1}
    assert _kept(
        select_media_keeper(
            mc, resolution_policy="closest_to", target_w=30, target_h=20
        )
    ) == {"c1": 3}


def test_keeper_null_semantics(spark):
    rows = [
        # failed extraction (NULL format) ranks after unknown formats,
        # unknown formats after listed ones — media_dedup.rs:430-452
        ("c1", 1, None, None, None),
        ("c1", 2, "xyz", 999, 999),
        ("c1", 3, "wav", None, None),
        # all-failed cluster → deterministic first-by-id (the
        # reference falls back to the first file, rs:432-434)
        ("c2", 7, None, None, None),
        ("c2", 5, None, None, None),
    ]
    kept = _kept(select_media_keeper(_meta_clusters(spark, rows)))
    assert kept == {"c1": 3, "c2": 5}
    # lowest: missing dims count u32::MAX-like (rank after real dims)
    rows2 = [
        ("c3", 1, "wav", None, None),
        ("c3", 2, "wav", 10, 10),
    ]
    kept2 = _kept(
        select_media_keeper(
            _meta_clusters(spark, rows2), resolution_policy="lowest"
        )
    )
    assert kept2 == {"c3": 2}


def test_keeper_partition_invariant(spark):
    rows = [
        ("c%d" % (i % 5), i, ["png", "jpeg", "bmp"][i % 3],
         (i * 37) % 100 + 1, (i * 53) % 80 + 1)
        for i in range(60)
    ]
    mc = _meta_clusters(spark, rows)
    a = _kept(select_media_keeper(mc.repartition(1)))
    b = _kept(select_media_keeper(mc.repartition(13)))
    assert a == b


def test_keeper_end_to_end_real_decodes(spark):
    """One photo in five containers: the keeper must pick the RAW
    (ARW) flavor over PNG/TIFF/JPEG per the reference's default
    preference order, from REAL decoded metadata."""
    im = _img(24, 16)
    rows = [
        (1, encode_jpeg_gray8(im)),
        (2, encode_png_gray8(im)),
        (3, encode_tiff_gray8(im)),
        (4, encode_raw_like(im, "arw")),
        (5, b"\xff\xd8\xffcorrupt-jpeg-payload"),
    ]
    meta = media_keeper_meta(_assets_df(spark, rows)).withColumn(
        "cluster_id", F.lit("c1")
    )
    kept = _kept(select_media_keeper(meta))
    assert kept == {"c1": 4}


def test_keeper_matches_duckdb_mirror(spark):
    """Value-verify the ranking window against an independent DuckDB
    mirror of media_dedup.rs:436-509 over a 300-row frame covering
    listed/unlisted/NULL formats and every geometry corner."""
    import random

    rng = random.Random(1234)
    fmts = list(REFERENCE_FORMAT_PREFERENCE) + ["xyz", "gif", None]
    rows = []
    for i in range(300):
        f = fmts[rng.randrange(len(fmts))]
        w = rng.choice([None, rng.randrange(1, 2000)])
        h = rng.choice([None, rng.randrange(1, 2000)])
        if f is None:
            w = h = None
        rows.append(("c%d" % (i % 23), i, f, w, h))
    mc = _meta_clusters(spark, rows)

    n = len(REFERENCE_FORMAT_PREFERENCE)
    fmt_case = " ".join(
        f"WHEN '{f}' THEN {i + 1}"
        for i, f in enumerate(REFERENCE_FORMAT_PREFERENCE)
    )
    con = duckdb.connect()
    con.register(
        "meta",
        pd.DataFrame(
            rows, columns=["cluster_id", "asset_id", "format",
                           "width", "height"],
        ),
    )
    for policy, res_key in (
        ("highest", "-coalesce(width * height, 0)"),
        ("lowest", f"coalesce(width * height, {1 << 62})"),
        (
            "closest_to",
            f"CASE WHEN format IS NULL THEN {1 << 62} ELSE "
            "(coalesce(width,0)-640)*(coalesce(width,0)-640) + "
            "(coalesce(height,0)-480)*(coalesce(height,0)-480) END",
        ),
    ):
        oracle = dict(
            con.execute(
                f"""
            SELECT cluster_id, asset_id FROM (
              SELECT cluster_id, asset_id, row_number() OVER (
                PARTITION BY cluster_id ORDER BY
                  CASE WHEN format IS NULL THEN {n + 2}
                       ELSE coalesce(CASE format {fmt_case} END, {n + 1})
                  END, {res_key}, asset_id) AS rn
              FROM meta) WHERE rn = 1
            """
            ).fetchall()
        )
        kept = _kept(
            select_media_keeper(
                mc, resolution_policy=policy, target_w=640, target_h=480
            )
        )
        assert kept == oracle, policy


def test_media_keep_selection_end_to_end(spark):
    """Orchestrator clusters + keeper in one flow: two photos, each in
    PNG/JPEG/ARW; per cluster the ARW is kept (reference default
    preference), non-kept rows rank 2-3, a unique blob keeps itself
    with NULL meta (singletons skip the geometry decode)."""
    from dedup_spark.operators.multimodal import media_keep_selection

    a, b = _img(24, 16, seed=1), _img(24, 16, seed=2)
    rows = [
        (1, encode_png_gray8(a)),
        (2, encode_jpeg_gray8(a)),
        (3, encode_raw_like(a, "arw")),
        (4, encode_png_gray8(b)),
        (5, encode_jpeg_gray8(b)),
        (6, encode_raw_like(b, "arw")),
        (7, b"a unique text blob that clusters alone............"),
    ]
    out = {
        r["asset_id"]: r
        for r in media_keep_selection(_assets_df(spark, rows)).collect()
    }
    assert len(out) == 7
    # each photo's three carriers share one image cluster
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"]
    assert out[4]["cluster_id"] == out[5]["cluster_id"] == out[6]["cluster_id"]
    assert out[1]["cluster_id"] != out[4]["cluster_id"]
    # the RAW flavor wins the keeper in both clusters
    for aid in (1, 2, 4, 5):
        assert not out[aid]["is_kept"]
    for aid in (3, 6):
        assert out[aid]["is_kept"] and out[aid]["format"] == "arw"
        assert (out[aid]["width"], out[aid]["height"]) == (24, 16)
    # singleton: kept, rank 1, meta never decoded
    assert out[7]["is_kept"] and out[7]["cluster_size"] == 1
    assert out[7]["format"] is None and out[7]["rank_in_cluster"] == 1


def test_sniff_never_crashes_and_agrees_with_kind():
    """Agreement: on every fixture encoder's output, sniff_media_format
    names the format that encoder writes and detect_kind_from_magic
    routes it to that format's kind. The expected pairs come from the
    encoders, not from the format table that computes both answers.
    Property: both sniffers are total over arbitrary bytes."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from dedup_spark.functions import mpeg1video, mpeg3, mpegaudio, vorbis
    from dedup_spark.functions.audiocodec import (
        encode_aiff_pcm16,
        encode_au_pcm16,
        encode_flac_pcm16,
        encode_mka,
        encode_ogg_flac_pcm16,
    )
    from dedup_spark.functions.containers import (
        encode_asf,
        encode_mkv,
        encode_mp3,
        encode_mp4,
        encode_mpeg_ps,
        encode_mpeg_ts,
    )
    from dedup_spark.functions.exr import encode_exr_gray8
    from dedup_spark.functions.imagecodec import (
        encode_dds_rgb32_gray8,
        encode_farbfeld_gray8,
        encode_hdr_gray8,
        encode_ico_gray8,
        encode_pnm_gray8,
        encode_qoi_gray8,
        encode_tga_gray8,
    )
    from dedup_spark.functions.videocodec import (
        encode_avi_mjpeg,
        encode_mkv_mjpeg,
        encode_mp4_mjpeg,
    )
    from dedup_spark.functions.webp import encode_webp_gray8
    from dedup_spark.operators.multimodal import detect_kind_from_magic

    img = _img(16, 16)
    x = np.sin(np.linspace(0, 100, 4000)) * 0.5
    frames = np.stack([img, img[::-1]])
    m1v = mpeg1video.encode_m1v(frames)
    known = [
        (encode_png_gray8(img), "png", "image"),
        (encode_jpeg_gray8(img), "jpeg", "image"),
        (encode_bmp_gray8(img), "bmp", "image"),
        (encode_gif_gray8(img), "gif", "image"),
        (encode_tiff_gray8(img), "tiff", "image"),
        (encode_pnm_gray8(img), "pgm", "image"),
        (encode_qoi_gray8(img), "qoi", "image"),
        (encode_farbfeld_gray8(img), "ff", "image"),
        (encode_ico_gray8(img), "ico", "image"),
        (encode_hdr_gray8(img), "hdr", "image"),
        (encode_dds_rgb32_gray8(img), "dds", "image"),
        (encode_webp_gray8(img), "webp", "image"),
        (encode_exr_gray8(img), "exr", "image"),
        *((encode_raw_like(img, f), f, "image") for f in ("arw", "nef", "cr2", "orf", "rw2")),
        # TGA has no magic: only the caller's kind tag routes it
        (encode_tga_gray8(img), None, "blob"),
        (encode_wav_pcm16(x, 8000), "wav", "audio"),
        (encode_flac_pcm16(x, 8000), "flac", "audio"),
        (encode_ogg_flac_pcm16(x, 8000), "ogg", "audio"),
        (vorbis.encode_vorbis_pcm16(x, 8000), "ogg", "audio"),
        (encode_ogg(4000), "ogg", "audio"),
        (encode_aiff_pcm16(x, 8000), "aiff", "audio"),
        (encode_au_pcm16(x, 8000), "au", "audio"),
        (encode_mp3(4), "mp3", "audio"),
        (mpeg3.encode_mp3_pcm16(x, 32000), "mp3", "audio"),
        (mpegaudio.encode_mp1_pcm16(x, 32000), "mp1", "audio"),
        (mpegaudio.encode_mp2_pcm16(x, 48000), "mp2", "audio"),
        # ADTS: no real AAC decode, so it routes to the byte-shingle path
        (encode_adts(4), "aac", "blob"),
        # audio-only Matroska sniffs as video; the orchestrator's
        # video->audio retry decodes it
        (encode_mka(x, 8000), "mkv", "video"),
        (encode_mkv(1000, ["V_MPEG4/ISO/AVC"]), "mkv", "video"),
        (encode_mkv_mjpeg(frames), "mkv", "video"),
        (encode_y4m(frames), "y4m", "video"),
        (encode_avi_mjpeg(frames), "avi", "video"),
        (encode_mp4(1000, ["vide"]), "mp4", "video"),
        (encode_mp4_mjpeg(frames), "mp4", "video"),
        (encode_asf(1000, ["video"]), "wmv", "video"),
        (m1v, "mpg", "video"),
        (mpeg1video.encode_m2v(frames), "mpg", "video"),
        (encode_mpeg_ps(m1v), "mpg", "video"),
        (encode_mpeg_ts(m1v, 1), "ts", "video"),
    ]
    got = [(sniff_media_format(b), detect_kind_from_magic(b)) for b, _t, _k in known]
    assert got == [(t, k) for _b, t, k in known]

    # inputs where the hand-written sniffers used to disagree
    disputed = (
        b"BM\x36\x00\x00\x00\x01\x00\x00\x00" + bytes(8),
        b"GIF8 text, not a gif",
        b"GIF87a\x04\x00\x04\x00\x00\x00\x00",
        b"YUV4 text, not a stream",
        b"\x00\x00\x01\x00\x01\x00" + bytes(20),
        b"P5\nxyz not a header",
        b"\xff\xea\x90\x00" + bytes(16),
        b"\xff\xf1\x50\x80" + bytes(16),
        b"\x30\x26\xb2\x75 only the 4-byte prefix",
        b"\x89PNG not the 8-byte signature",
        b"\x89PNGftyp!!",
        b"ID3\x04\x00 v2.4 tag",
        b"\xff\xd8\xff\xe0JFIF",
        b"\x00\x00\x00\x08ftyp",
        b"RIFFftyp" + bytes(8),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=0, max_size=64))
    def check(raw):
        fmt = sniff_media_format(raw)
        assert fmt is None or isinstance(fmt, str)
        assert detect_kind_from_magic(raw) in {"image", "audio", "video", "blob"}

    for raw in disputed:
        check = example(raw)(check)
    check()


def test_orchestrator_default_stays_narrow(spark):
    """with_meta=False (the default) must not widen the clustering
    shuffle: no width/height in the output, and the keeper flow's
    with_meta=True output carries them for every modality."""
    from dedup_spark.operators.multimodal import media_near_dup_clusters

    im = _img(16, 12)
    rows = [(1, encode_png_gray8(im)), (2, b"some plain blob ..........")]
    df = media_near_dup_clusters(_assets_df(spark, rows))
    assert "width" not in df.columns and "height" not in df.columns
    wide = media_near_dup_clusters(_assets_df(spark, rows), with_meta=True)
    assert {"width", "height"} <= set(wide.columns)
    got = {r["asset_id"]: r for r in wide.collect()}
    assert (got[1]["width"], got[1]["height"]) == (16, 12)
    assert got[2]["width"] is None and got[2]["height"] is None
