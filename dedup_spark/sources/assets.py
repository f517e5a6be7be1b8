"""Asset fixtures: the ``documents`` fixture table rendered as media
asset rows ``(asset_id, kind, payload, mime)`` for the media queries.

Each ``FIXTURES`` row turns one document's utf-8 bytes into a real media
file written by the engine's own encoders: a source derived from the
bytes (``multimodal._fake_pixels`` / ``_fake_samples``, or a stack of
rolled frames) goes through one of the row's encoders, picked by the
byte length modulo their count. Geometry follows from the length by
fixed integer arithmetic, so the DuckDB oracles recompute what the real
decoders must give back (``queries._decoded_meta_query``) without
touching the file formats. ``facet`` names the decoder facet
(``formats.Format``) that reads the row's payloads back.

``documents_as(spark, sf_dir, name)`` builds any row's assets;
``documents_as_assets`` is the magic-prefix fixture for the
decode-free plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.functions.formats import load
from dedup_spark.operators.multimodal import ASSET_SCHEMA, _fake_pixels, _fake_samples

Encoder = Callable[[tuple, int], bytes]  # (source args, byte length) -> payload


@dataclass(frozen=True)
class Fixture:
    kind: str
    mime: str
    source: Callable[[bytes], tuple]  # document bytes -> the encoders' positional args
    encoders: tuple[Encoder, ...]
    facet: str  # pixels | samples | frames | parse

    def payload(self, raw: bytes) -> bytes:
        return self.encoders[len(raw) % len(self.encoders)](self.source(raw), len(raw))


def _enc(path: str, **kw) -> Encoder:
    """The encoder ``<module>.<function>`` (``formats.load``) on the
    source's args; a callable keyword value is given the byte length."""
    return lambda src, n: load(path)(*src, **{k: v(n) if callable(v) else v for k, v in kw.items()})


def _pixels(raw: bytes) -> tuple:
    return (_fake_pixels(raw)[0],)


def _frames(n_frames: int, even: bool = False) -> Callable[[bytes], tuple]:
    """``_fake_pixels`` rolled 7 columns per frame; ``even`` crops to
    even dimensions (4:2:0 chroma)."""

    def source(raw: bytes) -> tuple:
        img, w, h = _fake_pixels(raw)
        if even:
            img = img[: h - h % 2, : w - w % 2]
        return (np.stack([np.roll(img, 7 * i, axis=1) for i in range(n_frames)]),)

    return source


def _mpeg_samples(raw: bytes) -> tuple:
    x = _fake_samples(raw)[0]
    return (np.stack([x, np.roll(x, 1)], axis=1) if len(raw) % 4 >= 2 else x,)


def _filler(n: int, size: int, step: int) -> bytes:
    # bytes in 0x10..0xCF: no accidental start codes or frame syncs
    return bytes(0x10 + (n + j * step) % 0xC0 for j in range(size))


def _ps_es(n: int) -> bytes:
    """Program-stream payload: m1v / m2v / mp2 by ``(n // 8) % 3``."""
    head, tail = ((b"\x00\x00\x01\xb3", b""), (b"\x00\x00\x01\xb3", b"\x00\x00\x01\xb5"),
                  (b"\xff\xfd", b""))[(n // 8) % 3]
    return head + _filler(n, 60 + n % 80, 13) + tail


def _ts_es(n: int) -> bytes:
    """Transport-stream payload: m1v / mp2 by ``(n // 8) % 2``, total
    length ``100 + n % 400`` (the oracle's TS packet count)."""
    head = (b"\x00\x00\x01\xb3", b"\xff\xfd")[(n // 8) % 2]
    return head + _filler(n, 100 + n % 400 - len(head), 11)


FIXTURES: dict[str, Fixture] = {
    # every lossless-class image decoder; TGA has no magic and is
    # decoded through the kind-tag route
    "png": Fixture("image", "image/png", _pixels, (
        _enc("imagecodec.encode_png_gray8"),
        _enc("imagecodec.encode_tiff_gray8"),
        _enc("imagecodec.encode_tiff_gray8", lzw=True, big_endian=True, predictor=True),
        _enc("imagecodec.encode_pnm_gray8"),
        _enc("imagecodec.encode_qoi_gray8"),
        _enc("imagecodec.encode_farbfeld_gray8"),
        _enc("imagecodec.encode_ico_gray8", png_entry=False),
        _enc("imagecodec.encode_tga_gray8", rle=True),
        _enc("imagecodec.encode_hdr_gray8"),
        _enc("imagecodec.encode_dds_rgb32_gray8"),
        _enc("webp.encode_webp_gray8", subtract_green=lambda n: bool(n % 2), lz77=True,
             cache_bits=lambda n: 4 if n % 3 == 0 else 0),
        _enc("exr.encode_exr_gray8", compression=lambda n: ("none", "rle", "zips", "zip")[n % 4],
             pixel_type=lambda n: "float" if n % 2 else "half"),
    ), "pixels"),
    # baseline (SOF0) and progressive (SOF2) scans
    "jpeg": Fixture("image", "image/jpeg", _pixels, (
        _enc("jpegcodec.encode_jpeg_gray8", quality=90),
        _enc("jpegcodec.encode_jpeg_progressive_gray8", quality=90),
    ), "pixels"),
    # JPEG preview in each camera-RAW flavor's carrier
    "raw": Fixture("image", "image/x-camera-raw", _pixels, tuple(
        _enc("rawimage.encode_raw_like", flavor=f) for f in ("arw", "nef", "cr2", "orf", "rw2")
    ), "pixels"),
    "wav": Fixture("audio", "audio/wav", _fake_samples, (
        _enc("audiocodec.encode_wav_pcm16"),
        _enc("audiocodec.encode_flac_pcm16"),
        _enc("vorbis.encode_vorbis_pcm16"),
        _enc("audiocodec.encode_ogg_flac_pcm16"),
        _enc("audiocodec.encode_mka", codec="flac", lacing="xiph"),
        _enc("audiocodec.encode_mka", codec="vorbis", lacing="xiph"),
    ), "samples"),
    # MPEG-1 audio Layers I-III, stereo when n % 4 >= 2
    "mpeg": Fixture("audio", "audio/mpeg", _mpeg_samples, (
        _enc("mpegaudio.encode_mp1_pcm16", rate=32000),
        _enc("mpegaudio.encode_mp2_pcm16", rate=48000),
        _enc("mpeg3.encode_mp3_pcm16", rate=32000),
    ), "samples"),
    # raw planes, both MPEG intra layers and both MPEG system layers
    "y4m": Fixture("video", "video/x-yuv4mpeg", _frames(8, even=True), (
        _enc("videocodec.encode_y4m"),
        _enc("mpeg1video.encode_m1v"),
        _enc("mpeg1video.encode_m2v"),
        lambda src, n: load("containers.encode_mpeg_ps")(load("mpeg1video.encode_m1v")(*src)),
        lambda src, n: load("containers.encode_mpeg_ts")(
            load("mpeg1video.encode_m2v")(*src), stream_type=0x02),
    ), "frames"),
    "mkv": Fixture("video", "video/x-matroska", _frames(4), (
        _enc("videocodec.encode_mkv_mjpeg"),
    ), "frames"),
    # every stream parameter from n, as the container_meta oracle
    # recomputes it from octet_length
    "container": Fixture("blob", "application/octet-stream", lambda raw: (), (
        _enc("containers.encode_mp3", n_frames=lambda n: 3 + n % 7, bitrate_kbps=128,
             sample_rate=44100, seed=lambda n: n),
        _enc("containers.encode_mkv", duration_ms=lambda n: 1000 + n % 5000,
             codec_ids=lambda n: ["V_TEST", "A_TEST", "S_TEST"][: 1 + n % 3]),
        _enc("containers.encode_mp4", duration_ms=lambda n: 500 + n % 9000,
             handlers=lambda n: ["vide", "soun"][: 1 + n % 2]),
        _enc("containers.encode_adts", n_frames=lambda n: 3 + n % 6,
             payload_bytes=lambda n: 40 + n % 50, rate=48000, seed=lambda n: n),
        _enc("containers.encode_ogg", n_samples=lambda n: 10000 + n % 90000, rate=48000,
             n_data_pages=lambda n: 2 + n % 3, seed=lambda n: n),
        _enc("containers.encode_mpeg_ps", es=_ps_es,
             stream_id=lambda n: 0xC0 if (n // 8) % 3 == 2 else 0xE0),
        _enc("containers.encode_mpeg_ts", es=_ts_es,
             stream_type=lambda n: (0x02, 0x03)[(n // 8) % 2],
             stream_id=lambda n: (0xE0, 0xC0)[(n // 8) % 2]),
        _enc("containers.encode_flv", video_payloads=lambda n: [
            bytes((n + k + j * 17) % 251 for j in range(40)) for k in range(2 + n % 9)]),
    ), "parse"),
}


def documents_as(spark, sf_dir: str, name: str) -> DataFrame:
    """``FIXTURES[name]`` over every document: one asset per doc_id,
    via mapInPandas Arrow batches."""
    fixture = FIXTURES[name]
    cols = ASSET_SCHEMA.fieldNames()

    def _to_assets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(did), fixture.kind, fixture.payload((text or "").encode("utf-8")), fixture.mime)
                for did, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return d.mapInPandas(_to_assets, ASSET_SCHEMA)


def documents_as_assets(spark, sf_dir: str) -> DataFrame:
    """Fixture adapter: documents → asset rows with payload =
    utf-8 bytes prefixed by a deterministic per-row magic header
    (cycles PNG/JPEG/MP3/MKV by doc_id) so kind detection and decode
    plumbing are exercised without real media files."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # pinned 4-magic cycle (NOT derived from the format table: the table
    # can grow without changing fixture payloads or the asset_meta oracle)
    magics = ["89504e47", "ffd8ffe0", "49443303", "1a45dfa3"]
    header = F.unhex(
        F.element_at(
            F.array(*[F.lit(m) for m in magics]),
            (F.col("doc_id") % len(magics) + 1).cast("int"),
        )
    )
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("blob").alias("kind"),
        F.concat(header, F.encode("text", "utf-8")).alias("payload"),
        F.lit(None).cast("string").alias("mime"),
    )
