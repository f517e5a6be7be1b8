"""Multimodal asset plumbing: opaque ``binary`` payload columns with
typed metadata, processed through Arrow-batched ``mapInPandas``.

Media decoding is real wherever numpy and the stdlib suffice: every
decode reads the format table (``functions/formats.py``), whose rows
name the codec modules under ``functions/`` that open each format. A
payload no row decodes (a compressed codec without a decoder here, or a
corrupt file) follows the stub policy: ``fake=True`` gives a
deterministic byte-structure fake whose ``decoder`` reads 'fake',
``fake=False`` raises NotImplementedError.

Reference tie-in: the reference's media pipeline (MediaFileInfo +
MediaMetadata, media_dedup.rs:107-133) computes per-file metadata then
fingerprints; this module is that boundary for binary payloads, with
the fingerprint stage handed to the engine's SimHash/MinHash kernels
over extracted byte shingles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# payload routing (kind, format token) and every decoder lookup read the
# one format table; the sniffers are re-exported here
from dedup_spark.functions.formats import (
    FORMATS,
    decoder_row,
    detect_kind_from_magic,
    load,
    match,
    sniff_media_format,
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),       # image | audio | video | blob
        StructField("payload", BinaryType(), True),      # opaque encoded bytes
        StructField("mime", StringType(), True),
    ]
)

META_FIELDS = [
    StructField("asset_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("magic", StringType(), True),           # first-4-bytes hex
    StructField("byte_entropy_q", LongType(), False),   # 0-1000 quantized
]
META_SCHEMA = StructType(META_FIELDS)


def decode_asset(payload: bytes, kind: str, fake: bool = False) -> dict:
    """Decode stub. Real decoders (PIL/ffmpeg/librosa) are not in this
    container; ``fake=True`` runs the deterministic byte-structure fake
    used by tests and the Spark plumbing."""
    if not fake:
        raise NotImplementedError(
            "media decode requires image/audio libs not present in this "
            "environment; pass fake=True for the deterministic fake decoder"
        )
    hist = [0] * 16
    for b in payload[:4096]:
        hist[b >> 4] += 1
    total = max(1, sum(hist))
    # quantized Shannon-ish concentration proxy (integer math → exact
    # cross-run determinism, no float entropy)
    peak = max(hist)
    return {"n_bytes": len(payload), "concentration_q": (peak * 1000) // total}


def extract_asset_meta(assets: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction: per-partition Arrow batches in,
    typed META_SCHEMA rows out. No collect, no per-row Python UDF."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                kind = detect_kind_from_magic(raw)
                d = decode_asset(raw, kind, fake=True)
                metas.append(
                    {
                        "asset_id": int(aid),
                        "kind": kind,
                        "n_bytes": d["n_bytes"],
                        "magic": raw[:4].hex() if len(raw) >= 4 else None,
                        "byte_entropy_q": d["concentration_q"],
                    }
                )
            yield pd.DataFrame(metas, columns=[f.name for f in META_FIELDS])

    return assets.mapInPandas(_extract, META_SCHEMA)


def byte_shingles(assets: DataFrame, k: int = 8, stride: int = 4) -> DataFrame:
    """Payload → hex byte-shingle strings for the engine's MinHash/
    SimHash kernels (content-free near-dup over binaries). JVM path:
    hex once, then substring shingles via transform/sequence."""
    hexed = assets.withColumn("_hex", F.hex("payload"))
    hk, hs = 2 * k, 2 * stride
    shingles = F.expr(
        f"CASE WHEN length(_hex) >= {hk} THEN "
        f"array_distinct(transform(sequence(0, CAST((length(_hex) - {hk}) / {hs} AS INT)), "
        f"i -> substring(_hex, i * {hs} + 1, {hk}))) ELSE array(_hex) END"
    )
    return hexed.select("asset_id", shingles.alias("shingles")).drop("_hex")


def _blob_pipeline(assets: DataFrame, config=None):
    """The byte-shingle ``DedupPipeline`` and its file frame: the hex
    payload through the SAME kernels with char-16 (= 8-byte) shingles.
    No ``cache_path``: the text store's (repo, path, commit) key cannot
    tell blob rows from text rows."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.plans.pipeline import DedupPipeline

    cfg = (config or DedupConfig()).with_(
        shingle_unit="char",
        shingle_k=16,          # 16 hex chars = 8 payload bytes
        normalize=False,       # bytes are bytes — no case folding
        size_prefilter=False,
        cache_path=None,
    )
    files = assets.select(
        F.col("asset_id").alias("file_id"),
        F.lit("assets").alias("repo"),
        F.col("asset_id").cast("string").alias("path"),
        F.lit("-").alias("commit"),
        F.col("kind").alias("lang"),
        F.lower(F.hex("payload")).alias("content"),
        F.octet_length("payload").cast("long").alias("size"),
    )
    return DedupPipeline(assets.sparkSession, cfg), files


def binary_near_dup_clusters(assets: DataFrame, config=None) -> DataFrame:
    """Content-free near-dup clustering over binary payloads — the
    working dedup the byte-shingle plumbing feeds (reference media
    near-dup, /root/reference/src/media_dedup.rs:556-587, re-expressed
    on the engine's full MinHash/SimHash/verify/CC pipeline).

    ``cluster(*edges(files))`` of ``_blob_pipeline``: every scale guard
    (bucket caps, rep collapse, tiered verify) applies to binaries, and
    ``media_near_dup_clusters`` takes the same ``edges()`` into its one
    graph. Returns (asset_id, cluster_id, cluster_size).
    """
    pipe, files = _blob_pipeline(assets, config)
    clusters = pipe.cluster(*pipe.edges(files))
    return clusters.select(F.col("file_id").alias("asset_id"), "cluster_id", "cluster_size")


# ---- decode-adjacent plumbing: resize / frame-sample / features ----------
# resize_images decodes through the format table (fake fallback on);
# sample_frames takes its duration and frames from the payload bytes
# (_fake_duration_ms), where a real demuxer would plug in. The fakes
# are factored into _fake_pixels / _fake_samples / _fake_frames.
# Everything after the decode — nearest-neighbor resampling math, frame
# timestamp arithmetic, Arrow batch shapes, one-to-many output
# schemas — is real and tested.

RESIZED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("src_w", LongType(), False),
        StructField("src_h", LongType(), False),
        StructField("out_w", LongType(), False),
        StructField("out_h", LongType(), False),
        StructField("pixels", BinaryType(), False),  # grayscale row-major
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame", BinaryType(), False),
    ]
)


def _fake_pixels(payload: bytes):
    """DECODE STUB (deterministic fake): derive a grayscale image from
    the payload bytes — dimensions from the length, pixels from the
    bytes tiled row-major. A real image decoder replaces exactly this
    function."""
    import numpy as np

    n = len(payload)
    w = 16 + (n % 48)
    h = 16 + ((n // 7) % 48)
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.shape[0] == 0:
        buf = np.zeros(1, dtype=np.uint8)
    reps = (w * h + buf.shape[0] - 1) // buf.shape[0]
    return np.tile(buf, reps)[: w * h].reshape(h, w), w, h


def _fake_duration_ms(payload: bytes) -> int:
    """DECODE STUB (deterministic fake): video duration from payload
    length (1 KB ≈ 1 s, floor 1 s). A real demuxer replaces this."""
    return max(1000, (len(payload) * 1000) // 1024)


def _fake_samples(payload: bytes):
    """DECODE STUB (deterministic fake): derive a mono sample stream
    from the payload bytes (centered, [-1, 1]). A real audio decoder
    replaces exactly this function."""
    import numpy as np

    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.shape[0] < 16:
        buf = np.zeros(16, dtype=np.uint8)
    return (buf.astype(np.float64) - 128.0) / 128.0, 8000


def _fake_frames(payload: bytes):
    """DECODE STUB (deterministic fake): a frame stack of
    ``_fake_pixels`` rolled per frame, one frame per fake second (at
    most 16), at 1 fps. A real demuxer + codec replaces this."""
    import numpy as np

    img, _w, _h = _fake_pixels(payload)
    n = max(1, min(16, _fake_duration_ms(payload) // 1000))
    return np.stack([np.roll(img, 7 * i, axis=1) for i in range(n)]), 1.0


# decoder facet → (its codecs' typed error, the deterministic fake, the
# NotImplementedError message when fake=False)
_STUB_POLICY = {
    "pixels": (
        "imagecodec.ImageDecodeError", _fake_pixels,
        "payload is not an image any FORMATS row decodes "
        "(functions/formats.py) — pass fake=True for the deterministic "
        "fake decoder",
    ),
    "samples": (
        "audiocodec.AudioDecodeError", _fake_samples,
        "payload is not audio any FORMATS row decodes "
        "(functions/formats.py) — pass fake=True for the deterministic "
        "fake decoder",
    ),
    "frames": (
        "videocodec.VideoDecodeError", _fake_frames,
        "payload is not a video any FORMATS row decodes "
        "(functions/formats.py) — pass fake=True for the deterministic "
        "fake decoder",
    ),
}


def _decode(rows, facet: str, payload: bytes, fake: bool, **kw) -> tuple:
    """The decode step behind decode_pixels / decode_samples /
    decode_frames: the first table row that matches and carries a
    ``facet`` decoder runs it. Its typed error (a corrupt or
    unsupported variant), or no such row, falls to the stub policy:
    ``fake=True`` gives the deterministic fake (decoder 'fake'),
    ``fake=False`` raises NotImplementedError. UDF closures pass the
    ``FORMATS`` they captured when the plan was built, so a row edited
    in the calling process reaches the executors."""
    raw = payload or b""
    error, fake_decode, message = _STUB_POLICY[facet]
    row = decoder_row(raw, facet, rows)
    if row is not None:
        try:
            return getattr(row, facet)(raw, **kw)
        except load(error):
            pass  # corrupt or unsupported variant → stub policy below
    if fake:
        return (*fake_decode(raw), "fake")
    raise NotImplementedError(message)


def _routes_to(rows, raw: bytes, kind: str, modality: str) -> bool:
    """The per-UDF kind gate: the payload's magic or the caller's kind
    tag names ``modality``."""
    row = match(raw, rows)
    return modality in (row.kind if row else None, kind)


def decode_pixels(payload: bytes, fake: bool = False) -> tuple:
    """bytes → (grayscale uint8 (h, w), width, height, decoder).

    REAL decode for the formats numpy + the stdlib can handle from
    their public specs — PNG (zlib inflate + unfilter), BMP
    (uncompressed DIB), GIF (LZW), TIFF (baseline 6.0: both byte
    orders, none/LZW compression, horizontal predictor, gray/RGB/
    palette) via ``functions/imagecodec.py``, JPEG in both
    baseline (T.81 sequential DCT) and progressive (SOF2, spectral
    selection + successive approximation) modes —
    ``functions/jpegcodec.py``; the luma plane of color images —
    the camera-RAW family the reference's format-preference list
    opens with (ARW/NEF/CR2/ORF/RW2, media_dedup.rs:62-68) via the
    embedded-JPEG-preview route (``functions/rawimage.py``; decoder
    names the flavor), and the simple-spec formats the reference's
    image crate also opens — Netpbm P1-P6, QOI, farbfeld, ICO
    (PNG- and DIB-coded entries), Radiance HDR, and TGA (no leading
    magic — attempted last, behind strict structural checks, for
    assets that reach this decoder by kind tag).
    WebP decodes for real in its LOSSLESS form (VP8L — full bitstream
    per RFC 9649 §3, ``functions/webp.py``, pinned bit-exact against
    the system libwebp encoder when present).
    Everything else (lossy VP8, JPEG 2000, arithmetic-coded JPEG, …)
    keeps the honest-stub policy: ``fake=True`` falls back to the
    deterministic byte-structure fake (also used when a real-looking
    payload turns out corrupt), ``fake=False`` raises. ``decoder`` in
    the result names which path ran ('png' | 'bmp' | 'gif' | 'tiff' |
    'jpeg' | 'pbm/pgm/ppm' | 'qoi' | 'ff' | 'ico' | RAW flavor |
    'fake') so downstream rows are never silently fake."""
    return _decode(FORMATS, "pixels", payload, fake)


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resample of a 2-D uint8 array — real math
    (index arithmetic only, no decode), deterministic."""
    import numpy as np

    h, w = img.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return img[ys[:, None], xs[None, :]]


def resize_images(assets: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Image-normalization plumbing: decode (stub) → nearest-neighbor
    resize to (out_w, out_h) → grayscale byte buffer, via mapInPandas
    Arrow batches. Non-image rows are skipped (filter upstream to
    avoid shipping their payloads). The output buffer is the canonical
    input to pixel-level fingerprints (reference pHash decodes+resizes
    exactly like this, /root/reference/src/media_dedup.rs:182-202)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, payload in zip(pdf["asset_id"], pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if not _routes_to(FORMATS, raw, kind, "image"):
                    continue
                img, w, h, _dec = _decode(FORMATS, "pixels", raw, True)
                out = resize_nearest(img, out_w, out_h)
                rows.append(
                    {
                        "asset_id": int(aid),
                        "src_w": w,
                        "src_h": h,
                        "out_w": out_w,
                        "out_h": out_h,
                        "pixels": out.tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return assets.mapInPandas(_resize, RESIZED_SCHEMA)


def sample_frames(assets: DataFrame, every_ms: int = 1000, max_frames: int = 64) -> DataFrame:
    """Video frame-sampling plumbing (one-to-many): demux (stub) →
    one row per sampled timestamp with a deterministic frame payload.
    The Spark shape is the real thing — mapInPandas emitting multiple
    rows per input, bounded by max_frames so a pathological duration
    can't explode a batch (counted by the bound, never silent: the
    last emitted frame of a clipped asset has frame_idx ==
    max_frames - 1). A real ffmpeg frame grab replaces the stubbed
    byte-slice frames."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    if max_frames <= 0:
        raise ValueError(f"max_frames must be positive, got {max_frames}")

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, payload in zip(pdf["asset_id"], pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if not _routes_to(FORMATS, raw, kind, "video"):
                    continue
                dur = _fake_duration_ms(raw)
                n = min(max_frames, max(1, dur // every_ms))
                for i in range(n):
                    ts = i * every_ms
                    lo = (i * 97) % max(1, len(raw))
                    rows.append(
                        {
                            "asset_id": int(aid),
                            "frame_idx": i,
                            "ts_ms": ts,
                            "frame": raw[lo : lo + 64] or b"\x00",
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return assets.mapInPandas(_frames, FRAME_SCHEMA)


def extract_features(assets: DataFrame, dim: int = 64) -> DataFrame:
    """Payload → L2-normalized float feature vector (byte 4-bit-pair
    histogram folded to ``dim``). NOT a stub: byte-distribution
    features are decode-free, deterministic content descriptors —
    coarse, but real. The output column is drop-in compatible with the
    embedding operators (similarity.cosine_near_dup_pairs /
    ann_topk_rhp / ivf_topk), closing the multimodal → embedding-dedup
    loop; a learned encoder would replace this UDF with the same
    signature."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, FloatType

    @pandas_udf(ArrayType(FloatType()))
    def feat(payloads: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for payload in payloads:
            raw = bytes(payload) if payload is not None else b""
            buf = np.frombuffer(raw, dtype=np.uint8)
            if buf.shape[0] < 2:
                out.append(np.zeros(dim, dtype=np.float32))
                continue
            # byte-bigram nibble pairs → 256 bins → fold to dim
            pairs = (buf[:-1].astype(np.int32) >> 4) * 16 + (buf[1:].astype(np.int32) >> 4)
            hist = np.bincount(pairs % dim, minlength=dim).astype(np.float64)
            nrm = np.linalg.norm(hist)
            out.append((hist / nrm if nrm > 0 else hist).astype(np.float32))
        return pd.Series(out)

    return assets.withColumn("embedding", feat(F.col("payload")))


PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("phash", LongType(), False),   # 64-bit DCT perceptual hash
        StructField("decoder", StringType(), False),  # a FORMATS decoder token | fake
        # decoded geometry, free at fingerprint time — the media
        # keeper's resolution key without a second decode pass
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
    ]
)


def _fingerprint(rows, modality: str, raw: bytes, fake: bool, max_frames: int = 16) -> dict:
    """One asset's 64-bit signature: ``modality``'s decoder facet
    (``_decode``, so NotImplementedError follows the stub policy) then
    its kernel — DCT pHash, band-energy fingerprint or frame-hash
    majority. Returns ``sig``, ``decoder``, ``width``/``height`` (None
    for audio) and, for video, ``n_frames_sampled``. ``rows`` is the
    format table the calling UDF closure captured (see ``_decode``)."""
    if modality == "image":
        from dedup_spark.functions.imagecodec import phash64

        img, w, h, dec = _decode(rows, "pixels", raw, fake)
        return {"sig": phash64(img), "decoder": dec, "width": w, "height": h}
    if modality == "audio":
        from dedup_spark.functions.audiocodec import audio_fingerprint64

        x, rate, dec = _decode(rows, "samples", raw, fake)
        return {"sig": audio_fingerprint64(x, rate), "decoder": dec, "width": None, "height": None}
    from dedup_spark.functions.videocodec import video_fingerprint64

    frames, _fps, dec = _decode(rows, "frames", raw, fake, max_frames=max_frames)
    sig, taken = video_fingerprint64(frames, max_frames=max_frames)
    return {"sig": sig, "decoder": dec, "width": int(frames.shape[2]),
            "height": int(frames.shape[1]), "n_frames_sampled": taken}


def _fingerprints(
    assets: DataFrame, modality: str, schema: StructType, fake: bool, max_frames: int = 16
) -> DataFrame:
    """One modality's signatures via mapInPandas Arrow batches: rows
    that do not route to ``modality`` (``_routes_to``) are dropped, the
    rest go through ``_fingerprint``. ``schema``'s second field names
    the signature column."""
    names = schema.fieldNames()

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, payload in zip(pdf["asset_id"], pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if _routes_to(FORMATS, raw, kind, modality):
                    fp = _fingerprint(FORMATS, modality, raw, fake, max_frames)
                    rows.append({**fp, "asset_id": int(aid), names[1]: fp["sig"]})
            yield pd.DataFrame(rows, columns=names)

    return assets.mapInPandas(_fp, schema)


def image_phash(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Per-image 64-bit DCT perceptual hash over the ``FORMATS`` rows'
    ``pixels`` decoders (``decode_pixels``), the deterministic fake
    elsewhere when ``fake=True`` (reference image pHash,
    media_dedup.rs:182-202). Non-image rows are
    dropped; ``decoder`` says which decode path produced each row;
    an undecodable image raises NotImplementedError when ``fake=False``.

    mapInPandas Arrow batches; the hash lands in a LongType column
    bit-compatible with the engine's SimHash machinery, so image
    near-dup needs no new join code at any scale."""
    return _fingerprints(assets, "image", PHASH_SCHEMA, fake)


def _signature_edges(
    sigs: DataFrame, sig_col: str, cfg, by: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """The graph of 64-bit perceptual signatures (image pHash, audio
    fingerprint, video frame-hash majority) before assembly:
    ``(members, pairs)`` — ``sigs`` with the text engine's exact
    collapse (``_rn``, ``exact_rep``) and the ``(id_a, id_b)`` Hamming
    block-pair join over the representatives, with the text SimHash
    path's recall and bucket caps. ``by`` columns key the collapse and
    the buckets (and so the ``band_bucket_cap`` count): rows that
    differ on ``by`` never pair."""
    from dedup_spark.checkpoint import lineage_cut
    from dedup_spark.operators.exact import with_exact_rep
    from dedup_spark.operators.simhash_join import simhash_candidate_pairs

    # exact-signature collapse BEFORE the Hamming join — the same
    # min-id collapse the text pipeline applies before LSH: a web-scale
    # media corpus carries one asset verbatim millions of times, and
    # without it every copy lands in the same block-pair buckets, where
    # the 512-member cap drops the excess (counted, but recall-lossy).
    # Members take their representative's label, so identical-signature
    # clustering is exact at ANY multiplicity and the join's bucket
    # load is bounded by the number of DISTINCT signatures (found by
    # scripts/media_scale_probe.py's mass-duplicate variant: recall 1/3
    # at 60k assets without the collapse; 1.0 with it). The collapsed
    # frame feeds both the join and the labels — cut it, so the
    # decode+fingerprint stage upstream runs once, not once per branch.
    sigs = lineage_cut(with_exact_rep(sigs, [*by, sig_col], "asset_id"), cfg, eager=False)
    reps = sigs.filter(F.col("_rn") == 1).withColumnRenamed(sig_col, "simhash")
    pairs = simhash_candidate_pairs(reps, cfg, id_col="asset_id", by=by).select("id_a", "id_b")
    return sigs, pairs


def _signature_near_dup_clusters(
    sigs: DataFrame, sig_col: str, config=None, by: tuple[str, ...] = (),
) -> DataFrame:
    """``_signature_edges`` → CC → ``cc.attach_labels``, sizes keyed by
    ``by``: ``sigs``' columns (``by``, ``sig_col`` first), ``cluster_id``
    and ``cluster_size``. ``media_near_dup_clusters`` takes the edges
    alone into its one CC and label join, blob verified pairs included."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.cc import attach_labels, connected_components

    cfg = config or DedupConfig()
    keys = [*by, sig_col]
    members, pairs = _signature_edges(sigs, sig_col, cfg, by)
    labeled = attach_labels(members, connected_components(pairs, config=cfg), by)
    rest = [c for c in members.columns if c not in (*keys, "_rn", "exact_rep")]
    return labeled.select(*keys, *rest, "cluster_id", "cluster_size")


def image_near_dup_clusters(
    assets: DataFrame, config=None, fake: bool = False
) -> DataFrame:
    """Image near-dup end-to-end: decode (the ``FORMATS`` ``pixels``
    decoders) → DCT pHash → Hamming block-pair probing join →
    connected components — the
    reference's image similarity path (media_dedup.rs:354-377, d ≤ 6
    of 64 ⇔ ≥90%) on the engine's existing scale machinery.

    Returns (phash, asset_id, decoder, width, height, cluster_id,
    cluster_size)."""
    return _signature_near_dup_clusters(image_phash(assets, fake=fake), "phash", config)


def decode_samples(payload: bytes, fake: bool = False) -> tuple:
    """bytes → (mono float64 samples, sample_rate, decoder).

    REAL decode for WAV/RIFF PCM, FLAC, MPEG-1 audio Layers I-III and
    Ogg/Vorbis (stdlib + numpy — ``functions/audiocodec.py``,
    ``functions/mpegaudio.py``, ``functions/mpeg3.py`` and
    ``functions/vorbis.py``; FLAC covers constant/verbatim/fixed/LPC
    subframes, Rice residuals and stereo decorrelation; MPEG covers
    the full Layer I/II bitstream and the Layer III side-info/
    reservoir/scalefactor/Huffman-subset/hybrid-IMDCT chain, with the
    documented non-ISO-table polyphase prototype and
    Huffman-table-subset deltas; Vorbis reads every codebook/floor/
    residue config from the stream's own setup header — floor-0 and
    residue-0 are the documented subset cuts); AAC (and L3/Vorbis
    streams selecting constructs outside the subsets) keeps the
    honest-stub policy: ``fake=True`` falls back to the deterministic
    fake (also for corrupt payloads), ``fake=False`` raises."""
    return _decode(FORMATS, "samples", payload, fake)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("afp", LongType(), False),      # 64-bit band-energy fingerprint
        StructField("decoder", StringType(), False),  # a FORMATS decoder token | fake
    ]
)


def audio_fingerprint(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Per-clip 64-bit band-energy fingerprint over the ``FORMATS``
    rows' ``samples`` decoders (``decode_samples``), deterministic
    fake for undecodable payloads when ``fake=True`` (reference audio
    fingerprint, audio_fingerprint.rs:9-121).
    Non-audio rows are dropped; ``decoder`` marks which decode path
    produced each row; undecodable rows raise as in ``image_phash``.
    mapInPandas Arrow batches; LongType output bit-compatible with the
    SimHash Hamming machinery."""
    return _fingerprints(assets, "audio", AUDIO_FP_SCHEMA, fake)


def audio_near_dup_clusters(
    assets: DataFrame, config=None, fake: bool = False
) -> DataFrame:
    """Audio near-dup end-to-end: decode (the ``FORMATS`` ``samples``
    decoders) → band-energy fingerprint → the same Hamming block-pair
    join + CC as every other 64-bit signature. Returns (afp, asset_id,
    decoder, cluster_id, cluster_size)."""
    return _signature_near_dup_clusters(audio_fingerprint(assets, fake=fake), "afp", config)


def media_near_dup_clusters(
    assets: DataFrame, config=None, fake: bool = False,
    with_meta: bool = False,
) -> DataFrame:
    """Unified media dedup orchestrator — the reference's same-kind
    comparison gate (F7, /root/reference/src/media_dedup.rs:556-587:
    images compare with images, audio with audio) as ONE API: detect
    each asset's kind from its payload magic, route it to its
    modality's signature path (image → DCT pHash, audio → band-energy
    fingerprint, video → frame-hash majority), and cluster EVERYTHING
    the signature paths could not fingerprint — unknown magics AND
    recognized-but-undecodable formats (AAC, Vorbis, non-MJPEG
    Matroska, corrupt files) — with the decode-free byte-shingle path, so
    one bad file can never kill the job and every asset lands in
    exactly one cluster table row.

    Returns (asset_id, modality, decoder, cluster_id, cluster_size):
    ``decoder`` says which real decoder fingerprinted the row ('bytes'
    for the byte-shingle fallback — nothing is ever silently fake).
    Cluster ids are namespaced by modality, so cross-kind pairs can
    never merge, exactly the reference's gate.

    Every asset is routed and decoded in ONE mapInPandas pass: the
    first ``FORMATS`` row its magic matches names the modality unless
    that row's kind is ``blob``, else the caller's ``kind`` tag (a
    ``blob`` result goes straight to byte shingles); the pass
    dispatches on that modality (``_fingerprint``), and the image, audio
    and video signatures share ONE Hamming join keyed by modality
    (``_signature_edges``). The leftover assets add the byte-shingle
    pipeline's ``edges()`` (members and verified pairs), and ONE
    connected-components pass and ONE label join assemble all four
    modalities. Audio-only media containers
    (Matroska/WebM with no video track: .mka, audio .webm; MPEG system
    streams; FLV) sniff as video by magic but carry only audio streams:
    in the same pass, a row the video decoders refuse whose payload
    matches a format row with ``audio_retry`` is tried once through the
    audio path (``decode_mka`` refuses video-track files) before it
    falls to byte shingles — the engine's analog of the reference's
    ffprobe routing by STREAM inventory, not extension.

    ``with_meta=True`` additionally carries the decoded ``width`` /
    ``height`` captured for free during the fingerprint pass (NULL for
    audio, exactly the reference's extract_audio_metadata, and for
    byte-shingle rows) — the media keeper's resolution key with ZERO
    extra decode work. Default off keeps the hot path's shuffle rows
    as narrow as before.
    """
    from dedup_spark.checkpoint import lineage_cut
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.cc import attach_labels, connected_components

    cfg = config or DedupConfig()
    # the decode pass and the leftover anti-join both read the input:
    # cut its lineage so the upstream scan runs once
    assets = lineage_cut(assets, cfg, eager=False)
    meta_cols = ("width", "height") if with_meta else ()
    names = ["asset_id", "modality", "sig", "decoder", *meta_cols]

    def _sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def attempts(kind: str, raw: bytes) -> Iterator[str]:
            # routing = content magic first, the caller's kind tag as the
            # fallback — exactly the reference's detect_media_type order
            # (content via `infer`, THEN extension-based detection,
            # media_dedup.rs:136-163). The fallback is what routes
            # magic-less formats a caller knows about (TGA from a .tga
            # path); a wrong tag only costs a failed decode + the
            # byte-shingle reroute. Blob rows yield nothing.
            row = match(raw, FORMATS)
            if row is not None and row.kind != "blob":
                modality = row.kind
            elif kind in ("image", "audio", "video"):
                modality = kind
            else:
                return
            yield modality
            if modality == "video" and any(r.audio_retry and r.matches(raw) for r in FORMATS):
                yield "audio"

        for pdf in batches:
            rows = []
            for aid, kind, payload in zip(pdf["asset_id"], pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                for modality in attempts(kind, raw):
                    try:
                        fp = _fingerprint(FORMATS, modality, raw, fake)
                    except NotImplementedError:
                        continue  # retry, or left to the byte-shingle path
                    rows.append({**fp, "asset_id": int(aid), "modality": modality})
                    break
            yield pd.DataFrame(rows, columns=names)

    schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("modality", StringType(), False),
            StructField("sig", LongType(), False),
            StructField("decoder", StringType(), False),
            *(StructField(c, LongType(), True) for c in meta_cols),
        ]
    )
    # every modality's signatures in ONE frame, tagged by modality: one
    # exact collapse and one Hamming join with the modality in every
    # key — the reference's same-kind gate without a pipeline per kind.
    # The frame feeds BOTH the graph and the leftover anti-join, so it
    # is cut here (without the cut the ~100 ms/asset JPEG decode would
    # run twice); _signature_edges then cuts its collapsed frame, as
    # the text pipeline does
    sigs = lineage_cut(assets.mapInPandas(_sigs, schema), cfg, eager=False)

    members, pairs = _signature_edges(sigs, "sig", cfg, by=("modality",))
    pipe, files = _blob_pipeline(assets.join(sigs.select("asset_id"), "asset_id", "left_anti"), cfg)
    blob_members, blob_pairs = pipe.edges(files)
    blob_members = blob_members.select(
        F.col("file_id").alias("asset_id"), F.lit("blob").alias("modality"),
        F.lit("bytes").alias("decoder"), "exact_rep",
        *(F.lit(None).cast("long").alias(c) for c in meta_cols),
    )
    # asset ids are unique and no edge crosses a modality, so one
    # components pass over the union labels each modality as its own
    # pass would
    comp = connected_components(pairs.union(blob_pairs.select("id_a", "id_b")), config=cfg)
    members = members.select(*blob_members.columns).unionByName(blob_members)
    return attach_labels(members, comp, by=("modality",)).select(
        "asset_id", "modality", "decoder",
        F.concat("modality", F.lit(":"), F.col("cluster_id").cast("string")).alias("cluster_id"),
        "cluster_size", *meta_cols,
    )


MEDIA_KEEPER_META_SCHEMA = (
    "asset_id long, format string, width long, height long"
)


def media_keeper_meta(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Per-asset keeper metadata — the engine's analog of the
    reference's ``extract_media_metadata`` (media_dedup.rs:342-360):
    (asset_id, format, width, height), where ``format`` is the
    reference-style token (``sniff_media_format``) and width/height
    are REAL decoded pixel geometry (images: the decoded plane; video:
    the first frame; audio: NULL, exactly the reference's
    ``extract_audio_metadata`` which sets width/height to None,
    media_dedup.rs:267-340). An asset whose decode fails yields a
    NULL format row — the reference's failed-extraction ⇒
    ``metadata = None`` case, which ``select_media_keeper`` ranks
    last (media_dedup.rs:430-448). mapInPandas, zero shuffle."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                row = match(raw, FORMATS)
                fmt, kind = (row.token, row.kind) if row else (None, "blob")
                w = h = None
                try:
                    if kind == "image":
                        _img, w, h, _dec = _decode(FORMATS, "pixels", raw, fake)
                    elif kind == "video":
                        try:
                            frames, _fps, _dec = _decode(
                                FORMATS, "frames", raw, fake, max_frames=1
                            )
                            h, w = int(frames.shape[1]), int(frames.shape[2])
                        except Exception:
                            # audio-only media container (.mka, audio
                            # .webm): ffprobe succeeds on these — audio
                            # metadata, NULL dimensions — so the keeper
                            # keeps the format token instead of the
                            # failed-extraction None. Anything else
                            # re-raises into the outer None path.
                            _decode(FORMATS, "samples", raw, fake)
                    elif kind == "audio":
                        _decode(FORMATS, "samples", raw, fake)  # w/h stay NULL
                    else:
                        fmt = None  # blob: no media metadata
                except Exception:  # noqa: BLE001 — any decode failure
                    fmt = None  # ⇒ metadata = None, ranks last
                rows.append(
                    {"asset_id": int(aid), "format": fmt,
                     "width": w, "height": h}
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "format", "width", "height"]
            )

    return assets.mapInPandas(_meta, MEDIA_KEEPER_META_SCHEMA)


def media_keep_selection(
    assets: DataFrame,
    config=None,
    format_preference=None,
    resolution_policy: str = "highest",
    target_w: int | None = None,
    target_h: int | None = None,
    fake: bool = False,
) -> DataFrame:
    """End-to-end media-mode flow, the reference's
    find_similar_media_files → find_best_file_to_keep composition
    (media_dedup.rs:517-600, 425-515): cluster every asset with the
    unified orchestrator, then rank each ACTIONABLE cluster (size ≥ 2)
    with the format-preference + decoded-resolution keeper.

    Scale posture: ZERO extra decode — the keeper's resolution key
    (width/height) rides out of the fingerprint pass itself
    (``with_meta=True``), and the format token is a header-only sniff
    that runs ONLY on duplicate-set members via a semi join (the
    reference instead re-opens every file with ffprobe for metadata —
    a whole second decode pass this composition avoids). Rows the
    orchestrator could not fingerprint (the byte-shingle reroute)
    keep a NULL format, mirroring the reference's
    failed-metadata-extraction ⇒ ranks-last rule.

    Returns (asset_id, modality, decoder, cluster_id, cluster_size,
    format, width, height, rank_in_cluster, is_kept).
    """
    from dedup_spark.operators.select import (
        REFERENCE_FORMAT_PREFERENCE,
        select_media_keeper,
    )

    pref = tuple(format_preference or REFERENCE_FORMAT_PREFERENCE)
    clusters = media_near_dup_clusters(
        assets, config, fake=fake, with_meta=True
    )
    dups = clusters.filter(F.col("cluster_size") >= 2)

    def _sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].astype("int64"),
                    "format": [
                        sniff_media_format(
                            bytes(p) if p is not None else b""
                        )
                        for p in pdf["payload"]
                    ],
                }
            )

    dup_formats = assets.join(
        dups.select("asset_id"), "asset_id", "left_semi"
    ).mapInPandas(_sniff, "asset_id long, format string")
    ranked = select_media_keeper(
        dups.join(dup_formats, "asset_id", "left").withColumn(
            # a byte-shingle-rerouted row never decoded: its format is
            # unusable metadata, rank it last like the reference's
            # failed extraction (media_dedup.rs:430-434)
            "format",
            F.when(F.col("decoder") != "bytes", F.col("format")),
        ),
        format_preference=pref,
        resolution_policy=resolution_policy,
        target_w=target_w,
        target_h=target_h,
    )
    singletons = clusters.filter(F.col("cluster_size") < 2).select(
        "asset_id", "modality", "decoder", "cluster_id", "cluster_size",
        F.lit(None).cast("string").alias("format"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(1).alias("rank_in_cluster"),
        F.lit(True).alias("is_kept"),
    )
    return ranked.select(*singletons.columns).unionByName(singletons)


def decode_frames(
    payload: bytes, fake: bool = False, max_frames: int | None = None
) -> tuple:
    """bytes → (luma frames uint8 (n, h, w), fps, decoder).
    ``max_frames`` lets compressed containers decode only the
    evenly-sampled frames the fingerprint will use (same grid as
    ``video_fingerprint64``, bit-identical result).

    REAL decode for Y4M/YUV4MPEG2 raw video (public plain-text header
    + raw planes), for Motion-JPEG in all four containers —
    MJPEG-in-AVI (RIFF walk), MJPEG-in-Matroska (EBML SimpleBlock
    walk), MJPEG-in-MP4 and in legacy pre-ftyp QuickTime .mov (the
    reference's preference list names mov, media_dedup.rs:76), each
    frame through the baseline-JPEG codec — AND for MPEG-1/MPEG-2
    video elementary streams
    (I-pictures decoded for real, P/B skipped: keyframe parity with
    the reference's ffmpeg keyframe extraction; variant from the
    sequence_extension probe) — ``functions/videocodec.py`` and
    ``functions/mpeg1video.py``. Other compressed
    codecs (VP9/H.264 in Matroska/MP4, non-MJPEG AVI) keep the
    honest-stub policy: ``fake=True`` falls back to a deterministic
    fake frame stack (byte-derived pixels, length-derived duration),
    ``fake=False`` raises."""
    return _decode(FORMATS, "frames", payload, fake, max_frames=max_frames)


VIDEO_FP_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("vfp", LongType(), False),        # 64-bit clip fingerprint
        StructField("n_frames_sampled", LongType(), False),
        StructField("decoder", StringType(), False),  # a FORMATS decoder token | fake
        # frame geometry, free at fingerprint time (keeper resolution key)
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
    ]
)


def video_fingerprint(
    assets: DataFrame, max_frames: int = 16, fake: bool = False
) -> DataFrame:
    """Per-clip 64-bit fingerprint over the ``FORMATS`` rows'
    ``frames`` decoders (``decode_frames``): evenly sampled frames →
    per-frame DCT pHash → bitwise majority vote (reference frame-hash
    design, video_fingerprint.rs:11-103). Non-video rows are dropped;
    ``decoder`` marks the decode path; undecodable rows raise as in
    ``image_phash``. Compressed containers decode ONLY the sampled
    frames (``decode_frames(max_frames=…)``). Robust to per-frame
    noise/re-encode of the SAME frame sequence; a trimmed clip samples
    a different grid and is a different sequence by this scheme
    (documented, matching the reference's sequence compare)."""
    return _fingerprints(assets, "video", VIDEO_FP_SCHEMA, fake, max_frames)


def video_near_dup_clusters(
    assets: DataFrame, config=None, fake: bool = False
) -> DataFrame:
    """Video near-dup end-to-end: decode (the ``FORMATS`` ``frames``
    decoders) → majority frame pHash → the same Hamming block-pair
    join + CC as every other 64-bit signature. Returns (vfp, asset_id,
    n_frames_sampled, decoder, width, height, cluster_id,
    cluster_size)."""
    return _signature_near_dup_clusters(video_fingerprint(assets, fake=fake), "vfp", config)


CONTAINER_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("container", StringType(), False),  # mp3|matroska|webm|mp4|adts|ogg|mpegps|mpegts|flv|asf|unknown
        StructField("codec", StringType(), False),
        StructField("n_tracks", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("bitrate_kbps", LongType(), False),
        StructField("duration_ms", LongType(), False),
    ]
)


def media_container_meta(assets: DataFrame) -> DataFrame:
    """REAL container-level metadata, decode-free by design (the
    ffprobe analog runs on every media file, decodable or not — MP3
    sample decode itself is real since ``functions/mpeg3.py``): MP3
    frame-header walk,
    Matroska/EBML element walk, MP4/ISO-BMFF box walk (pure stdlib,
    public specs — ``functions/containers.py``). This is the engine's
    native analog of the reference's ffprobe metadata pass
    (/root/reference/src/media_dedup.rs:294-327,
    /root/reference/src/video_fingerprint.rs:107-160): duration,
    bitrate, sample rate, track/codec inventory — decode-free, like
    ffprobe itself. Unparseable payloads yield container='unknown'
    rows (never a task failure), so every asset lands in exactly one
    row."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedup_spark.functions.containers import (
            ContainerParseError,
            parse_container,
        )

        cols = [f.name for f in CONTAINER_META_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    m = parse_container(bytes(payload) if payload is not None else b"")
                except ContainerParseError:
                    m = {
                        "container": "unknown", "codec": "", "n_tracks": 0,
                        "n_frames": 0, "sample_rate": 0, "bitrate_kbps": 0,
                        "duration_ms": 0,
                    }
                m.pop("channel_mode", None)
                m["asset_id"] = int(aid)
                rows.append(m)
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(_meta, CONTAINER_META_SCHEMA)
