"""The media format table: one ordered, first-match list of formats, each
row holding a payload magic, the kind the orchestrator routes it to, the
reference-style format token and the decoders that open it.

The reference's media mode detects each file's type by content magic,
then compares only files of the same kind (media_dedup.rs:136-166,
556-587). Every routing decision in the engine reads this one table:

- :func:`match` — the first row whose magic holds: the payload's routed
  kind (``detect_kind_from_magic``) and format token
  (``sniff_media_format``). The media orchestrator routes each asset
  with it inside its one decode pass;
- :func:`decoder_row` — the first row that matches and carries a decoder
  for one facet: ``pixels``, ``samples``, ``frames`` or ``parse``
  (``decode_pixels`` / ``decode_samples`` / ``decode_frames`` /
  ``parse_container``).

A magic is data: ``(offset, bytes)`` equalities, where a set of
same-length bytes admits any one of them (a bit-mask test on one
header byte is the set of values it admits), and a minimum length. The
few tests data cannot say are each one predicate over the payload bytes
(``Format.check``).
Deliberate differences between routing and naming are row fields: ADTS
and ASCII Netpbm have tokens but route to ``blob`` (no AAC decode; the
ASCII forms read as plain text), and TGA has no magic at all (its row
only serves payloads already routed to ``image``).

Decoders import their codec module on first call, so an executor loads
only the codecs its rows need. The table is also the decoder swap seam:
the operators' UDF closures capture ``FORMATS`` when the plan is built,
so a row edited in the calling process (a faster kernel, or a test
double) is what the executors run.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from importlib import import_module
from typing import Callable

Magic = tuple[tuple[int, "bytes | frozenset[bytes]"], ...]


@dataclass(frozen=True)
class Codec:
    """A decoder ``<module>.<function>`` in ``dedup_spark.functions``,
    imported on first call. ``token`` (when set) is appended to the
    function's result tuple; ``sampled`` passes ``max_frames`` through
    to frame decoders that decode only the sampled frames."""

    path: str
    token: str | None = None
    sampled: bool = False

    def __call__(self, raw: bytes, max_frames: int | None = None):
        fn = load(self.path)
        out = fn(raw, max_frames=max_frames) if self.sampled else fn(raw)
        return out if self.token is None else (*out, self.token)


def load(path: str):
    """``<module>.<name>`` from ``dedup_spark.functions``, imported on
    first use."""
    module, name = path.rsplit(".", 1)
    return getattr(import_module(f"dedup_spark.functions.{module}"), name)


@dataclass(eq=False)
class Format:
    """One row. ``magic=None`` is never matched by content; such a row
    only serves decoder lookups for payloads routed by their kind tag.
    Decoder facets: ``pixels(raw) -> (img, w, h, decoder)``,
    ``samples(raw) -> (x, rate, decoder)``,
    ``frames(raw, max_frames) -> (frames, fps, decoder)`` and
    ``parse(raw) -> container metadata``. ``check`` is a test on the
    payload bytes that the magic cannot say."""

    token: str
    kind: str  # image | audio | video | blob
    magic: Magic | None
    check: Callable[[bytes], bool] | None = None
    min_len: int = 4
    pixels: Callable | None = None
    samples: Callable | None = None
    frames: Callable | None = None
    parse: Callable | None = None

    @property
    def audio_retry(self) -> bool:
        """A video format that may carry audio only (Matroska, MPEG
        system streams, FLV): rows its video decoder refuses get one
        retry through the audio path."""
        return self.kind == "video" and self.samples is not None

    def matches(self, d: bytes) -> bool:
        if self.magic is None or len(d) < self.min_len:
            return False
        for off, want in self.magic:
            if isinstance(want, bytes):
                if d[off : off + len(want)] != want:
                    return False
            elif d[off : off + len(next(iter(want)))] not in want:
                return False
        return self.check is None or self.check(d)


def _bytes_where(keep: Callable[[int], bool]) -> frozenset[bytes]:
    """The single bytes whose value passes ``keep``: a bit-mask or range
    test on one header byte, written as data."""
    return frozenset(bytes([v]) for v in range(256) if keep(v))


# ---- the tests data cannot say ------------------------------------------


def _qt_size(d: bytes) -> bool:  # leading box size plausible: 8..file size
    return 8 <= int.from_bytes(d[:4], "big") <= len(d)


_TS_STRIDES = (188, 204)  # plain and DVB-capture (16 RS parity bytes) packets


def _ts_sync(d: bytes) -> bool:  # 0x47 sync at three packet boundaries
    return any(
        len(d) >= 3 * s and d[0] == d[s] == d[2 * s] == 0x47 for s in _TS_STRIDES
    )


def _raw_flavor(d: bytes, flavor: str) -> bool:
    from dedup_spark.functions.rawimage import detect_raw_flavor

    return detect_raw_flavor(d) == flavor


# ---- decoders whose bodies are more than one codec call ------------------


def _mpeg_samples(raw: bytes):
    from dedup_spark.functions.mpegaudio import decode_mpeg

    x, rate, layer = decode_mpeg(raw)
    return x, rate, f"mp{layer}"


def _mka_samples(raw: bytes):
    # audio-only Matroska/WebM (.mka, audio .webm): the carried codec is
    # FLAC / Vorbis / PCM. Files with a video track raise (they are video
    # files; see decode_mka) and keep the video route's stub policy.
    from dedup_spark.functions.audiocodec import decode_mka

    x, rate, inner = decode_mka(raw)
    return x, rate, f"mka{inner}"


def _ogg_samples(raw: bytes):
    # dispatch on the BOS packet's codec identification header (plain
    # bits in every mapped codec): FLAC-in-Ogg reuses the native FLAC
    # frame decoder; everything else goes to the Vorbis path, which
    # rejects Opus/Speex/Theora with a typed error (stub policy kept)
    from dedup_spark.functions.audiocodec import decode_ogg_flac
    from dedup_spark.functions.vorbis import decode_vorbis

    nsegs = raw[26] if len(raw) > 26 else 0
    if raw[27 + nsegs : 27 + nsegs + 5] == b"\x7fFLAC":
        x, rate = decode_ogg_flac(raw)
        return x, rate, "oggflac"
    x, rate = decode_vorbis(raw)
    return x, rate, "vorbis"


def _flv_samples(raw: bytes):
    # audio-only FLV: MP3 and LPCM sound formats decode for real; video
    # tags present → refuse (same stream-inventory policy); H.263/VP6/AVC
    # video stays honestly stubbed
    from dedup_spark.functions.audiocodec import AudioDecodeError
    from dedup_spark.functions.containers import (
        _FLV_RATES,
        ContainerParseError,
        parse_flv_tags,
    )
    from dedup_spark.functions.mpegaudio import decode_mpeg

    chunks: list[bytes] = []
    flags = None
    try:
        for ttype, _ts, body in parse_flv_tags(raw):
            if ttype == 9 and body:
                raise AudioDecodeError("FLV has a video tag")
            if ttype == 8 and len(body) > 1:
                if flags is None:
                    flags = body[0]
                chunks.append(body[1:])
    except ContainerParseError as exc:
        raise AudioDecodeError(f"FLV parse: {exc}") from exc
    if flags is None:
        raise AudioDecodeError("FLV has no audio tags")
    fmt = flags >> 4
    es = b"".join(chunks)
    if fmt in (2, 14):  # MP3 frames ride verbatim in the tags
        x, rate, layer = decode_mpeg(es)
        return x, rate, f"flv-mp{layer}"
    if fmt == 3 and (flags >> 1) & 1:  # LPCM little-endian 16-bit
        import numpy as np

        stereo = flags & 1
        width = 2 * (2 if stereo else 1)
        s = np.frombuffer(
            es[: len(es) - len(es) % width], dtype="<i2"
        ).astype(np.float64) / 32768.0
        if stereo:
            s = s.reshape(-1, 2).mean(axis=1)
        if s.size == 0:
            raise AudioDecodeError("FLV LPCM decodes to nothing")
        rate = _FLV_RATES[(flags >> 2) & 3]
        return np.clip(s, -1.0, 1.0), rate, "flv-pcm"
    raise AudioDecodeError(f"unsupported FLV sound format {fmt}")


def _system_samples(raw: bytes, wrapper: str):
    # audio-only MPEG system streams (MP2 radio/DVB dumps): same
    # stream-inventory policy as Matroska — a video stream present means
    # it is a video file, refuse here
    from dedup_spark.functions.audiocodec import AudioDecodeError
    from dedup_spark.functions.containers import (
        TS_VIDEO_STREAM_TYPES,
        ContainerParseError,
        demux_mpeg_ps,
        demux_mpeg_ts,
    )
    from dedup_spark.functions.mpegaudio import decode_mpeg

    try:
        if wrapper == "ps":
            streams = demux_mpeg_ps(raw)
            if any(0xE0 <= s <= 0xEF for s in streams):
                raise AudioDecodeError("program stream has a video stream")
            auds = sorted(s for s in streams if 0xC0 <= s <= 0xDF)
            es = streams[auds[0]] if auds else b""
        else:
            ts = demux_mpeg_ts(raw)
            if any(st in TS_VIDEO_STREAM_TYPES for st, _ in ts.values()):
                raise AudioDecodeError("transport stream has a video stream")
            auds = sorted(p for p, (st, _) in ts.items() if st in (0x03, 0x04))
            es = ts[auds[0]][1] if auds else b""
    except ContainerParseError as exc:
        raise AudioDecodeError(f"system-layer demux: {exc}") from exc
    if not es:
        raise AudioDecodeError(f"{wrapper}: no MPEG audio stream")
    x, rate, layer = decode_mpeg(es)
    return x, rate, f"{wrapper}-mp{layer}"


def _system_frames(raw: bytes, wrapper: str, max_frames: int | None = None):
    # MPEG system layers (.mpg program stream / .ts transport stream):
    # structural demux → the same MPEG-1/2 video ES decoder; audio-only
    # system streams raise here and take the orchestrator's audio retry
    # (like audio-only MKV)
    from dedup_spark.functions.containers import (
        TS_VIDEO_STREAM_TYPES,
        ContainerParseError,
        demux_mpeg_ps,
        demux_mpeg_ts,
    )
    from dedup_spark.functions.mpeg1video import decode_mpeg_video
    from dedup_spark.functions.videocodec import VideoDecodeError

    try:
        if wrapper == "ps":
            streams = demux_mpeg_ps(raw)
            vids = sorted(s for s in streams if 0xE0 <= s <= 0xEF)
            es = streams[vids[0]] if vids else None
        else:
            ts = demux_mpeg_ts(raw)
            vids = sorted(p for p, (st, _) in ts.items() if st in (0x01, 0x02))
            if not vids and any(st in TS_VIDEO_STREAM_TYPES for st, _ in ts.values()):
                # H.264/HEVC/... video present but outside the decodable
                # subset: this is a VIDEO file — do NOT let the audio
                # retry claim it by soundtrack
                raise VideoDecodeError(
                    "transport stream video codec outside the MPEG-1/2 subset"
                )
            es = ts[vids[0]][1] if vids else None
    except ContainerParseError as exc:
        raise VideoDecodeError(f"system-layer demux: {exc}") from exc
    if es is None:
        raise VideoDecodeError(f"{wrapper}: no MPEG video stream (audio-only?)")
    j = es.find(b"\x00\x00\x01\xb3")
    if j < 0:
        raise VideoDecodeError(f"{wrapper}: video ES lacks a sequence header")
    frames, fps, tag = decode_mpeg_video(es[j:], max_frames=max_frames)
    return frames, fps, f"{wrapper}-{tag}"


# ---- the table -----------------------------------------------------------

_WS = frozenset((b" ", b"\t", b"\r", b"\n"))
_TIFF = ((0, frozenset((b"II\x2a\x00", b"MM\x00\x2a"))),)
# atoms a legacy (pre-ftyp) QuickTime file may open with
QT_ATOMS = frozenset((b"moov", b"mdat", b"wide", b"free", b"skip", b"pnot"))
_MP4_FRAMES = Codec("videocodec.decode_mp4_mjpeg", "mp4-mjpeg", sampled=True)
_MP4_PARSE = Codec("containers.parse_mp4")
_MP3_PARSE = Codec("containers.parse_mp3")
_RAW_PREVIEW = Codec("rawimage.decode_raw_preview")  # token = the RAW flavor

LEGACY_QT = Format(
    "mov", "video", ((4, QT_ATOMS),), _qt_size, min_len=16,
    frames=Codec("videocodec.decode_mp4_mjpeg", "mov-mjpeg", sampled=True),
    parse=_MP4_PARSE,
)


def _img(token: str, magic: Magic | None, codec: str, **kw) -> Format:
    return Format(token, "image", magic, pixels=Codec(codec, token), **kw)


FORMATS: tuple[Format, ...] = (
    # JPEG: the 4th byte varies by flavor (e0 JFIF, e1 EXIF, db raw
    # quantization-table-first), all of them JPEG images
    _img("jpeg", ((0, b"\xff\xd8\xff"),), "jpegcodec.decode_jpeg"),
    # "BM" alone is too weak (text starting "BM…"): the 4 reserved-zero
    # header bytes at 6-9 must hold too
    _img("bmp", ((0, b"BM"), (6, b"\x00\x00\x00\x00")), "imagecodec.decode_bmp"),
    _img("ff", ((0, b"farbfeld"),), "imagecodec.decode_farbfeld"),
    _img("hdr", ((0, b"#?RADIANCE"),), "imagecodec.decode_hdr"),
    _img("hdr", ((0, b"#?RGBE"),), "imagecodec.decode_hdr"),
    # binary Netpbm: P4-P6 + whitespace + digit/comment/whitespace
    *(
        _img(token, ((0, b"P" + v), (2, _WS),
                     (3, _WS | {b"#", *(bytes([c]) for c in b"0123456789")})),
             "imagecodec.decode_pnm")
        for v, token in ((b"4", "pbm"), (b"5", "pgm"), (b"6", "ppm"))
    ),
    # ASCII Netpbm reads as plain text at the magic layer: named, but
    # routed to blob; decode_pixels still opens it when tagged image
    *(
        Format(token, "blob", ((0, b"P" + v), (2, _WS)),
               pixels=Codec("imagecodec.decode_pnm", token))
        for v, token in ((b"1", "pbm"), (b"2", "pgm"), (b"3", "ppm"))
    ),
    # ICO: reserved 0000 + type 0100 + a sane entry count (1-64); a
    # false positive only costs the decode-fail reroute to byte shingles
    _img("ico", ((0, b"\x00\x00\x01\x00"), (4, _bytes_where(lambda v: 1 <= v <= 64)),
                 (5, b"\x00")), "imagecodec.decode_ico"),
    # RIFF is a container: the kind lives at bytes 8-12
    Format("wav", "audio", ((0, b"RIFF"), (8, b"WAVE")),
           samples=Codec("audiocodec.decode_wav", "wav")),
    Format("avi", "video", ((0, b"RIFF"), (8, b"AVI ")),
           frames=Codec("videocodec.decode_avi_mjpeg", "avi-mjpeg", sampled=True)),
    _img("webp", ((0, b"RIFF"), (8, b"WEBP")), "webp.decode_webp"),
    Format("aiff", "audio", ((0, b"FORM"), (8, frozenset((b"AIFF", b"AIFC")))),
           samples=Codec("audiocodec.decode_aiff", "aiff")),
    _img("exr", ((0, b"\x76\x2f\x31\x01"),), "exr.decode_exr"),
    _img("png", ((0, b"\x89PNG"),), "imagecodec.decode_png"),
    _img("gif", ((0, frozenset((b"GIF87a", b"GIF89a"))),), "imagecodec.decode_gif"),
    # camera RAW: TIFF layout with a vendor magic word (ORF, RW2) or
    # TIFF-EP identified by the CR2 marker / Make tag; fingerprinted via
    # the embedded JPEG preview
    Format("orf", "image", ((0, frozenset((b"IIRO", b"IIRS"))),), pixels=_RAW_PREVIEW),
    Format("rw2", "image", ((0, b"II\x55\x00"),), pixels=_RAW_PREVIEW),
    *(
        Format(flavor, "image", _TIFF, partial(_raw_flavor, flavor=flavor),
               pixels=_RAW_PREVIEW)
        for flavor in ("cr2", "arw", "nef")
    ),
    _img("tiff", _TIFF, "imagecodec.decode_tiff"),
    _img("qoi", ((0, b"qoif"),), "imagecodec.decode_qoi"),
    _img("dds", ((0, b"DDS "),), "imagecodec.decode_dds"),
    Format("mp3", "audio", ((0, b"ID3"),), samples=_mpeg_samples, parse=_MP3_PARSE),
    Format("au", "audio", ((0, b".snd"),), samples=Codec("audiocodec.decode_au", "au")),
    Format("flac", "audio", ((0, b"fLaC"),),
           samples=Codec("audiocodec.decode_flac", "flac")),
    Format("ogg", "audio", ((0, b"OggS"),), samples=_ogg_samples,
           parse=Codec("containers.parse_ogg")),
    Format("mkv", "video", ((0, b"\x1a\x45\xdf\xa3"),),
           frames=Codec("videocodec.decode_mkv_mjpeg", "mkv-mjpeg", sampled=True),
           samples=_mka_samples, parse=Codec("containers.parse_mkv")),
    Format("y4m", "video", ((0, b"YUV4MPEG2"),),
           frames=Codec("videocodec.decode_y4m", "y4m")),
    # MPEG-1/2 video elementary stream (sequence header); the decoder
    # names the variant ('m1v' | 'm2v')
    Format("mpg", "video", ((0, b"\x00\x00\x01\xb3"),),
           frames=Codec("mpeg1video.decode_mpeg_video", sampled=True)),
    Format("mpg", "video", ((0, b"\x00\x00\x01\xba"),),  # program stream
           frames=partial(_system_frames, wrapper="ps"),
           samples=partial(_system_samples, wrapper="ps"),
           parse=Codec("containers.parse_mpeg_ps")),
    Format("flv", "video", ((0, b"FLV\x01"),), samples=_flv_samples,
           parse=Codec("containers.parse_flv")),
    # ASF (.wmv/.wma/.asf): the full 16-byte header-object GUID
    Format("wmv", "video", ((0, bytes.fromhex("3026b2758e66cf11a6d900aa0062ce6c")),),
           parse=Codec("containers.parse_asf")),
    # ISO-BMFF signs at offset 4, so it follows every offset-0 magic
    Format("mov", "video", ((4, b"ftyp"), (8, b"qt  ")), frames=_MP4_FRAMES,
           parse=_MP4_PARSE),
    Format("mp4", "video", ((4, b"ftyp"),), frames=_MP4_FRAMES, parse=_MP4_PARSE),
    LEGACY_QT,
    Format("ts", "video", (), _ts_sync,
           frames=partial(_system_frames, wrapper="ts"),
           samples=partial(_system_samples, wrapper="ts"),
           parse=Codec("containers.parse_mpeg_ts")),
    # ADTS (0xFFF sync, layer bits 00): named, but routed to blob (no
    # AAC decode here)
    Format("aac", "blob", ((0, b"\xff"), (1, _bytes_where(lambda v: v & 0xF6 == 0xF0))),
           parse=Codec("containers.parse_adts")),
    # raw MPEG-audio frame header (MP3 without an ID3 tag): 0xFF, then 3
    # more sync bits, version not reserved and this layer; bitrate index
    # not 'bad' and sample-rate index not reserved — so arbitrary
    # 0xFF-led binaries stay blobs. A false positive only costs the
    # decode-fail reroute to byte shingles.
    *(
        Format(f"mp{layer}", "audio", (
            (0, b"\xff"),
            (1, _bytes_where(lambda v, code=2 * (4 - layer): v & 0xE0 == 0xE0
                             and v & 0x06 == code and v & 0x18 != 0x08)),
            (2, _bytes_where(lambda v: v & 0xF0 != 0xF0 and v & 0x0C != 0x0C)),
        ), samples=_mpeg_samples, parse=_MP3_PARSE)
        for layer in (1, 2, 3)
    ),
    # TGA has no leading magic: only payloads that reach decode_pixels by
    # kind tag try it, last, behind its strict structural checks — the
    # reference's extension route (media_dedup.rs:150-177)
    _img("tga", None, "imagecodec.decode_tga"),
)


def match(payload: bytes | None, rows: tuple[Format, ...] = FORMATS) -> Format | None:
    """The first row whose magic holds, or None."""
    d = payload or b""
    return next((r for r in rows if r.matches(d)), None)


def decoder_row(
    payload: bytes, facet: str, rows: tuple[Format, ...] = FORMATS
) -> Format | None:
    """The first row with a ``facet`` decoder whose magic holds or that
    has no magic (TGA: tried last, for payloads routed by kind tag)."""
    return next(
        (
            r for r in rows
            if getattr(r, facet) is not None and (r.magic is None or r.matches(payload))
        ),
        None,
    )


def detect_kind_from_magic(payload: bytes | None) -> str:
    """F6 analog (the reference's detect_media_type by magic bytes then
    extension, media_dedup.rs:136-166): the routed kind of the
    payload's first matching row; unknown → 'blob'."""
    row = match(payload)
    return row.kind if row else "blob"


def sniff_media_format(payload: bytes | None) -> str | None:
    """Reference-style FORMAT token from payload magic, or None.

    The reference keys its keeper ranking on the lowercased file
    extension (media_dedup.rs:170-175: ``path.extension()…
    to_lowercase()`` becomes ``MediaMetadata.format``, ranked against
    the format-preference list at media_dedup.rs:436-452). Synthesized
    assets carry no path, so the engine derives the SAME token from
    the bytes — strictly stronger than trusting the extension, and
    identical for correctly-named files. Tokens match the reference's
    default preference list where a list entry exists (arw/cr2/nef/
    orf/rw2/png/tiff/bmp/jpeg/mp4/mov/mp3/flac/wav); other recognized
    families return their conventional extension token (gif, mkv,
    avi, ogg, aac, y4m, mpg, mp1, mp2), which — like any extension
    absent from the list — ranks after every listed format, exactly
    the reference's unwrap_or(usize::MAX)."""
    row = match(payload)
    return row.token if row else None
