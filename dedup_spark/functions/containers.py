"""Container-level media metadata parsers (pure stdlib, public specs).

The reference extracts stream metadata (duration, bitrate, dimensions,
codec) with an ffprobe subprocess before fingerprinting
(/root/reference/src/media_dedup.rs:294-327,
/root/reference/src/video_fingerprint.rs:107-160). No media libraries
exist in this environment, so this module implements the CONTAINER
layer of the three compressed formats the engine's decode stubs name —
straight from their public specifications:

- MP3 / MPEG audio (ISO/IEC 11172-3 frame-header layout): sync walk
  over frame headers with the published bitrate/samplerate tables,
  skipping ID3v2 (syncsafe size) and ID3v1 tags — yields frame count,
  sample rate, bitrate, channel mode and exact duration.
- Matroska / WebM (EBML, RFC 8794 + the public Matroska spec):
  variable-length-integer element walk — DocType, TimestampScale,
  Duration, per-track TrackType/CodecID.
- MP4 / ISO-BMFF (ISO/IEC 14496-12 box layout): ftyp major brand,
  mvhd timescale/duration (version 0 and 1), trak count, hdlr types.

SAMPLE decode for these formats remains honestly stubbed (entropy
codecs need real codec libraries); the split mirrors the reference,
whose ffprobe metadata pass is likewise decode-free. Every parse
failure raises the typed ContainerParseError so one corrupt asset can
never kill a Spark task.

Encoders (`encode_mp3`, `encode_mkv`, `encode_mp4`) emit minimal
spec-conforming files so fixtures can drive the REAL parsers with
parameters derived deterministically from document bytes — the
format-blind arithmetic the `container_meta` DuckDB oracle recomputes.
"""

from __future__ import annotations

import struct

from dedup_spark.functions.formats import LEGACY_QT, QT_ATOMS, decoder_row


class ContainerParseError(ValueError):
    """Typed parse failure — the stub-policy catch for containers."""


# --------------------------------------------------------------- MP3 ------

# ISO/IEC 11172-3 (and the MPEG-2/2.5 extension) header tables.
# bitrate kbps by [version_group][layer][index]; 0 = free, 15 = invalid
_BR_V1 = {
    1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
}
_BR_V2 = {
    1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}
_CHANNEL_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


def _mp3_frame(d: bytes, i: int):
    """Parse one MPEG audio frame header at offset i; returns
    (frame_size, samples, sample_rate, bitrate_kbps, mode) or None if
    the bytes are not a valid header."""
    if i + 4 > len(d) or d[i] != 0xFF or (d[i + 1] & 0xE0) != 0xE0:
        return None
    ver = (d[i + 1] >> 3) & 3          # 0=MPEG2.5, 2=MPEG2, 3=MPEG1
    layer_code = (d[i + 1] >> 1) & 3   # 1=III, 2=II, 3=I
    if ver == 1 or layer_code == 0:
        return None
    layer = 4 - layer_code             # 1, 2 or 3
    br_idx = (d[i + 2] >> 4) & 0xF
    sr_idx = (d[i + 2] >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    padding = (d[i + 2] >> 1) & 1
    mode = _CHANNEL_MODES[(d[i + 3] >> 6) & 3]
    rate = _RATES[ver][sr_idx]
    bitrate = (_BR_V1 if ver == 3 else _BR_V2)[layer][br_idx]
    if layer == 1:
        samples = 384
        size = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        samples = 1152 if (layer == 2 or ver == 3) else 576
        size = samples // 8 * bitrate * 1000 // rate + padding
    return size, samples, rate, bitrate, mode


def parse_mp3(payload: bytes) -> dict:
    """Walk every MPEG audio frame: returns n_frames, sample_rate,
    bitrate_kbps (of the first frame — VBR streams vary per frame),
    channel mode and exact duration_ms = sum(samples)/rate."""
    d = payload or b""
    i = 0
    if d[:3] == b"ID3":  # ID3v2: 10-byte header, syncsafe 28-bit size
        if len(d) < 10:
            raise ContainerParseError("truncated ID3v2 header")
        i = 10 + ((d[6] & 0x7F) << 21 | (d[7] & 0x7F) << 14
                  | (d[8] & 0x7F) << 7 | (d[9] & 0x7F))
    n_frames = 0
    total_samples = 0
    rate = bitrate = 0
    mode = ""
    while i + 4 <= len(d):
        if d[i : i + 3] == b"TAG":  # ID3v1 trailer
            break
        f = _mp3_frame(d, i)
        if f is None:
            if n_frames == 0:
                raise ContainerParseError(f"no MPEG audio sync at offset {i}")
            break  # trailing junk after the last frame
        size, samples, frate, fbr, fmode = f
        if size <= 4:
            raise ContainerParseError("degenerate MPEG frame size")
        if n_frames == 0:
            rate, bitrate, mode = frate, fbr, fmode
        n_frames += 1
        total_samples += samples
        i += size
    if n_frames == 0:
        raise ContainerParseError("no MPEG audio frames")
    return {
        "container": "mp3",
        "codec": "mp3",
        "n_tracks": 1,
        "n_frames": n_frames,
        "sample_rate": rate,
        "bitrate_kbps": bitrate,
        "channel_mode": mode,
        "duration_ms": total_samples * 1000 // rate,
    }


def encode_mp3(n_frames: int, bitrate_kbps: int = 128, sample_rate: int = 44100,
               seed: int = 0) -> bytes:
    """Minimal MPEG-1 Layer III CBR stream: valid frame headers with
    deterministic filler payload (NOT decodable audio — the container
    layer is the claim)."""
    idx_br = _BR_V1[3].index(bitrate_kbps)
    idx_sr = _RATES[3].index(sample_rate)
    size = 1152 // 8 * bitrate_kbps * 1000 // sample_rate  # padding 0
    hdr = bytes([0xFF, 0xFB, (idx_br << 4) | (idx_sr << 2), 0xC0])
    out = bytearray()
    for k in range(n_frames):
        out += hdr
        out += bytes(((seed + k + j * 37) % 251 for j in range(size - 4)))
    return bytes(out)


# ------------------------------------------------------------- ADTS -------

# ISO/IEC 14496-3 sampling_frequency_index table
_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)


def parse_adts(payload: bytes) -> dict:
    """Walk an ADTS (AAC transport) stream: 7/9-byte headers with
    syncword 0xFFF and layer 00, frame_length including the header,
    (blocks+1)*1024 samples per frame. Returns the same meta shape as
    parse_mp3; bitrate is derived (ADTS carries none) as
    total_bits * rate // (total_samples * 1000)."""
    d = payload or b""
    i = 0
    n_frames = 0
    total_samples = 0
    total_bytes = 0
    rate = channels = 0
    while i + 7 <= len(d):
        if d[i] != 0xFF or (d[i + 1] & 0xF6) != 0xF0:
            if n_frames:
                break
            raise ContainerParseError(f"no ADTS sync at offset {i}")
        protection_absent = d[i + 1] & 1
        sf_idx = (d[i + 2] >> 2) & 0xF
        if sf_idx >= len(_ADTS_RATES):
            raise ContainerParseError("reserved ADTS sampling index")
        chan = ((d[i + 2] & 1) << 2) | (d[i + 3] >> 6)
        flen = ((d[i + 3] & 0x03) << 11) | (d[i + 4] << 3) | (d[i + 5] >> 5)
        hdr_len = 7 if protection_absent else 9
        if flen <= hdr_len:
            raise ContainerParseError("degenerate ADTS frame length")
        if i + flen > len(d):
            raise ContainerParseError("truncated ADTS frame")
        blocks = (d[i + 6] & 0x03) + 1
        if n_frames == 0:
            rate, channels = _ADTS_RATES[sf_idx], chan
        elif _ADTS_RATES[sf_idx] != rate:
            raise ContainerParseError("sample rate changed mid-stream")
        n_frames += 1
        total_samples += blocks * 1024
        total_bytes += flen
        i += flen
    if n_frames == 0:
        raise ContainerParseError("no ADTS frames")
    return {
        "container": "adts",
        "codec": "aac",
        "n_tracks": 1,
        "n_frames": n_frames,
        "sample_rate": rate,
        "bitrate_kbps": total_bytes * 8 * rate // (total_samples * 1000),
        "channel_mode": "mono" if channels == 1 else f"ch{channels}",
        "duration_ms": total_samples * 1000 // rate,
    }


def encode_adts(n_frames: int, payload_bytes: int = 64, rate: int = 48000,
                channels: int = 1, seed: int = 0) -> bytes:
    """Minimal ADTS stream: valid headers (MPEG-4, AAC-LC profile, no
    CRC, one raw data block) around deterministic filler payload (NOT
    decodable audio — the container layer is the claim, mirroring
    encode_mp3)."""
    sf_idx = _ADTS_RATES.index(rate)
    flen = 7 + payload_bytes
    out = bytearray()
    for k in range(n_frames):
        out += bytes([
            0xFF,
            0xF1,  # MPEG-4, layer 00, protection absent
            (1 << 6) | (sf_idx << 2) | ((channels >> 2) & 1),  # AAC-LC
            ((channels & 0x03) << 6) | ((flen >> 11) & 0x03),
            (flen >> 3) & 0xFF,
            ((flen & 0x07) << 5) | 0x1F,  # buffer fullness (VBR marker)
            (0x3F << 2) | 0x00,  # fullness low bits, 1 raw block
        ])
        out += bytes(((seed + k + j * 31) % 253 for j in range(payload_bytes)))
    return bytes(out)


# -------------------------------------------------------------- Ogg -------

def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32: poly 0x04C11DB7, init 0, no reflection, no
    final xor (RFC 3533 appendix)."""
    crc = 0
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if crc & 0x80000000 \
                else (crc << 1) & 0xFFFFFFFF
    return crc


def parse_ogg(payload: bytes) -> dict:
    """Walk Ogg pages (RFC 3533): capture pattern, segment-table sizing,
    BOS/EOS flags, per-serial last granule position. If a BOS packet is
    a Vorbis identification header its channels/rate are extracted, so
    duration follows from the final granule position (PCM sample
    count); CRC is parsed positionally, not verified (decode parity,
    same policy as the FLAC/MP3 walks)."""
    d = payload or b""
    i = 0
    n_pages = 0
    serials: dict[int, int] = {}  # serial -> last granule
    rate = 0
    granule_rate = 0
    codec = ""
    while i + 27 <= len(d):
        if d[i : i + 4] != b"OggS":
            if n_pages:
                break
            raise ContainerParseError(f"no Ogg capture pattern at offset {i}")
        if d[i + 4] != 0:
            raise ContainerParseError("unsupported Ogg version")
        header_type = d[i + 5]
        granule = int.from_bytes(d[i + 6 : i + 14], "little", signed=True)
        serial = int.from_bytes(d[i + 14 : i + 18], "little")
        nsegs = d[i + 26]
        if i + 27 + nsegs > len(d):
            raise ContainerParseError("truncated Ogg segment table")
        body_len = sum(d[i + 27 : i + 27 + nsegs])
        body = i + 27 + nsegs
        if body + body_len > len(d):
            raise ContainerParseError("truncated Ogg page body")
        if header_type & 0x02:  # BOS — codec identification headers are
            # plain bits in every mapped codec (Vorbis I §4.2.2, RFC
            # 7845 §5.1 OpusHead, the Ogg-FLAC mapping, Theora §6.2,
            # the Speex manual); granule units differ per codec
            pkt = d[body : body + 40]
            if pkt[:7] == b"\x01vorbis":
                codec = "vorbis"
                rate = int.from_bytes(pkt[12:16], "little")
                if rate <= 0:
                    raise ContainerParseError("vorbis id header: bad rate")
                granule_rate = rate
            elif pkt[:8] == b"OpusHead":
                codec = "opus"
                # input rate is informational; Opus granules tick 48 kHz
                rate = int.from_bytes(pkt[12:16], "little")
                granule_rate = 48000
            elif pkt[:5] == b"\x7fFLAC" and pkt[9:13] == b"fLaC":
                codec = "flac"
                # STREAMINFO rides in the BOS packet: 20-bit rate at
                # byte 27 of the mapping header
                rate = (pkt[27] << 12) | (pkt[28] << 4) | (pkt[29] >> 4)
                if rate <= 0:
                    raise ContainerParseError("ogg-flac: bad rate")
                granule_rate = rate
            elif pkt[:7] == b"\x80theora":
                codec = "theora"  # video: granules count frames, not
                # samples — duration stays granule-agnostic (0 rate)
            elif pkt[:8] == b"Speex   ":
                codec = "speex"
                rate = int.from_bytes(pkt[36:40], "little")
                granule_rate = rate
        if granule >= 0:
            serials[serial] = granule
        else:
            serials.setdefault(serial, 0)
        n_pages += 1
        i = body + body_len
    if n_pages == 0:
        raise ContainerParseError("no Ogg pages")
    last_granule = max(serials.values()) if serials else 0
    return {
        "container": "ogg",
        "codec": codec,
        "n_tracks": len(serials),
        "n_frames": n_pages,
        "sample_rate": rate,
        "bitrate_kbps": 0,  # Ogg carries none; Vorbis setup stays undecoded
        "duration_ms": (
            last_granule * 1000 // granule_rate if granule_rate else 0
        ),
    }


def _ogg_page(serial: int, seq: int, granule: int, header_type: int,
              body: bytes) -> bytes:
    """One spec-conforming Ogg page (single packet, body < 255*255)."""
    segs = [255] * (len(body) // 255) + [len(body) % 255]
    hdr = (b"OggS" + bytes([0, header_type])
           + granule.to_bytes(8, "little", signed=True)
           + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
           + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs))
    page = bytearray(hdr + body)
    crc = _ogg_crc(bytes(page))
    page[22:26] = crc.to_bytes(4, "little")
    return bytes(page)


def encode_ogg(n_samples: int, rate: int = 48000, n_data_pages: int = 2,
               seed: int = 0) -> bytes:
    """Minimal Ogg/Vorbis-id stream: a BOS page carrying a real Vorbis
    identification header (so parse_ogg extracts channels/rate), then
    deterministic filler data pages, then an EOS page whose granule
    position is the PCM sample count (NOT decodable audio — container
    layer only)."""
    ident = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([1])
             + rate.to_bytes(4, "little") + bytes(12)
             + bytes([0xB8]) + bytes([1]))  # blocksizes 2^8/2^11, framing
    out = bytearray(_ogg_page(0x5EED, 0, 0, 0x02, ident))
    for k in range(n_data_pages):
        body = bytes(((seed + k + j * 29) % 251 for j in range(200)))
        gran = (k + 1) * n_samples // (n_data_pages + 1)
        out += _ogg_page(0x5EED, k + 1, gran, 0x00, body)
    out += _ogg_page(0x5EED, n_data_pages + 1, n_samples, 0x04, b"\x00")
    return bytes(out)


# ------------------------------------------------------------- EBML -------

def _read_vint(d: bytes, i: int, keep_marker: bool) -> tuple[int, int]:
    """RFC 8794 variable-length integer at offset i → (value, next_i).
    keep_marker=True for element IDs (the length-marker bit is part of
    the ID), False for sizes."""
    if i >= len(d):
        raise ContainerParseError("EBML vint past end")
    b0 = d[i]
    if b0 == 0:
        raise ContainerParseError("invalid EBML vint (>8 bytes)")
    length = 8 - b0.bit_length() + 1
    if i + length > len(d):
        raise ContainerParseError("truncated EBML vint")
    v = b0 if keep_marker else b0 & (0xFF >> length)
    for j in range(1, length):
        v = (v << 8) | d[i + j]
    return v, i + length


def _ebml_children(d: bytes, i: int, end: int):
    """Yield (element_id, body_start, body_end) for each child."""
    while i < end:
        eid, i = _read_vint(d, i, keep_marker=True)
        size, i = _read_vint(d, i, keep_marker=False)
        if i + size > end:
            raise ContainerParseError("EBML element overruns parent")
        yield eid, i, i + size
        i += size


def _ebml_uint(d: bytes, a: int, b: int) -> int:
    v = 0
    for j in range(a, b):
        v = (v << 8) | d[j]
    return v


def parse_mkv(payload: bytes) -> dict:
    """Matroska/WebM structural walk: DocType, TimestampScale,
    Duration, and per-track TrackType/CodecID."""
    d = payload or b""
    if d[:4] != b"\x1a\x45\xdf\xa3":
        raise ContainerParseError("not an EBML stream")
    doctype = ""
    tscale = 1_000_000  # Matroska default: ns per timestamp tick
    duration_ticks = 0.0
    codecs: list[str] = []
    n_tracks = 0
    for eid, a, b in _ebml_children(d, 0, len(d)):
        if eid == 0x1A45DFA3:  # EBML header
            for cid, ca, cb in _ebml_children(d, a, b):
                if cid == 0x4282:  # DocType
                    doctype = d[ca:cb].decode("ascii", "replace")
        elif eid == 0x18538067:  # Segment
            for cid, ca, cb in _ebml_children(d, a, b):
                if cid == 0x1549A966:  # Info
                    for iid, ia, ib in _ebml_children(d, ca, cb):
                        if iid == 0x2AD7B1:
                            tscale = _ebml_uint(d, ia, ib)
                        elif iid == 0x4489:  # Duration (float)
                            if ib - ia == 4:
                                (duration_ticks,) = struct.unpack(">f", d[ia:ib])
                            elif ib - ia == 8:
                                (duration_ticks,) = struct.unpack(">d", d[ia:ib])
                            else:
                                raise ContainerParseError("bad Duration width")
                            # a crafted NaN/inf float must die HERE as
                            # the typed error, not as int(NaN) later
                            if not (0 <= duration_ticks < 2**53):
                                raise ContainerParseError(
                                    "non-finite or out-of-range Duration"
                                )
                elif cid == 0x1654AE6B:  # Tracks
                    for tid, ta, tb in _ebml_children(d, ca, cb):
                        if tid != 0xAE:  # TrackEntry
                            continue
                        n_tracks += 1
                        for fid, fa, fb in _ebml_children(d, ta, tb):
                            if fid == 0x86:  # CodecID
                                codecs.append(
                                    d[fa:fb].decode("ascii", "replace")
                                )
    if not doctype:
        raise ContainerParseError("EBML stream has no DocType")
    return {
        "container": doctype,
        "codec": codecs[0] if codecs else "",
        "n_tracks": n_tracks,
        "n_frames": 0,
        "sample_rate": 0,
        "bitrate_kbps": 0,
        "channel_mode": "",
        "duration_ms": int(duration_ticks * tscale // 1_000_000),
    }


def _ebml_elem(eid: int, body: bytes) -> bytes:
    id_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(body)
    # encode size in the fewest vint bytes that fit
    for ln in range(1, 9):
        if n < (1 << (7 * ln)) - 1:
            size = ((1 << (8 * ln - ln)) | n).to_bytes(ln, "big")
            break
    else:
        raise ValueError("EBML body too large")
    return id_bytes + size + body


def encode_mkv(duration_ms: int, codec_ids: list[str],
               doctype: str = "matroska") -> bytes:
    """Minimal spec-conforming Matroska: EBML header (DocType), Segment
    with Info (TimestampScale 1ms, Duration) and one TrackEntry per
    codec id."""
    header = _ebml_elem(0x1A45DFA3, _ebml_elem(0x4282, doctype.encode()))
    info = _ebml_elem(
        0x1549A966,
        _ebml_elem(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
        + _ebml_elem(0x4489, struct.pack(">d", float(duration_ms))),
    )
    tracks = _ebml_elem(
        0x1654AE6B,
        b"".join(
            _ebml_elem(
                0xAE,
                _ebml_elem(0xD7, bytes([k + 1]))        # TrackNumber
                + _ebml_elem(0x83, bytes([1 if c.startswith("V_") else 2]))
                + _ebml_elem(0x86, c.encode()),
            )
            for k, c in enumerate(codec_ids)
        ),
    )
    return header + _ebml_elem(0x18538067, info + tracks)


# -------------------------------------------------------- MP4 / BMFF ------

def _mp4_boxes(d: bytes, i: int, end: int):
    while i + 8 <= end:
        (size,) = struct.unpack(">I", d[i : i + 4])
        btype = d[i + 4 : i + 8]
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                raise ContainerParseError("truncated largesize box")
            (size,) = struct.unpack(">Q", d[i + 8 : i + 16])
            body = i + 16
        elif size == 0:  # box extends to end of file
            size = end - i
            body = i + 8
        else:
            body = i + 8
        if size < body - i or i + size > end:
            raise ContainerParseError(f"box {btype!r} overruns container")
        yield btype, body, i + size
        i += size


def parse_mp4(payload: bytes) -> dict:
    """ISO-BMFF structural walk: ftyp major brand, mvhd
    timescale/duration, trak count and hdlr handler types. Legacy
    QuickTime .mov (named in the reference's format-preference list,
    media_dedup.rs:76) predates ftyp — those files open directly with
    a moov/mdat/wide/free/skip/pnot atom and report container
    'mov'."""
    d = payload or b""
    brand = ""
    timescale, duration = 0, 0
    n_tracks = 0
    handlers: list[str] = []
    saw_box = False
    first_type = b""
    for btype, a, b in _mp4_boxes(d, 0, len(d)):
        if not saw_box:
            first_type = btype
        saw_box = True
        if btype == b"ftyp":
            brand = d[a : a + 4].decode("ascii", "replace")
        elif btype == b"moov":
            for ctype, ca, cb in _mp4_boxes(d, a, b):
                if ctype == b"mvhd":
                    ver = d[ca]
                    if ver == 1:
                        timescale = struct.unpack(">I", d[ca + 20 : ca + 24])[0]
                        duration = struct.unpack(">Q", d[ca + 24 : ca + 32])[0]
                    else:
                        timescale = struct.unpack(">I", d[ca + 12 : ca + 16])[0]
                        duration = struct.unpack(">I", d[ca + 16 : ca + 20])[0]
                elif ctype == b"trak":
                    n_tracks += 1
                    for mtype, ma, mb in _mp4_boxes(d, ca, cb):
                        if mtype != b"mdia":
                            continue
                        for htype, ha, hb in _mp4_boxes(d, ma, mb):
                            if htype == b"hdlr" and hb - ha >= 12:
                                handlers.append(
                                    d[ha + 8 : ha + 12].decode("ascii", "replace")
                                )
    if not saw_box or not (brand or first_type in QT_ATOMS):
        raise ContainerParseError(
            "not an ISO-BMFF file (no ftyp, not QuickTime-atom-led)"
        )
    return {
        "container": "mp4" if brand else "mov",
        "codec": handlers[0] if handlers else "",
        "n_tracks": n_tracks,
        "n_frames": 0,
        "sample_rate": 0,
        "bitrate_kbps": 0,
        "channel_mode": "",
        "duration_ms": duration * 1000 // timescale if timescale else 0,
    }


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _qt_atom_led(d: bytes) -> bool:
    """True when the payload opens with a legacy QuickTime top-level
    atom AND the leading 32-bit box size is plausible (8..file size) —
    the size check keeps arbitrary text with 'free'/'skip' at offset 4
    from sniffing as video. This is the legacy-QuickTime row of the
    format table (functions/formats.py), the one predicate every
    router reads."""
    return LEGACY_QT.matches(d)


def encode_mp4(duration_ms: int, handlers: list[str],
               brand: str = "isom") -> bytes:
    """Minimal ISO-BMFF: ftyp + moov(mvhd v0 @ timescale 1000 + one
    trak/mdia/hdlr per handler type)."""
    ftyp = _box(b"ftyp", brand.encode() + struct.pack(">I", 0) + brand.encode())
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, duration_ms) + bytes(80),
    )
    traks = b"".join(
        _box(
            b"trak",
            _box(
                b"mdia",
                _box(b"hdlr", struct.pack(">B3xI", 0, 0) + h.encode("ascii")
                     + bytes(12)),
            ),
        )
        for h in handlers
    )
    return ftyp + _box(b"moov", mvhd + traks)


# --------------------------------------------------------------- ASF ------
#
# Microsoft's Advanced Systems Format (.wmv/.wma/.asf — public spec
# "ASF Specification", the container behind Windows Media). Objects
# are GUID-keyed with 64-bit sizes; the engine reads the header
# object's File Properties (play duration) and Stream Properties
# (audio/video inventory + codec tag). WMA/WMV codec payloads are
# proprietary and stay honestly stubbed — this is metadata parity
# only, like the reference's ffprobe pass.

_ASF_HEADER = bytes.fromhex("3026b2758e66cf11a6d900aa0062ce6c")
_ASF_FILE_PROPS = bytes.fromhex("a1dcab8c47a9cf118ee400c00c205365")
_ASF_STREAM_PROPS = bytes.fromhex("9107dcb7b7a9cf118ee600c00c205365")
_ASF_AUDIO_MEDIA = bytes.fromhex("409e69f84d5bcf11a8fd00805f5c442b")
_ASF_VIDEO_MEDIA = bytes.fromhex("c0ef19bc4d5bcf11a8fd00805f5c442b")
_ASF_AUDIO_TAGS = {0x0001: "pcm", 0x0055: "mp3", 0x0160: "wmav1",
                   0x0161: "wmav2", 0x0162: "wmapro", 0x0163: "wmalossless"}


def parse_asf(payload: bytes) -> dict:
    """ASF/WMV/WMA container metadata from the header object's
    sub-object walk. Play duration is 100-ns units minus the preroll;
    codec = video fourcc if a video stream exists, else the audio
    format-tag name."""
    d = payload or b""
    if d[:16] != _ASF_HEADER or len(d) < 30:
        raise ContainerParseError("not an ASF stream")
    hdr_size = int.from_bytes(d[16:24], "little")
    n_objects = int.from_bytes(d[24:28], "little")
    end = min(len(d), hdr_size)
    i = 30
    duration_ms = 0
    n_tracks = 0
    acodec = vcodec = ""
    rate = 0
    seen = 0
    while i + 24 <= end and seen < n_objects:
        guid = d[i : i + 16]
        size = int.from_bytes(d[i + 16 : i + 24], "little")
        if size < 24 or i + size > end:
            raise ContainerParseError("ASF object overruns header")
        body = d[i + 24 : i + size]
        if guid == _ASF_FILE_PROPS:
            if len(body) < 80:
                raise ContainerParseError("short ASF file properties")
            play_100ns = int.from_bytes(body[40:48], "little")
            preroll_ms = int.from_bytes(body[56:64], "little")
            duration_ms = max(0, play_100ns // 10_000 - preroll_ms)
        elif guid == _ASF_STREAM_PROPS:
            if len(body) < 54:
                raise ContainerParseError("short ASF stream properties")
            n_tracks += 1
            stype = body[:16]
            ts_len = int.from_bytes(body[40:44], "little")
            ts = body[54 : 54 + ts_len]
            if stype == _ASF_AUDIO_MEDIA and len(ts) >= 8:
                # WAVEFORMATEX: wFormatTag + channels + sample rate
                tag = int.from_bytes(ts[0:2], "little")
                acodec = _ASF_AUDIO_TAGS.get(tag, f"0x{tag:04x}")
                rate = int.from_bytes(ts[4:8], "little")
            elif stype == _ASF_VIDEO_MEDIA and len(ts) >= 31:
                # 11-byte header + BITMAPINFOHEADER; fourcc at +16
                fourcc = ts[11 + 16 : 11 + 20]
                vcodec = fourcc.decode("ascii", "replace").strip().lower()
        i += size
        seen += 1
    if n_tracks == 0:
        raise ContainerParseError("ASF header has no stream properties")
    return {
        "container": "asf",
        "codec": vcodec or acodec,
        "n_tracks": n_tracks,
        "n_frames": 0,
        "sample_rate": rate,
        "bitrate_kbps": 0,
        "duration_ms": duration_ms,
    }


def encode_asf(
    duration_ms: int, streams: list[str], sample_rate: int = 44100
) -> bytes:
    """Fixture encoder: header object + File Properties + one Stream
    Properties per entry ('audio' → WMA2 WAVEFORMATEX, 'video' →
    WMV3 BITMAPINFOHEADER)."""

    def obj(guid: bytes, body: bytes) -> bytes:
        return guid + (24 + len(body)).to_bytes(8, "little") + body

    preroll = 3000
    fp = (bytes(16) + bytes(24)
          + ((duration_ms + preroll) * 10_000).to_bytes(8, "little")
          + bytes(8) + preroll.to_bytes(8, "little") + bytes(16))
    parts = [obj(_ASF_FILE_PROPS, fp)]
    for kind in streams:
        if kind == "audio":
            ts = (0x0161).to_bytes(2, "little") + (2).to_bytes(2, "little") \
                + sample_rate.to_bytes(4, "little") + bytes(10)
            stype = _ASF_AUDIO_MEDIA
        else:
            bih = (40).to_bytes(4, "little") + bytes(12) + b"WMV3" + bytes(20)
            ts = bytes(11) + bih
            stype = _ASF_VIDEO_MEDIA
        body = (stype + bytes(16) + bytes(8)
                + len(ts).to_bytes(4, "little") + bytes(4) + bytes(2)
                + bytes(4) + ts)
        parts.append(obj(_ASF_STREAM_PROPS, body))
    inner = b"".join(parts)
    hdr = (_ASF_HEADER + (30 + len(inner)).to_bytes(8, "little")
           + len(parts).to_bytes(4, "little") + b"\x01\x02" + inner)
    return hdr


# --------------------------------------------------------------- FLV ------
#
# Adobe's Flash Video container (public spec: "Video File Format
# Specification v10") — a flat tag stream. The video codecs it wraps
# (H.263, VP6, AVC) stay honestly stubbed, but audio-only FLV files
# carry MP3 or LPCM payloads this engine decodes for real, and the
# container layer (codec inventory, duration from tag timestamps) is
# pure structure.

_FLV_AUDIO_CODECS = {0: "lpcm", 2: "mp3", 3: "lpcm-le", 10: "aac",
                     14: "mp3-8k"}
_FLV_VIDEO_CODECS = {2: "h263", 3: "screen", 4: "vp6", 5: "vp6a",
                     7: "h264"}
_FLV_RATES = (5512, 11025, 22050, 44100)


def parse_flv_tags(payload: bytes):
    """Yield (tag_type, timestamp_ms, body) for each FLV tag; typed
    error on any structural violation."""
    d = payload or b""
    if d[:4] != b"FLV\x01" or len(d) < 13:
        raise ContainerParseError("not an FLV stream")
    data_off = int.from_bytes(d[5:9], "big")
    if data_off < 9:
        raise ContainerParseError("bad FLV header size")
    i = data_off + 4  # first PreviousTagSize (always 0)
    n = len(d)
    while i + 11 <= n:
        if d[i] & 0x20:
            # Filter bit: encrypted E-FLV — the body starts with an
            # EncryptionTagHeader, not codec flags; refuse typed
            raise ContainerParseError("encrypted (filtered) FLV tag")
        ttype = d[i] & 0x1F
        dsize = int.from_bytes(d[i + 1 : i + 4], "big")
        ts = int.from_bytes(d[i + 4 : i + 7], "big") | (d[i + 7] << 24)
        body = d[i + 11 : i + 11 + dsize]
        if len(body) < dsize:
            raise ContainerParseError("truncated FLV tag body")
        yield ttype, ts, body
        i += 11 + dsize + 4  # + PreviousTagSize trailer
    if i != n:
        # a partial trailing tag header (or missing trailer) is a
        # truncation, same strictness as the PS/TS demuxers
        raise ContainerParseError("truncated FLV tag header")


def parse_flv(payload: bytes) -> dict:
    """FLV container metadata: codec inventory from the tag headers,
    duration from the last tag timestamp — ffprobe parity without
    touching the codec payloads."""
    has_audio = has_video = False
    acodec = vcodec = ""
    rate = 0
    n_frames = 0
    last_ts = 0
    for ttype, ts, body in parse_flv_tags(payload):
        last_ts = max(last_ts, ts)
        if ttype == 8 and body:
            has_audio = True
            acodec = _FLV_AUDIO_CODECS.get(body[0] >> 4, "audio")
            # SoundFormat 14 is MP3-at-8kHz: the spec fixes the rate,
            # the SoundRate bits are meaningless for it
            rate = 8000 if body[0] >> 4 == 14 else _FLV_RATES[(body[0] >> 2) & 3]
        elif ttype == 9 and body:
            has_video = True
            n_frames += 1
            vcodec = _FLV_VIDEO_CODECS.get(body[0] & 0x0F, "video")
    if not (has_audio or has_video):
        raise ContainerParseError("FLV has no audio or video tags")
    return {
        "container": "flv",
        "codec": vcodec if has_video else acodec,
        "n_tracks": int(has_audio) + int(has_video),
        "n_frames": n_frames,
        "sample_rate": rate if has_audio else 0,
        "bitrate_kbps": 0,
        "duration_ms": last_ts,
    }


def encode_flv(
    audio_payloads: list[bytes] | None = None,
    video_payloads: list[bytes] | None = None,
    audio_flags: int = 0x2E,  # MP3, 44.1 kHz, 16-bit, mono
    video_codec: int = 4,     # VP6
    ms_per_tag: int = 26,
) -> bytes:
    """Fixture muxer: FLV header + audio/video tags with monotone
    timestamps and correct PreviousTagSize trailers."""
    has_a = bool(audio_payloads)
    has_v = bool(video_payloads)
    out = bytearray(b"FLV\x01" + bytes([has_a << 2 | has_v])
                    + (9).to_bytes(4, "big") + b"\x00\x00\x00\x00")

    def tag(ttype: int, ts: int, body: bytes) -> bytes:
        hdr = (bytes([ttype]) + len(body).to_bytes(3, "big")
               + (ts & 0xFFFFFF).to_bytes(3, "big") + bytes([ts >> 24])
               + b"\x00\x00\x00")
        t = hdr + body
        return t + (len(t)).to_bytes(4, "big")

    ts = 0
    for body in audio_payloads or ():
        out += tag(8, ts, bytes([audio_flags]) + body)
        ts += ms_per_tag
    ts = 0
    for body in video_payloads or ():
        out += tag(9, ts, bytes([0x10 | video_codec]) + body)
        ts += ms_per_tag
    return bytes(out)


# ------------------------------------------------- MPEG-PS / MPEG-TS ------
#
# The two classic MPEG SYSTEM layers (.mpg program streams, .ts
# broadcast transport streams) — pure structural demultiplex per
# ISO/IEC 11172-1 and 13818-1: pack headers, PES packets, 188-byte
# TS packets with PAT/PMT program tables. No entropy tables of any
# kind live at this layer; the demuxed elementary streams feed the
# engine's existing MPEG-1/2 video and MPEG-audio decoders.


def _pes_payload(d: bytes, i: int, end: int) -> bytes:
    """Strip one PES packet's header starting at the byte AFTER the
    2-byte PES_packet_length field; returns the payload bytes.
    Handles both header forms: MPEG-2 ('10xxxxxx' flags + 3-byte
    fixed header + header_data_length) and MPEG-1 (0xFF stuffing,
    optional STD buffer field, PTS/DTS markers)."""
    if i >= end:
        return b""
    if (d[i] & 0xC0) == 0x80:  # MPEG-2 PES header
        if i + 3 > end:
            raise ContainerParseError("truncated MPEG-2 PES header")
        hlen = d[i + 2]
        if i + 3 + hlen > end:
            raise ContainerParseError("PES header overruns packet")
        return d[i + 3 + hlen : end]
    # MPEG-1 form
    while i < end and d[i] == 0xFF:  # stuffing
        i += 1
    if i < end and (d[i] & 0xC0) == 0x40:  # STD buffer size
        i += 2
    if i < end and (d[i] & 0xF0) == 0x20:  # PTS only
        i += 5
    elif i < end and (d[i] & 0xF0) == 0x30:  # PTS + DTS
        i += 10
    elif i < end:
        if d[i] != 0x0F:
            raise ContainerParseError("bad MPEG-1 PES header terminator")
        i += 1
    if i > end:
        raise ContainerParseError("MPEG-1 PES header overruns packet")
    return d[i:end]


def _next_start_code(d: bytes, i: int) -> int:
    """Offset of the next 00 00 01 prefix at/after i, or len(d)."""
    j = d.find(b"\x00\x00\x01", i)
    return len(d) if j < 0 else j


def demux_mpeg_ps(payload: bytes) -> dict[int, bytes]:
    """MPEG program stream → {stream_id: elementary stream bytes}.
    Walks pack headers (both the MPEG-1 '0010' and MPEG-2 '01'
    forms, incl. MPEG-2 pack stuffing), system headers, and PES
    packets (bounded by PES_packet_length — length 0 is only legal
    in transport streams and is rejected here); ECM/EMM/DSMCC and
    other 0xF0-0xFF stream ids are skipped, not fatal."""
    d = payload or b""
    if d[:4] != b"\x00\x00\x01\xba":
        raise ContainerParseError("not an MPEG program stream")
    streams: dict[int, bytearray] = {}
    i = 0
    n = len(d)
    while i + 4 <= n:
        if d[i : i + 3] != b"\x00\x00\x01":
            i = _next_start_code(d, i)
            continue
        sid = d[i + 3]
        i += 4
        if sid == 0xBA:  # pack header
            if i >= n:
                break
            if (d[i] & 0xC0) == 0x40:  # MPEG-2: 10 bytes + stuffing
                if i + 10 > n:
                    raise ContainerParseError("truncated MPEG-2 pack header")
                stuff = d[i + 9] & 0x07
                i += 10 + stuff
            elif (d[i] & 0xF0) == 0x20:  # MPEG-1: 8 bytes
                i += 8
            else:
                raise ContainerParseError("bad pack header marker")
        elif sid == 0xB9:  # program end
            break
        elif sid in (0xBB, 0xBC, 0xBE, 0xBF):  # system hdr / PSM / padding
            if i + 2 > n:
                raise ContainerParseError("truncated system header")
            i += 2 + int.from_bytes(d[i : i + 2], "big")
        elif 0xBD <= sid <= 0xEF:  # PES packet
            if i + 2 > n:
                raise ContainerParseError("truncated PES length")
            plen = int.from_bytes(d[i : i + 2], "big")
            i += 2
            if plen == 0:
                # length 0 (unbounded) is only legal for video in
                # TRANSPORT streams (13818-1 §2.4.3.7) — never in PS
                raise ContainerParseError("unbounded PES illegal in "
                                          "program stream")
            end = i + plen
            if end > n:
                raise ContainerParseError("PES packet overruns stream")
            streams.setdefault(sid, bytearray()).extend(
                _pes_payload(d, i, end))
            i = end
        elif 0xF0 <= sid <= 0xFF:  # ECM/EMM/DSMCC/ITU-reserved/directory:
            # same 16-bit length field — skip, do not reject the file
            if i + 2 > n:
                raise ContainerParseError("truncated stream header")
            i += 2 + int.from_bytes(d[i : i + 2], "big")
        else:
            raise ContainerParseError(f"unexpected start code 0x{sid:02x}")
    if not streams:
        raise ContainerParseError("program stream has no PES packets")
    return {sid: bytes(b) for sid, b in streams.items()}


def demux_mpeg_ts(payload: bytes) -> dict[int, tuple[int, bytes]]:
    """MPEG transport stream → {elementary_PID: (stream_type, ES
    bytes)}. Reads the PAT (PID 0) for program-map PIDs, the PMTs for
    (stream_type, elementary_PID) entries, then reassembles each
    elementary PID's PES packets across 188-byte TS packets
    (adaptation fields skipped, PES headers stripped at each
    payload_unit_start)."""
    d = payload or b""
    stride = mpeg_ts_packet_size(d) or (188 if len(d) >= 188 and d[0] == 0x47
                                        else 0)
    if stride == 0:
        raise ContainerParseError("not an MPEG transport stream")
    pmts: set[int] = set()
    es_types: dict[int, int] = {}
    pes_chunks: dict[int, list[bytes]] = {}
    open_pes: dict[int, bytearray] = {}

    def flush(pid: int) -> None:
        buf = open_pes.pop(pid, None)
        if buf is None:
            return
        if len(buf) < 6 or buf[:3] != b"\x00\x00\x01":
            raise ContainerParseError("TS PES lacks start code")
        plen = int.from_bytes(buf[4:6], "big")
        end = 6 + plen if plen else len(buf)
        if end > len(buf):
            raise ContainerParseError("TS PES shorter than declared")
        pes_chunks.setdefault(pid, []).append(
            _pes_payload(bytes(buf), 6, end))

    for off in range(0, len(d) - 187, stride):
        pkt = d[off : off + 188]  # the 204-byte form's trailing 16
        # bytes are Reed-Solomon parity — not payload, skipped
        if pkt[0] != 0x47:
            raise ContainerParseError(f"lost TS sync at offset {off}")
        pusi = bool(pkt[1] & 0x40)
        pid = ((pkt[1] & 0x1F) << 8) | pkt[2]
        afc = (pkt[3] >> 4) & 0x3
        i = 4
        if afc & 0x2:  # adaptation field
            if i >= 188:
                raise ContainerParseError("truncated adaptation field")
            i += 1 + pkt[i]
        if not afc & 0x1 or i > 188:
            continue  # no payload
        body = pkt[i:]
        if pid == 0 or pid in pmts:  # PSI: PAT or PMT section
            if not pusi or not body:
                continue
            sec = body[1 + body[0] :]  # pointer_field skip
            if len(sec) < 12:
                raise ContainerParseError("truncated PSI section")
            slen = ((sec[1] & 0x0F) << 8) | sec[2]
            rows = sec[8 : 3 + slen - 4]  # after fixed header, before CRC
            if pid == 0:  # PAT: (program_number, map_PID) pairs
                for j in range(0, len(rows) - 3, 4):
                    prog = int.from_bytes(rows[j : j + 2], "big")
                    if prog != 0:
                        pmts.add(((rows[j + 2] & 0x1F) << 8) | rows[j + 3])
            else:  # PMT: program_info then ES loop — the loop bound
                # is clamped to the bytes actually present so a
                # declared length larger than one packet (multi-packet
                # PMT, or corruption) degrades to a partial inventory
                # instead of an untyped IndexError
                pil = ((sec[10] & 0x0F) << 8) | sec[11]
                j = 12 + pil
                esl_end = min(3 + slen - 4, len(sec))
                while j + 5 <= esl_end:
                    stype = sec[j]
                    epid = ((sec[j + 1] & 0x1F) << 8) | sec[j + 2]
                    einfo = ((sec[j + 3] & 0x0F) << 8) | sec[j + 4]
                    es_types[epid] = stype
                    j += 5 + einfo
        elif pid in es_types:
            if pusi:
                flush(pid)
                open_pes[pid] = bytearray(body)
            elif pid in open_pes:
                open_pes[pid].extend(body)
    for pid in list(open_pes):
        flush(pid)
    if not pes_chunks:
        raise ContainerParseError("transport stream has no PES payload")
    return {
        pid: (es_types.get(pid, 0), b"".join(chunks))
        for pid, chunks in pes_chunks.items()
    }


def encode_mpeg_ps(
    es: bytes, stream_id: int = 0xE0, pes_size: int = 2048
) -> bytes:
    """Fixture muxer: wrap one elementary stream in an MPEG-2 program
    stream — a pack header per PES packet (zeroed SCR/mux_rate with
    the mandatory marker bits), MPEG-2 PES headers with no optional
    fields, program_end_code last."""
    out = bytearray()
    pack = (b"\x00\x00\x01\xba"
            + bytes([0x44, 0x00, 0x04, 0x00, 0x04, 0x01,  # SCR markers
                     0x00, 0x00, 0x03,                     # mux_rate + marker
                     0xF8]))                               # no stuffing
    for lo in range(0, len(es), pes_size):
        chunk = es[lo : lo + pes_size]
        body = b"\x80\x00\x00" + chunk  # MPEG-2 flags, no header data
        out += pack
        out += (b"\x00\x00\x01" + bytes([stream_id])
                + len(body).to_bytes(2, "big") + body)
    out += b"\x00\x00\x01\xb9"
    return bytes(out)


def encode_mpeg_ts(
    es: bytes, stream_type: int, pid: int = 0x100, stream_id: int = 0xE0
) -> bytes:
    """Fixture muxer: one-program transport stream — PAT (program 1 →
    PMT PID 0x20), PMT (one elementary stream), then the ES as one
    PES packet split across 188-byte packets, the final partial
    packet padded with an adaptation field."""

    def _crc32_mpeg(data: bytes) -> int:
        crc = 0xFFFFFFFF
        for byte in data:
            crc ^= byte << 24
            for _ in range(8):
                crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF \
                    if crc & 0x80000000 else (crc << 1) & 0xFFFFFFFF
        return crc

    def section(table_id: int, tsi: int, rows: bytes) -> bytes:
        body = (tsi.to_bytes(2, "big") + b"\xc1\x00\x00" + rows)
        slen = len(body) + 4  # + CRC
        hdr = bytes([table_id, 0xB0 | (slen >> 8), slen & 0xFF])
        sec = hdr + body
        return sec + _crc32_mpeg(sec).to_bytes(4, "big")

    def psi_packet(pid_: int, sec: bytes, cc: int) -> bytes:
        body = b"\x00" + sec  # pointer_field 0
        pkt = bytes([0x47, 0x40 | (pid_ >> 8), pid_ & 0xFF, 0x10 | cc]) + body
        return pkt + b"\xff" * (188 - len(pkt))

    pmt_pid = 0x20
    pat = section(0x00, 1, (1).to_bytes(2, "big")
                  + bytes([0xE0 | (pmt_pid >> 8), pmt_pid & 0xFF]))
    pmt_rows = (bytes([0xE0 | (pid >> 8), pid & 0xFF, 0xF0, 0x00])  # PCR PID
                + bytes([stream_type, 0xE0 | (pid >> 8), pid & 0xFF,
                         0xF0, 0x00]))
    pmt = section(0x02, 1, pmt_rows)
    out = bytearray(psi_packet(0, pat, 0) + psi_packet(pmt_pid, pmt, 0))
    pes = (b"\x00\x00\x01" + bytes([stream_id]) + b"\x00\x00"  # unbounded
           + b"\x80\x00\x00" + es)
    cc = 0
    i = 0
    first = True
    while i < len(pes):
        room = 184
        chunk = pes[i : i + room]
        hdr = bytes([0x47, (0x40 if first else 0x00) | (pid >> 8),
                     pid & 0xFF, 0x10 | (cc & 0x0F)])
        if len(chunk) < 184:
            # pad with an adaptation field so the packet is 188 bytes
            pad = 184 - len(chunk)
            af = bytes([pad - 1]) + (b"\x00" + b"\xff" * (pad - 2)
                                     if pad > 1 else b"")
            hdr = bytes([0x47, (0x40 if first else 0x00) | (pid >> 8),
                         pid & 0xFF, 0x30 | (cc & 0x0F)])
            out += hdr + af + chunk
        else:
            out += hdr + chunk
        i += len(chunk)
        cc += 1
        first = False
    return bytes(out)


def mpeg_ts_packet_size(payload: bytes) -> int:
    """0 if not a transport stream, else the packet stride: 188
    (plain) or 204 (DVB capture with 16 Reed-Solomon parity bytes per
    packet). Each stride is scored by how many consecutive packet
    boundaries (up to 8) carry the 0x47 sync; the better-scoring
    stride wins (ties → 188), so a DVB stream whose parity bytes
    coincidentally contain 0x47 at the 188-boundaries is still
    probed correctly — the 188 run breaks within a few packets while
    the true 204 run holds."""
    def score(stride: int) -> int:
        k = 0
        while k < 8 and (k + 1) * stride <= len(payload):
            if payload[k * stride] != 0x47:
                return k
            k += 1
        return k

    s188, s204 = score(188), score(204)
    if max(s188, s204) < 3:
        return 0
    return 204 if s204 > s188 else 188


# ISO 13818-1 stream_type values that mean VIDEO — the refusal set for
# the audio path (a TS with ANY of these is a video file) and the
# codec-naming map for parse_mpeg_ts. Decoding itself supports only
# MPEG-1/2 (0x01/0x02); the rest are honest metadata.
TS_VIDEO_STREAM_TYPES = {
    0x01: "mpeg1video", 0x02: "mpeg2video", 0x10: "mpeg4video",
    0x1B: "h264", 0x24: "hevc", 0xD1: "dirac", 0xEA: "vc1",
}


def _es_codec_token(stream_kind: str, es: bytes) -> str:
    """Name the elementary stream inside a system layer: video by the
    sequence-extension probe (MPEG-2 has one right after the sequence
    header), audio by the frame-sync version/layer bits."""
    if stream_kind == "video":
        j = es.find(b"\x00\x00\x01\xb3")
        if j >= 0 and es.find(b"\x00\x00\x01\xb5", j) >= 0:
            return "mpeg2video"
        return "mpeg1video" if j >= 0 else "video"
    # any real MPEG-audio ES syncs within its first frame — bound the
    # interpreter-speed scan so a mislabeled multi-MB ES costs O(4K)
    for j in range(0, max(0, min(len(es), 4096) - 1)):
        if es[j] == 0xFF and (es[j + 1] & 0xE0) == 0xE0:
            layer = 4 - ((es[j + 1] >> 1) & 0x3)
            return f"mp{layer}" if layer in (1, 2, 3) else "audio"
    return "audio"


def parse_mpeg_ps(payload: bytes) -> dict:
    """Program-stream metadata: stream inventory from the PES walk,
    codec tokens from the demuxed elementary streams."""
    streams = demux_mpeg_ps(payload)
    vids = sorted(s for s in streams if 0xE0 <= s <= 0xEF)
    auds = sorted(s for s in streams if 0xC0 <= s <= 0xDF)
    if vids:
        codec = _es_codec_token("video", streams[vids[0]])
    elif auds:
        codec = _es_codec_token("audio", streams[auds[0]])
    else:
        codec = ""
    return {
        "container": "mpegps",
        "codec": codec,
        "n_tracks": len(vids) + len(auds),
        "n_frames": 0,  # frame counts live at the ES layer
        "sample_rate": 0,
        "bitrate_kbps": 0,
        "duration_ms": 0,
    }


def parse_mpeg_ts(payload: bytes) -> dict:
    """Transport-stream metadata: PAT/PMT stream inventory, codec
    token from the first video (or audio) elementary stream."""
    stride = mpeg_ts_packet_size(payload) or 188
    pids = demux_mpeg_ts(payload)
    vids = sorted(p for p, (st, _) in pids.items()
                  if st in TS_VIDEO_STREAM_TYPES)
    auds = sorted(p for p, (st, _) in pids.items() if st in (0x03, 0x04))
    if vids:
        st = pids[vids[0]][0]
        codec = (_es_codec_token("video", pids[vids[0]][1])
                 if st in (0x01, 0x02) else TS_VIDEO_STREAM_TYPES[st])
    elif auds:
        codec = _es_codec_token("audio", pids[auds[0]][1])
    else:
        codec = ""
    return {
        "container": "mpegts",
        "codec": codec,
        "n_tracks": len(pids),
        "n_frames": (len(payload) // stride),  # TS packets, like Ogg pages
        "sample_rate": 0,
        "bitrate_kbps": 0,
        "duration_ms": 0,
    }


def parse_container(payload: bytes) -> dict:
    """Route by magic to the right structural parser (the ``parse``
    decoder of the payload's format-table row); raises
    ContainerParseError for anything unrecognized."""
    d = payload or b""
    row = decoder_row(d, "parse")
    if row is None:
        raise ContainerParseError("unrecognized container magic")
    return row.parse(d)
