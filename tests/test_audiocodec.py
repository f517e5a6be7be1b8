"""Real WAV decode (stdlib-only) + band-energy audio fingerprint + the
audio near-dup path built on them.

Fingerprint robustness is asserted on seeded COLORED-noise clips
(broadband spectra with resonant peaks — the realistic case the scheme
targets); pure tones are documented-unstable (most bands empty) and
not asserted."""

from __future__ import annotations

import numpy as np
import pytest

from dedup_spark.functions.audiocodec import (
    AudioDecodeError,
    audio_fingerprint64,
    decode_wav,
    encode_wav_pcm16,
)

RATE = 16000
N = RATE * 2  # 2-second clips


def _colored(seed: int) -> np.ndarray:
    """Deterministic broadband test clip: tilted white noise plus a few
    seeded resonant peaks."""
    r = np.random.default_rng(seed)
    spec = np.fft.rfft(r.standard_normal(N))
    f = np.fft.rfftfreq(N, 1.0 / RATE)
    shape = 1.0 / (1.0 + (f / 800.0))
    for _ in range(6):
        fc, bw = r.uniform(100, 6000), r.uniform(50, 300)
        shape += r.uniform(0.5, 2.0) * np.exp(-0.5 * ((f - fc) / bw) ** 2)
    x = np.fft.irfft(spec * shape, N)
    return x / np.max(np.abs(x)) * 0.8


from dedup_spark.functions.shingles import hamming64 as _ham


def _fp(x: np.ndarray, rate: int = RATE) -> int:
    return audio_fingerprint64(x, rate)


# ----------------------------------------------------------------- codec --

def test_wav_pcm16_roundtrip():
    x = _colored(1)
    dec, rate = decode_wav(encode_wav_pcm16(x, RATE))
    assert rate == RATE and dec.shape[0] == x.shape[0]
    # 16-bit quantization: |err| <= 0.5/32767 + |x|/32768 < 1e-4
    assert np.max(np.abs(dec - x)) < 1e-4


def test_wav_stereo_averages_to_mono():
    x = _colored(2)
    stereo = np.empty(x.shape[0] * 2)
    stereo[0::2] = x
    stereo[1::2] = x
    mono, _ = decode_wav(encode_wav_pcm16(stereo, RATE, channels=2))
    ref, _ = decode_wav(encode_wav_pcm16(x, RATE))
    assert np.max(np.abs(mono - ref)) < 1e-9


def test_wav_rejects_non_wav():
    with pytest.raises(AudioDecodeError):
        decode_wav(b"ID3\x03 an mp3, not a wav" + b"\x00" * 64)
    with pytest.raises(AudioDecodeError):
        decode_wav(b"RIFF\x00\x00\x00\x00AVI " + b"\x00" * 64)  # RIFF but not WAVE
    truncated = encode_wav_pcm16(_colored(3), RATE)[:40]
    with pytest.raises(AudioDecodeError):
        decode_wav(truncated)


def test_corrupt_wav_raises_decode_error_never_leaks():
    """A 16-bit data chunk truncated to an ODD byte count hits
    np.frombuffer's element-size check — that must surface as
    AudioDecodeError, not raw ValueError, or one corrupt WAV escapes
    the stub-policy catch and kills the Spark task."""
    good = encode_wav_pcm16(_colored(3)[:4096], RATE)
    odd = bytearray(good[:-1])  # drop one byte → odd-length data chunk
    # keep the declared data length consistent with the truncation
    import struct as _struct

    (dlen,) = _struct.unpack("<I", bytes(odd[40:44]))
    odd[40:44] = _struct.pack("<I", dlen - 1)
    with pytest.raises(AudioDecodeError):
        decode_wav(bytes(odd))


# ----------------------------------------------------------- fingerprint --

def test_fingerprint_deterministic_and_volume_invariant():
    x = _colored(1)
    f0 = _fp(x)
    assert f0 == _fp(x)
    assert _ham(f0, _fp(0.35 * x)) == 0  # sign bits are scale-free


def test_fingerprint_noise_and_shift_tolerant():
    rng = np.random.default_rng(7)
    x = _colored(1)
    f0 = _fp(x)
    assert _ham(f0, _fp(x + 0.02 * rng.standard_normal(N))) <= 6
    assert _ham(f0, _fp(np.roll(x, 500))) <= 6


def test_fingerprint_separates_distinct_signals():
    f0 = _fp(_colored(1))
    for seed in (2, 3, 4, 5, 6):
        assert _ham(f0, _fp(_colored(seed))) > 10


def test_fingerprint_survives_pcm16_quantization():
    x = _colored(4)
    dec, rate = decode_wav(encode_wav_pcm16(x, RATE))
    assert _ham(_fp(x), audio_fingerprint64(dec, rate)) <= 2


# ---------------------------------------------------------- spark wiring --

def _asset_rows():
    """Planted set: clip A as WAV, its noisy WAV copy, an unrelated
    clip, plus an MP3-magic payload (stub-only kind)."""
    rng = np.random.default_rng(11)
    a = _colored(1)
    noisy = np.clip(a + 0.02 * rng.standard_normal(N), -1, 1)
    other = _colored(5)
    return [
        (1, "audio", bytearray(encode_wav_pcm16(a, RATE)), "audio/wav"),
        (2, "audio", bytearray(encode_wav_pcm16(noisy, RATE)), "audio/wav"),
        (3, "audio", bytearray(encode_wav_pcm16(other, RATE)), "audio/wav"),
        (4, "image", bytearray(b"\x89PNG\r\n\x1a\n garbage"), "image/png"),
    ]


def test_audio_fingerprint_real_decoder(spark):
    from dedup_spark.operators.multimodal import audio_fingerprint

    df = spark.createDataFrame(
        _asset_rows(), "asset_id long, kind string, payload binary, mime string"
    )
    rows = {r["asset_id"]: r for r in audio_fingerprint(df).collect()}
    assert set(rows) == {1, 2, 3}  # image row dropped
    assert all(r["decoder"] == "wav" for r in rows.values())
    assert _ham(rows[1]["afp"], rows[2]["afp"]) <= 6
    assert _ham(rows[1]["afp"], rows[3]["afp"]) > 6


def test_decode_samples_honest_without_fake():
    from dedup_spark.operators.multimodal import decode_samples

    mp3ish = b"ID3\x03 compressed audio bytes"
    with pytest.raises(NotImplementedError):
        decode_samples(mp3ish, fake=False)
    x, rate, dec = decode_samples(mp3ish, fake=True)
    assert dec == "fake" and x.shape[0] > 0 and rate > 0


def test_audio_near_dup_clusters_end_to_end(spark):
    from dedup_spark.operators.multimodal import audio_near_dup_clusters

    df = spark.createDataFrame(
        _asset_rows(), "asset_id long, kind string, payload binary, mime string"
    )
    out = {r["asset_id"]: r for r in audio_near_dup_clusters(df).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 2
    assert out[3]["cluster_id"] == 3 and out[3]["cluster_size"] == 1


# ------------------------------------------------------------------ flac --

def _flac_bitw():
    from dedup_spark.functions.audiocodec import _FlacBitW

    return _FlacBitW()


def _rice_write(bw, res, param):
    bw.write(0, 2)
    bw.write(0, 4)  # single partition
    bw.write(param, 4)
    for v in res:
        u = (int(v) << 1) ^ (int(v) >> 63)
        q, r = u >> param, u & ((1 << param) - 1)
        for _ in range(q):
            bw.write(0, 1)
        bw.write(1, 1)
        if param:
            bw.write(r, param)


def _encode_flac_fixed2(x, rate=8000, stereo_mode=None):
    """Independent test-side FLAC encoder: FIXED order-2 subframes
    with Rice residuals + optional left/side / mid/side stereo — pins
    the predictor, Rice and decorrelation DECODE paths against a
    second implementation (the module's own encoder is verbatim-only,
    so these paths cannot be exercised by bug-cancelling pairs)."""
    import numpy as np

    from dedup_spark.functions.audiocodec import _crc8, _crc16

    x = np.asarray(x, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    s = np.clip(np.round(x * 32767), -32768, 32767).astype(np.int64)
    out = bytearray(b"fLaC")
    si = _flac_bitw()
    si.write(n, 16); si.write(n, 16); si.write(0, 24); si.write(0, 24)
    si.write(rate, 20); si.write(ch - 1, 3); si.write(15, 5); si.write(n, 36)
    body = bytes(si.out) + bytes(16)
    out += (0x80000000 | len(body)).to_bytes(4, "big") + body
    h = _flac_bitw()
    h.write(0x3FFE, 14); h.write(0, 1); h.write(0, 1)
    h.write(7, 4); h.write(0, 4)
    if stereo_mode is None:
        h.write(ch - 1, 4)
        streams = [(s[:, c], 16) for c in range(ch)]
    elif stereo_mode == "left_side":
        h.write(8, 4)
        streams = [(s[:, 0], 16), (s[:, 0] - s[:, 1], 17)]
    else:  # mid_side
        h.write(10, 4)
        streams = [((s[:, 0] + s[:, 1]) >> 1, 16), (s[:, 0] - s[:, 1], 17)]
    h.write(4, 3); h.write(0, 1)
    h.write(0, 8)
    h.write(n - 1, 16)
    hdr = bytes(h.out)
    frame = bytearray(hdr)
    frame.append(_crc8(hdr))
    bw = _flac_bitw()
    for sig, bits in streams:
        bw.write(0, 1); bw.write(10, 6); bw.write(0, 1)  # FIXED order 2
        bw.write(int(sig[0]) & ((1 << bits) - 1), bits)
        bw.write(int(sig[1]) & ((1 << bits) - 1), bits)
        _rice_write(bw, sig[2:] - 2 * sig[1:-1] + sig[:-2], param=10)
    bw.align()
    frame += bytes(bw.out)
    frame += _crc16(bytes(frame)).to_bytes(2, "big")
    return bytes(out) + bytes(frame)


def test_flac_verbatim_roundtrip_bit_exact():
    from dedup_spark.functions.audiocodec import decode_flac, encode_flac_pcm16

    rng = np.random.default_rng(3)
    for n, ch, rate in [(1000, 1, 8000), (5000, 2, 44100), (9000, 1, 16000)]:
        x = np.clip(rng.standard_normal((n, ch)) * 0.3, -1, 1)
        y, r = decode_flac(encode_flac_pcm16(x, rate))
        ref = np.clip(np.round(x * 32767), -32768, 32767).mean(axis=1) / 32768.0
        assert r == rate and y.shape[0] == n
        assert np.abs(y - ref).max() < 1e-12


def test_flac_fixed_rice_and_stereo_decorrelation():
    from dedup_spark.functions.audiocodec import decode_flac

    t = np.linspace(0, 1, 3000)
    mono = (0.5 * np.sin(2 * np.pi * 440 * t))[:, None]
    y, _ = decode_flac(_encode_flac_fixed2(mono, 8000))
    ref = np.clip(np.round(mono * 32767), -32768, 32767)[:, 0] / 32768.0
    assert np.abs(y - ref).max() < 1e-12
    stereo = np.stack(
        [0.4 * np.sin(2 * np.pi * 300 * t), 0.4 * np.sin(2 * np.pi * 302 * t)], axis=1
    )
    ref2 = np.clip(np.round(stereo * 32767), -32768, 32767).mean(axis=1) / 32768.0
    for mode in ("left_side", "mid_side", None):
        y2, r2 = decode_flac(_encode_flac_fixed2(stereo, 44100, stereo_mode=mode))
        assert r2 == 44100
        assert np.abs(y2 - ref2).max() < 1e-12, mode


def test_flac_rejects_corrupt_streams():
    from dedup_spark.functions.audiocodec import (
        AudioDecodeError,
        decode_flac,
        encode_flac_pcm16,
    )

    for junk in (b"", b"fLaC", b"fLaC\x00\x00\x00", b"not flac at all"):
        with pytest.raises(AudioDecodeError):
            decode_flac(junk)
    good = bytearray(encode_flac_pcm16(np.zeros(500), 8000))
    good[50] ^= 0xFF  # corrupt inside STREAMINFO/frame territory
    with pytest.raises(AudioDecodeError):
        decode_flac(bytes(good))


def test_flac_verbatim_encoder_multi_shape_roundtrip():
    """Encoder self-test (moved out of audiocodec.py __main__): mono/stereo,
    exact-multiple and ragged block counts, several rates."""
    from dedup_spark.functions.audiocodec import decode_flac, encode_flac_pcm16

    rng = np.random.default_rng(3)
    for n, ch, rate in [(1000, 1, 8000), (5000, 2, 44100), (4096, 1, 16000), (9000, 2, 8000)]:
        x = np.clip(rng.standard_normal((n, ch)) * 0.3, -1, 1)
        p = encode_flac_pcm16(x, rate)
        y, r = decode_flac(p)
        ref = np.clip(np.round(x * 32767), -32768, 32767).mean(axis=1) / 32768.0
        assert r == rate
        assert y.shape[0] == n
        assert np.abs(y - ref).max() < 1e-12


def test_flac_streaminfo_blocksizes_reflect_actual_frames():
    """STREAMINFO min/max blocksize must match frames actually written:
    ragged tail lowers min; n < block lowers both."""
    from dedup_spark.functions.audiocodec import encode_flac_pcm16

    def min_max(payload: bytes) -> tuple[int, int]:
        body = payload[8:]  # skip fLaC + 4-byte block header
        return int.from_bytes(body[0:2], "big"), int.from_bytes(body[2:4], "big")

    assert min_max(encode_flac_pcm16(np.zeros(500), 8000, block=4096)) == (500, 500)
    assert min_max(encode_flac_pcm16(np.zeros(5000), 8000, block=4096)) == (904, 4096)
    assert min_max(encode_flac_pcm16(np.zeros(8192), 8000, block=4096)) == (4096, 4096)


def test_flac_reserved_sample_size_code_raises():
    """Frame header ss_code == 3 is reserved in RFC 9639 — decoder must
    reject it like every other reserved field."""
    from dedup_spark.functions.audiocodec import AudioDecodeError, decode_flac, encode_flac_pcm16

    payload = bytearray(encode_flac_pcm16(np.zeros(100), 8000))
    # Frame header starts right after fLaC(4) + header(4) + STREAMINFO(34).
    off = 4 + 4 + 34
    assert payload[off] == 0xFF and (payload[off + 1] & 0xFC) == 0xF8
    # byte 3 of the header: ch_code(4) | ss_code(3) | reserved(1)
    b3 = payload[off + 3]
    payload[off + 3] = (b3 & 0xF1) | (3 << 1)  # force ss_code = 3
    with pytest.raises(AudioDecodeError, match="reserved sample size"):
        decode_flac(bytes(payload))


def test_flac_wav_cross_format_near_dup_merges(spark):
    """The SAME recording as WAV and as FLAC must land in one audio
    near-dup cluster — lossless re-encode dedup, with decoder column
    proving both real parsers ran."""
    from dedup_spark.functions.audiocodec import encode_flac_pcm16, encode_wav_pcm16
    from dedup_spark.operators.multimodal import audio_near_dup_clusters

    rng = np.random.default_rng(11)
    n = 16000
    spec = np.fft.rfft(rng.standard_normal(n))
    f = np.fft.rfftfreq(n, 1 / 8000.0)
    clip = np.fft.irfft(spec / (1.0 + f / 500.0), n)
    clip = clip / np.max(np.abs(clip)) * 0.8
    other = rng.standard_normal(n) * 0.5
    rows = [
        (1, "audio", bytearray(encode_wav_pcm16(clip, 8000)), ""),
        (2, "audio", bytearray(encode_flac_pcm16(clip, 8000)), ""),
        (3, "audio", bytearray(encode_wav_pcm16(other, 8000)), ""),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, mime string"
    )
    out = {r["asset_id"]: r for r in audio_near_dup_clusters(df).collect()}
    assert out[1]["decoder"] == "wav" and out[2]["decoder"] == "flac"
    assert out[1]["cluster_id"] == out[2]["cluster_id"]
    assert out[3]["cluster_id"] != out[1]["cluster_id"]


# ----------------------------------------------------- AIFF / Sun AU ----


def test_aiff_round_trips_both_endiannesses():
    from dedup_spark.functions.audiocodec import decode_aiff, encode_aiff_pcm16

    x = np.sin(np.linspace(0, 60, 3001)) * 0.38
    for sowt in (False, True):
        y, r = decode_aiff(encode_aiff_pcm16(x, 8000, sowt=sowt))
        assert r == 8000 and y.shape[0] == 3001
        assert np.allclose(y * 32768.0, np.round(x * 32767.0)), sowt


def test_aiff_rejects_corrupt():
    from dedup_spark.functions.audiocodec import (
        AudioDecodeError,
        decode_aiff,
        encode_aiff_pcm16,
    )

    x = np.arange(64) / 64.0
    good = encode_aiff_pcm16(x, 8000)
    for bad in (
        b"FORM\x00\x00\x00\x04AIFF",            # no chunks
        good[:40],                                # truncated SSND
        good.replace(b"AIFF", b"WAVE", 1),        # wrong form type
        good.replace(b"COMM", b"XOMM", 1),        # missing COMM
    ):
        with pytest.raises(AudioDecodeError):
            decode_aiff(bad)
    # AIFF-C with an unsupported compressor is rejected, not mis-read
    aifc = encode_aiff_pcm16(x, 8000, sowt=True).replace(b"sowt", b"ima4", 1)
    with pytest.raises(AudioDecodeError):
        decode_aiff(aifc)


def test_au_pcm_and_g711():
    from dedup_spark.functions.audiocodec import (
        AudioDecodeError,
        _alaw_to_linear,
        _linear_to_mulaw,
        _mulaw_to_linear,
        decode_au,
        encode_au_pcm16,
    )

    x = np.sin(np.linspace(0, 60, 3001)) * 0.38
    q = np.round(x * 32767.0)
    y, r = decode_au(encode_au_pcm16(x, 16000))
    assert r == 16000 and np.allclose(y * 32768.0, q)
    # G.711 mu-law: companding error bounded by the half-step of each
    # segment (published behavior: ~= 3% mid-scale, max at segment 0)
    y2, _ = decode_au(encode_au_pcm16(x, 8000, mulaw=True))
    rel = np.abs(y2 * 32768.0 - q) / np.maximum(np.abs(q), 64)
    assert rel.max() <= 0.07
    # published anchor points (CCITT ulaw2linear/alaw2linear): mu-law
    # 0xFF→0, 0x00→−32124, 0x80→+32124; A-law's sign bit is INVERTED
    # vs mu-law (set = positive), code 0x55 (a=0) → −8
    assert _linear_to_mulaw(np.array([0]))[0] == 0xFF
    assert _mulaw_to_linear(np.array([0xFF]))[0] == 0
    assert _mulaw_to_linear(np.array([0x00]))[0] == -32124
    assert _mulaw_to_linear(np.array([0x80]))[0] == 32124
    assert _alaw_to_linear(np.array([0x55]))[0] == -8
    assert _alaw_to_linear(np.array([0x55 ^ 0x80]))[0] == 8
    with pytest.raises(AudioDecodeError):
        decode_au(b".snd" + bytes(20))  # offset < 24
    with pytest.raises(AudioDecodeError):
        decode_au(b".snd" + np.array([24, 8, 9, 8000, 1], ">u4").tobytes()
                  + bytes(8))  # unsupported encoding


def test_aiff_au_join_the_audio_pipeline(spark):
    from dedup_spark.functions.audiocodec import (
        encode_aiff_pcm16,
        encode_au_pcm16,
        encode_wav_pcm16,
    )
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_samples,
        detect_kind_from_magic,
        media_near_dup_clusters,
        sniff_media_format,
    )

    x = np.sin(np.linspace(0, 40, 4096)) * 0.27
    aiff, au = encode_aiff_pcm16(x, 8000), encode_au_pcm16(x, 8000)
    for p, tok in ((aiff, "aiff"), (au, "au")):
        assert detect_kind_from_magic(p) == "audio", tok
        assert sniff_media_format(p) == tok
        _y, rate, dec = decode_samples(p, fake=False)
        assert (rate, dec) == (8000, tok)
    rows = [
        (1, "blob", encode_wav_pcm16(x, 8000), None),
        (2, "blob", aiff, None),
        (3, "blob", au, None),
    ]
    out = media_near_dup_clusters(
        spark.createDataFrame(rows, ASSET_SCHEMA)
    ).collect()
    assert len({r["cluster_id"] for r in out}) == 1  # one recording
    assert sorted(r["decoder"] for r in out) == ["aiff", "au", "wav"]


# ---------------------------------------------------------------- Ogg-FLAC


def test_ogg_flac_decodes_identical_to_native():
    """The FLAC-to-Ogg mapping carries native frames verbatim, so the
    Ogg decode must be bit-identical to the flat-native decode, mono
    AND stereo, including a short final frame."""
    from dedup_spark.functions.audiocodec import (
        decode_flac,
        decode_ogg_flac,
        encode_flac_pcm16,
        encode_ogg_flac_pcm16,
    )

    x = _colored(31)[: RATE + 777]
    for clip in (x, np.stack([x, -0.5 * x], axis=1)):
        nat, _ = decode_flac(encode_flac_pcm16(clip, RATE, block=4096))
        ogg, rate = decode_ogg_flac(encode_ogg_flac_pcm16(clip, RATE, block=4096))
        assert rate == RATE
        assert np.array_equal(nat, ogg)


def test_ogg_flac_unknown_header_count_sync_scans():
    """n_headers == 0 (unknown) forces the decoder to sync-scan past
    metadata packets instead of trusting a count."""
    from dedup_spark.functions.audiocodec import (
        decode_ogg_flac,
        encode_ogg_flac_pcm16,
    )

    blob = bytearray(encode_ogg_flac_pcm16(_colored(5)[:4000], 8000))
    # BOS page: 27-byte header + 1-seg table; mapping n_headers lives
    # at packet bytes 7-8 → file offset 28 + 7
    assert blob[28 + 7 : 28 + 9] == b"\x00\x01"
    blob[28 + 7 : 28 + 9] = b"\x00\x00"
    # page CRC must be rewritten for the packet walk to accept it
    from dedup_spark.functions.containers import _ogg_crc

    nsegs = blob[26]
    page_len = 27 + nsegs + sum(blob[27 : 27 + nsegs])
    page = bytearray(blob[:page_len])
    page[22:26] = b"\x00\x00\x00\x00"
    blob[22:26] = _ogg_crc(bytes(page)).to_bytes(4, "little")
    x, rate = decode_ogg_flac(bytes(blob))
    assert rate == 8000 and len(x) == 4000


def test_ogg_flac_rejects_corrupt_streams():
    from dedup_spark.functions.audiocodec import (
        decode_ogg_flac,
        encode_ogg_flac_pcm16,
    )

    good = encode_ogg_flac_pcm16(_colored(6)[:3000], 8000)
    with pytest.raises(AudioDecodeError):
        decode_ogg_flac(b"OggS" + bytes(80))  # not FLAC-mapped
    with pytest.raises(AudioDecodeError):
        decode_ogg_flac(good[: len(good) // 2])  # truncated page
    bad_major = bytearray(good)
    bad_major[28 + 5] = 9  # mapping major version
    with pytest.raises(AudioDecodeError):
        decode_ogg_flac(bytes(bad_major))


def test_ogg_flac_inner_index_error_reroutes_to_blob(spark):
    """decode_ogg_flac turns an untyped failure of its inner helpers
    (here a patched ``_ogg_packets`` raising IndexError) into
    AudioDecodeError, like decode_flac and decode_mka. So the asset
    takes the stub policy: the orchestrator reroutes it to the
    byte-shingle blob path instead of failing the job."""
    from unittest import mock

    from dedup_spark.functions import vorbis
    from dedup_spark.functions.audiocodec import (
        decode_ogg_flac,
        encode_ogg_flac_pcm16,
        encode_wav_pcm16,
    )
    from dedup_spark.functions.formats import FORMATS
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_samples,
        media_near_dup_clusters,
    )

    x = _colored(13)[:RATE]
    blob = encode_ogg_flac_pcm16(x, RATE)
    with mock.patch.object(vorbis, "_ogg_packets", side_effect=IndexError("boom")):
        with pytest.raises(AudioDecodeError, match="IndexError"):
            decode_ogg_flac(blob)
        with pytest.raises(NotImplementedError):
            decode_samples(blob, fake=False)

    # the executors run the Ogg row's decoder: patch the helper there
    ogg = next(r for r in FORMATS if r.token == "ogg")
    real = ogg.samples

    def broken_inner(raw):
        from unittest import mock as executor_mock

        from dedup_spark.functions import vorbis as executor_vorbis

        with executor_mock.patch.object(
            executor_vorbis, "_ogg_packets", side_effect=IndexError("boom")
        ):
            return real(raw)

    rows = [
        (1, "blob", encode_wav_pcm16(x, RATE), None),
        (2, "blob", blob, None),
    ]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    with mock.patch.object(ogg, "samples", broken_inner):
        out = {r["asset_id"]: r for r in media_near_dup_clusters(df).collect()}
    assert (out[1]["modality"], out[1]["decoder"]) == ("audio", "wav")
    assert (out[2]["modality"], out[2]["decoder"]) == ("blob", "bytes")


def test_decode_samples_routes_ogg_flac(spark):
    """Routing: OggS + FLAC BOS → the native FLAC frame decoder, and
    the WAV/FLAC/Ogg-FLAC re-encodes of one clip land in ONE cluster
    through the full orchestrator."""
    from dedup_spark.functions.audiocodec import (
        encode_flac_pcm16,
        encode_ogg_flac_pcm16,
        encode_wav_pcm16,
    )
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_samples,
        detect_kind_from_magic,
        media_near_dup_clusters,
        sniff_media_format,
    )

    x = _colored(9)[:RATE]
    blob = encode_ogg_flac_pcm16(x, RATE)
    assert detect_kind_from_magic(blob) == "audio"
    assert sniff_media_format(blob) == "ogg"
    y, rate, dec = decode_samples(blob, fake=False)
    assert (rate, dec) == (RATE, "oggflac") and len(y) == len(x)
    rows = [
        (1, "blob", encode_wav_pcm16(x, RATE), None),
        (2, "blob", encode_flac_pcm16(x, RATE), None),
        (3, "blob", blob, None),
    ]
    out = media_near_dup_clusters(
        spark.createDataFrame(rows, ASSET_SCHEMA)
    ).collect()
    assert len({r["cluster_id"] for r in out}) == 1
    assert sorted(r["decoder"] for r in out) == ["flac", "oggflac", "wav"]


# ------------------------------------------------- Matroska audio (.mka)


def test_block_frames_one_frame_lace_has_no_sizes():
    """A laced block whose lace count is 0 holds one frame and no lace
    sizes, under every lacing (RFC 9559 §10): EBML must not read a
    size vint there."""
    from dedup_spark.functions.audiocodec import _block_frames

    for flags in (0x02, 0x04, 0x06):  # Xiph, fixed, EBML
        block = bytes([0x00, 0x00, flags, 0x00]) + bytes(range(32))
        assert _block_frames(block, 0, len(block)) == [(4, 36)], flags


def test_mka_round_trips_all_codecs_and_lacings():
    """FLAC-in-Matroska must decode bit-identical to native FLAC
    (frames travel verbatim), Vorbis-in-Matroska bit-identical to the
    Ogg layout of the same packets, PCM exactly — across no/Xiph/EBML
    lacing and BlockGroup-free SimpleBlock layout."""
    from dedup_spark.functions.audiocodec import (
        decode_flac,
        decode_mka,
        encode_flac_pcm16,
        encode_mka,
    )
    from dedup_spark.functions.vorbis import decode_vorbis, encode_vorbis_pcm16

    x = _colored(41)[: RATE + 511]
    nat_flac, _ = decode_flac(encode_flac_pcm16(x, RATE, block=4096))
    xi = np.clip(np.round(x * 32767), -32768, 32767)
    nat_vorb, _ = decode_vorbis(encode_vorbis_pcm16(xi, RATE))
    for lacing in ("none", "xiph", "ebml"):
        y, r, tok = decode_mka(encode_mka(x, RATE, codec="flac", lacing=lacing))
        assert (r, tok) == (RATE, "flac") and np.array_equal(y, nat_flac)
        y, r, tok = decode_mka(
            encode_mka(x, RATE, codec="vorbis", lacing=lacing))
        assert (r, tok) == (RATE, "vorbis")
        m = min(len(y), len(nat_vorb))
        assert m > 0 and np.array_equal(y[:m], nat_vorb[:m])
        y, r, tok = decode_mka(encode_mka(x, RATE, codec="pcm", lacing=lacing))
        assert (r, tok) == (RATE, "pcm") and len(y) == len(x)
        q = np.clip(np.round(x * 32767), -32768, 32767) / 32768.0
        assert np.allclose(y, q, atol=0)
    # fixed lacing needs equal frames: a block-multiple PCM clip
    x2 = x[: 3 * 4096]
    y, r, tok = decode_mka(encode_mka(x2, RATE, codec="pcm", lacing="fixed"))
    assert (r, tok) == (RATE, "pcm") and len(y) == len(x2)


def test_mka_stereo_downmixes():
    from dedup_spark.functions.audiocodec import decode_mka, encode_mka

    x = _colored(42)[:8192]
    st = np.stack([x, -0.25 * x], axis=1)
    q = np.clip(np.round(st * 32767), -32768, 32767) / 32768.0
    expect = q.mean(axis=1)  # downmix = mean of the quantized channels
    for codec in ("flac", "pcm"):
        y, r, tok = decode_mka(encode_mka(st, RATE, codec=codec))
        assert r == RATE and y.shape == (len(x),)
        assert np.allclose(y, expect, atol=1e-12)


def test_mka_refuses_video_tracks_and_corrupt_streams():
    """A Matroska file WITH a video track must raise (it is a video
    file; fingerprinting its soundtrack would merge different videos
    that share audio), as must unsupported codecs and truncations."""
    from dedup_spark.functions.audiocodec import decode_mka, encode_mka
    from dedup_spark.functions.videocodec import encode_mkv_mjpeg

    frames = (np.arange(2 * 32 * 48, dtype=np.uint8) % 251).reshape(2, 32, 48)
    with pytest.raises(AudioDecodeError, match="video track"):
        decode_mka(encode_mkv_mjpeg(frames))
    good = encode_mka(_colored(7)[:6000], 8000, codec="flac")
    with pytest.raises(AudioDecodeError):
        decode_mka(good[: len(good) // 3])
    with pytest.raises(AudioDecodeError):
        decode_mka(b"\x1aE\xdf\xa3" + bytes(40))
    # unsupported codec id
    blob = bytearray(good)
    i = blob.find(b"A_FLAC")
    blob[i : i + 6] = b"A_OPUS"
    with pytest.raises(AudioDecodeError, match="unsupported|no audio|corrupt"):
        decode_mka(bytes(blob))


def test_orchestrator_reroutes_audio_only_matroska(spark):
    """Audio-only Matroska sniffs as video by magic; the orchestrator
    retries video-undecodable rows through the audio path, so one
    recording as WAV + FLAC-in-MKA + Vorbis-in-WebM lands in ONE
    audio-namespaced cluster — while a real MJPEG Matroska VIDEO stays
    in the video namespace."""
    from dedup_spark.functions.audiocodec import encode_mka, encode_wav_pcm16
    from dedup_spark.functions.videocodec import encode_mkv_mjpeg
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_samples,
        media_near_dup_clusters,
    )

    x = _colored(12)[:RATE]
    mka = encode_mka(x, RATE, codec="flac")
    y, rate, dec = decode_samples(mka, fake=False)
    assert (rate, dec) == (RATE, "mkaflac") and len(y) == len(x)
    vid = (np.arange(3 * 48 * 64, dtype=np.uint8) % 250).reshape(3, 48, 64)
    rows = [
        (1, "blob", encode_wav_pcm16(x, RATE), None),
        (2, "blob", mka, None),
        (3, "blob", encode_mka(x, RATE, codec="vorbis", lacing="xiph"), None),
        (4, "blob", encode_mkv_mjpeg(vid), None),
    ]
    out = {
        r["asset_id"]: r
        for r in media_near_dup_clusters(
            spark.createDataFrame(rows, ASSET_SCHEMA)
        ).collect()
    }
    assert out[1]["modality"] == out[2]["modality"] == out[3]["modality"] == "audio"
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"]
    assert out[2]["decoder"] == "mkaflac"
    assert out[3]["decoder"] == "mkavorbis"
    assert out[4]["modality"] == "video" and out[4]["decoder"] == "mkv-mjpeg"


# ----------------------------------------- WAV: EXTENSIBLE + G.711 tags


def _wav_blob(tag: int, bits: int, rate: int, data: bytes,
              extensible: bool = False, channels: int = 1) -> bytes:
    import struct as _s

    if extensible:
        ext = _s.pack("<HHI", 22, bits, 0) + _s.pack("<H", tag) + bytes(14)
        fmt = _s.pack("<HHIIHH", 0xFFFE, channels, rate,
                      rate * channels * max(bits, 8) // 8,
                      channels * max(bits, 8) // 8, bits) + ext
    else:
        fmt = _s.pack("<HHIIHH", tag, channels, rate,
                      rate * channels * max(bits, 8) // 8,
                      channels * max(bits, 8) // 8, bits)
    body = (b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b""))
    return b"RIFF" + _s.pack("<I", len(body)) + body


def test_wav_extensible_decodes_like_plain_pcm():
    x = _colored(21)[:5000]
    s = np.clip(np.round(x * 32767), -32768, 32767).astype("<i2")
    plain = decode_wav(_wav_blob(1, 16, RATE, s.tobytes()))
    ext = decode_wav(_wav_blob(1, 16, RATE, s.tobytes(), extensible=True))
    assert plain[1] == ext[1] == RATE
    assert np.array_equal(plain[0], ext[0])
    with pytest.raises(AudioDecodeError):  # truncated extension
        import struct as _s
        fmt = _s.pack("<HHIIHH", 0xFFFE, 1, RATE, RATE * 2, 2, 16)
        body = (b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
                + b"data" + _s.pack("<I", 4) + bytes(4))
        decode_wav(b"RIFF" + _s.pack("<I", len(body)) + body)


def test_wav_g711_tags_share_the_au_companding():
    """mu-law (tag 7) and A-law (tag 6) WAVs decode through the same
    published-formula expanders as Sun AU — pinned byte-for-byte
    against them over every 8-bit code."""
    from dedup_spark.functions.audiocodec import (
        _alaw_to_linear,
        _mulaw_to_linear,
    )

    codes = bytes(range(256)) * 4
    for tag, expand in ((7, _mulaw_to_linear), (6, _alaw_to_linear)):
        x, rate = decode_wav(_wav_blob(tag, 8, 8000, codes))
        assert rate == 8000 and len(x) == len(codes)
        expect = expand(np.frombuffer(codes, np.uint8)) / 32768.0
        assert np.array_equal(x, expect)
        # EXTENSIBLE wrapping of the same subformat
        x2, _ = decode_wav(_wav_blob(tag, 8, 8000, codes, extensible=True))
        assert np.array_equal(x2, x)


def test_mka_decode_totality_under_mutation():
    """Totality contract shared with the other decoders: any byte
    mutation of a valid Matroska audio file either decodes or raises
    AudioDecodeError — never an untyped exception that would escape
    the stub-policy catch and kill a Spark task."""
    from dedup_spark.functions.audiocodec import decode_mka, encode_mka

    x = _colored(17)[:6000]
    for codec, lacing in (("flac", "xiph"), ("vorbis", "none"),
                          ("pcm", "ebml")):
        good = bytearray(encode_mka(x, 8000, codec=codec, lacing=lacing))
        rng = np.random.default_rng(len(good))
        for _ in range(120):
            blob = bytearray(good)
            for _ in range(rng.integers(1, 4)):
                blob[rng.integers(0, len(blob))] = rng.integers(0, 256)
            try:
                y, rate, _tok = decode_mka(bytes(blob))
                assert rate > 0 and len(y) > 0
            except AudioDecodeError:
                pass


def test_media_keeper_meta_audio_only_matroska(spark):
    """ffprobe parity: an audio-only Matroska yields its format token
    with NULL dimensions (audio metadata), NOT the failed-extraction
    None — while a corrupt Matroska still yields None."""
    from dedup_spark.functions.audiocodec import encode_mka
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        media_keeper_meta,
    )

    rows = [
        (1, "blob", encode_mka(_colored(18)[:4000], 8000, codec="flac"), None),
        (2, "blob", b"\x1aE\xdf\xa3" + bytes(64), None),
    ]
    out = {
        r["asset_id"]: r
        for r in media_keeper_meta(
            spark.createDataFrame(rows, ASSET_SCHEMA)
        ).collect()
    }
    assert out[1]["format"] == "mkv"
    assert out[1]["width"] is None and out[1]["height"] is None
    assert out[2]["format"] is None


def test_au_wide_encodings_and_aifc_g711():
    """AU encodings 4/5/6/7 (24/32-bit PCM, float32/64) and AIFF-C
    ulaw/alaw compression decode through the shared expanders —
    pinned against hand-built payloads."""
    import struct as _s

    from dedup_spark.functions.audiocodec import (
        _alaw_to_linear,
        _mulaw_to_linear,
        decode_aiff,
        decode_au,
    )

    x = _colored(51)[:2000]

    def au(enc: int, body: bytes) -> bytes:
        return (b".snd" + _s.pack(">IIIII", 24, len(body), enc, 8000, 1)
                + body)

    v24 = np.clip(np.round(x * ((1 << 23) - 1)), -(1 << 23), (1 << 23) - 1
                  ).astype(np.int64)
    v24[:2] = ((1 << 23) - 1, -(1 << 23))  # pin the sign-extension edge
    b24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "big") for v in v24)
    y, r = decode_au(au(4, b24))
    assert r == 8000 and np.allclose(y, v24 / 8388608.0, atol=0)
    v32 = np.clip(np.round(x * 2147483647), -2147483648, 2147483647
                  ).astype(">i4")
    y, _ = decode_au(au(5, v32.tobytes()))
    assert np.allclose(y, v32.astype(np.float64) / 2147483648.0, atol=0)
    y, _ = decode_au(au(6, x.astype(">f4").tobytes()))
    assert np.allclose(y, x.astype(">f4").astype(np.float64), atol=0)
    y, _ = decode_au(au(7, x.astype(">f8").tobytes()))
    assert np.array_equal(y, x)

    # AIFF-C ulaw/alaw: COMM with compression type, 8-bit code body
    codes = bytes(range(256)) * 2
    for comp, expand in ((b"ulaw", _mulaw_to_linear),
                         (b"alaw", _alaw_to_linear)):
        from dedup_spark.functions.audiocodec import _write_f80

        # COMM: channels/frames/bits + f80 rate + compression type +
        # empty pstring (1 byte) = 23 bytes, odd → chunk pad byte
        comm = (_s.pack(">HIH", 1, len(codes), 16) + _write_f80(8000.0)
                + comp + b"\x00")
        pad = b"\x00" if len(comm) & 1 else b""
        ssnd = _s.pack(">II", 0, 0) + codes
        blob = (b"FORM"
                + _s.pack(">I", 4 + 8 + len(comm) + len(pad) + 8 + len(ssnd))
                + b"AIFC"
                + b"COMM" + _s.pack(">I", len(comm)) + comm + pad
                + b"SSND" + _s.pack(">I", len(ssnd)) + ssnd)
        y, r = decode_aiff(blob)
        assert r == 8000 and len(y) == len(codes)
        assert np.array_equal(
            y, expand(np.frombuffer(codes, np.uint8)) / 32768.0)
