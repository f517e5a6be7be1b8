"""WebP / VP8L lossless decode contracts.

Three layers of evidence:
1. own-encoder round-trips across every opt-in feature (literal,
   subtract-green, all 14 predictor modes, color cache, LZ77 runs in
   both plain and 2-D plane-code form, palette indexing with sub-byte
   bundling) — bit-exact ARGB;
2. the system libwebp oracle (ctypes, skip-gated): images encoded by
   the REAL WebPEncodeLosslessRGBA — whose encoder freely uses
   meta-prefix images, real Huffman trees, transforms and caches —
   must decode bit-identical; the 120-entry plane-code table is also
   re-extracted from the library binary and pinned byte-for-byte;
3. pipeline integration: sniffers, decode_pixels token, and the
   PNG + WebP re-encode single-cluster end-to-end.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np
import pytest

from dedup_spark.functions.imagecodec import ImageDecodeError, encode_png_gray8
from dedup_spark.functions.webp import (
    _PLANE_CODES,
    _find_vp8l,
    decode_vp8l_argb,
    decode_webp,
    encode_vp8l_rgb8,
    encode_webp_gray8,
    webp_meta,
)


def _libwebp():
    try:
        lw = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return None
    lw.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lw.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p),
    ]
    return lw


def _lw_encode(lw, rgba: np.ndarray) -> bytes:
    h, w, _ = rgba.shape
    out = ctypes.c_void_p()
    n = lw.WebPEncodeLosslessRGBA(rgba.tobytes(), w, h, w * 4, ctypes.byref(out))
    assert n > 0
    buf = ctypes.string_at(out, n)
    lw.WebPFree(out)
    return buf


def _expected_argb(rgba: np.ndarray) -> np.ndarray:
    return (
        (rgba[:, :, 3].astype(np.uint32) << 24)
        | (rgba[:, :, 0].astype(np.uint32) << 16)
        | (rgba[:, :, 1].astype(np.uint32) << 8)
        | rgba[:, :, 2].astype(np.uint32)
    )


def _img(h: int, w: int, seed: int = 3) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (h, w), dtype=np.uint8)


# ------------------------------------------------ own-encoder round trips -


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"subtract_green": True},
        {"cache_bits": 4},
        {"cache_bits": 7, "lz77": True},
        {"lz77": True},
        {"lz77": True, "plane_codes": True},
        {"subtract_green": True, "lz77": True, "cache_bits": 3},
    ],
    ids=["literal", "sub-green", "cache", "cache-lz", "lz-plain",
         "lz-plane2d", "all"],
)
def test_rgb_round_trip_bit_exact(kwargs):
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (13, 17, 3), dtype=np.uint8)
    rgb[4:9] = rgb[4, 5]  # runs for LZ77/cache to find
    argb, w, h = decode_vp8l_argb(_find_vp8l(encode_vp8l_rgb8(rgb, **kwargs)))
    exp = (
        (np.uint32(0xFF) << 24)
        | (rgb[:, :, 0].astype(np.uint32) << 16)
        | (rgb[:, :, 1].astype(np.uint32) << 8)
        | rgb[:, :, 2].astype(np.uint32)
    )
    assert (w, h) == (17, 13)
    assert np.array_equal(argb, exp)


@pytest.mark.parametrize("mode", range(14))
def test_predictor_modes_round_trip(mode):
    g = (np.arange(11 * 14, dtype=np.uint32).reshape(11, 14) * 7 % 256).astype(
        np.uint8
    )
    gray, w, h = decode_webp(encode_webp_gray8(g, predictor_mode=mode))
    assert np.array_equal(gray, g), mode
    rnd = np.random.RandomState(mode).randint(0, 256, (9, 13, 3), np.uint8)
    argb, _, _ = decode_vp8l_argb(
        _find_vp8l(encode_vp8l_rgb8(rnd, predictor_mode=mode))
    )
    exp = (
        (np.uint32(0xFF) << 24)
        | (rnd[:, :, 0].astype(np.uint32) << 16)
        | (rnd[:, :, 1].astype(np.uint32) << 8)
        | rnd[:, :, 2].astype(np.uint32)
    )
    assert np.array_equal(argb, exp), mode


@pytest.mark.parametrize("n_colors,xbits", [(2, 3), (3, 2), (11, 1), (40, 0)])
def test_palette_bundling_round_trip(n_colors, xbits):
    """Color-indexing with every bundling width (8/4/2/1 px per byte)."""
    h, w = 7, 29
    idx = (np.arange(h * w).reshape(h, w) % n_colors).astype(np.uint8)
    g = (idx * (255 // max(1, n_colors - 1))).astype(np.uint8)
    gray, ww, hh = decode_webp(encode_webp_gray8(g, palette=True))
    assert (ww, hh) == (w, h)
    assert np.array_equal(gray, g)


def test_gray_luma_matches_png_plane():
    """Same pixels as PNG and as lossless WebP decode to IDENTICAL
    gray planes (shared integer BT.601) — the property the pHash
    cluster relies on."""
    from dedup_spark.functions.imagecodec import decode_png

    img = _img(21, 33)
    png_gray = decode_png(encode_png_gray8(img))[0]
    webp_gray = decode_webp(encode_webp_gray8(img, lz77=True))[0]
    assert np.array_equal(png_gray, webp_gray)


# ---------------------------------------------------- corrupt rejection ---


def test_corrupt_streams_raise_typed():
    good = encode_webp_gray8(_img(8, 8))
    cases = [
        b"",
        b"RIFF\x00\x00\x00\x00WAVE",          # wrong RIFF form
        b"RIFF\x04\x00\x00\x00WEBP",           # no chunks
        good[:20],                              # truncated chunk
        good.replace(b"VP8L", b"VP8X", 1),      # claims extended, no image
        good[:12] + b"VP8L\x05\x00\x00\x00\x99" + good[21:],  # bad signature
    ]
    for payload in cases:
        with pytest.raises(ImageDecodeError):
            decode_webp(payload)
    # oversized header dims hit the shared pixel cap before allocation
    big = bytearray(good)
    # VP8L header: sig byte then 14+14 bits of (dim-1) LSB-first
    bits = (0x3FFF) | (0x3FFF << 14)
    big[21:25] = struct.pack("<I", bits)
    with pytest.raises(ImageDecodeError):
        decode_webp(bytes(big))


def test_lossy_vp8_is_stub_but_meta_parses():
    """A lossy VP8 file raises the typed error from decode (stub
    policy) while webp_meta still reads its plain-bit geometry."""
    # minimal synthetic VP8 chunk: 3-byte frame tag, start code, dims
    vp8 = bytes([0x10, 0x00, 0x00]) + b"\x9d\x01\x2a" + struct.pack(
        "<HH", 320, 240
    ) + b"\x00" * 8
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    )
    with pytest.raises(ImageDecodeError):
        decode_webp(payload)
    m = webp_meta(payload)
    assert (m["variant"], m["width"], m["height"]) == ("lossy", 320, 240)


def test_webp_meta_lossless_and_fuzz():
    g = _img(19, 23)
    m = webp_meta(encode_webp_gray8(g))
    assert (m["variant"], m["width"], m["height"]) == ("lossless", 23, 19)
    rng = np.random.RandomState(0)
    good = bytearray(encode_webp_gray8(g, lz77=True))
    for _ in range(200):
        bad = bytearray(good)
        i = rng.randint(0, len(bad))
        bad[i] ^= 1 << rng.randint(0, 8)
        try:
            decode_webp(bytes(bad))
        except ImageDecodeError:
            pass  # typed rejection or a silently-valid mutation: both fine


# ------------------------------------------------------- libwebp oracle ---


@pytest.mark.skipif(_libwebp() is None, reason="system libwebp not present")
def test_plane_code_table_matches_libwebp_binary():
    import glob

    paths = glob.glob("/lib/*/libwebp.so.7*") + glob.glob(
        "/usr/lib/*/libwebp.so.7*"
    )
    if not paths:
        pytest.skip("libwebp binary path not found")
    data = open(paths[0], "rb").read()
    i = data.find(_PLANE_CODES[:10])
    assert i >= 0
    assert data[i : i + 120] == _PLANE_CODES


@pytest.mark.skipif(_libwebp() is None, reason="system libwebp not present")
def test_decodes_real_libwebp_streams_bit_exact():
    """The strongest pin: streams produced by the production libwebp
    lossless encoder (its own transform/meta-huffman/cache choices)
    decode bit-identical. RGB is compared where alpha != 0 — libwebp's
    default exact=0 mode rewrites RGB under fully-transparent pixels
    (an encoder-side choice; alpha itself must always match)."""
    lw = _libwebp()
    rng = np.random.RandomState(42)
    cases = []
    for (h, w) in [(1, 1), (3, 5), (16, 16), (37, 64), (96, 128)]:
        yy, xx = np.mgrid[0:h, 0:w]
        grad = np.zeros((h, w, 4), np.uint8)
        grad[:, :, 0] = (xx * 3 + yy * 5) % 256
        grad[:, :, 1] = (xx * 7) % 256
        grad[:, :, 2] = (yy * 11) % 256
        grad[:, :, 3] = 255
        cases.append(grad)
        noise = np.concatenate(
            [rng.randint(0, 256, (h, w, 3), dtype=np.uint8).astype(np.uint8),
             np.full((h, w, 1), 255, np.uint8)], axis=2,
        )
        cases.append(noise)
        pal = rng.randint(0, 4, (h, w)).astype(np.uint8) * 80
        cases.append(
            np.stack([pal, pal, pal, np.full((h, w), 255, np.uint8)], -1)
        )
    cases.append(rng.randint(0, 256, (24, 31, 4)).astype(np.uint8))  # alpha
    for rgba in cases:
        data = _lw_encode(lw, rgba)
        argb, w, h = decode_vp8l_argb(_find_vp8l(data))
        assert (h, w) == rgba.shape[:2]
        exp = _expected_argb(rgba)
        alpha_ok = np.array_equal((argb >> 24) & 0xFF, rgba[:, :, 3])
        opaque = rgba[:, :, 3] != 0
        assert alpha_ok and np.array_equal(argb[opaque], exp[opaque]), rgba.shape


@pytest.mark.skipif(_libwebp() is None, reason="system libwebp not present")
def test_libwebp_decodes_our_fixtures():
    """Closing the loop: libwebp's DECODER accepts this module's
    fixture streams and agrees on the pixels."""
    lw = _libwebp()
    lw.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    lw.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    img = _img(18, 27, seed=9)
    for kwargs in [
        {}, {"subtract_green": True}, {"lz77": True}, {"cache_bits": 5},
        {"predictor_mode": 11}, {"palette": True},
    ]:
        payload = encode_webp_gray8(img, **kwargs)
        wi = ctypes.c_int()
        hi = ctypes.c_int()
        p = lw.WebPDecodeRGBA(payload, len(payload), ctypes.byref(wi),
                              ctypes.byref(hi))
        assert p, f"libwebp rejected fixture {kwargs}"
        n = wi.value * hi.value * 4
        rgba = np.frombuffer(ctypes.string_at(p, n), np.uint8).reshape(
            hi.value, wi.value, 4
        )
        lw.WebPFree(p)
        assert (wi.value, hi.value) == (27, 18)
        assert np.array_equal(rgba[:, :, 0], img), kwargs
        assert np.array_equal(rgba[:, :, 1], img), kwargs
        assert np.array_equal(rgba[:, :, 2], img), kwargs


# --------------------------------------------------- pipeline integration -


def test_webp_joins_the_image_pipeline(spark):
    from dedup_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_pixels,
        detect_kind_from_magic,
        media_near_dup_clusters,
        sniff_media_format,
    )

    img = _img(24, 16, seed=5)
    payload = encode_webp_gray8(img, lz77=True, cache_bits=4)
    assert detect_kind_from_magic(payload) == "image"
    assert sniff_media_format(payload) == "webp"
    g, w, h, dec = decode_pixels(payload, fake=False)
    assert (dec, w, h) == ("webp", 16, 24)
    assert np.array_equal(g, img)
    rows = [
        (1, "blob", encode_png_gray8(img), None),
        (2, "blob", payload, None),
        (3, "blob", encode_webp_gray8(255 - img), None),
    ]
    out = media_near_dup_clusters(
        spark.createDataFrame(rows, ASSET_SCHEMA)
    ).collect()
    by_id = {r["asset_id"]: r for r in out}
    assert by_id[1]["cluster_id"] == by_id[2]["cluster_id"]  # PNG == WebP
    assert by_id[3]["cluster_id"] != by_id[1]["cluster_id"]
    assert by_id[2]["decoder"] == "webp"


def test_kind_table_sees_webp():
    from dedup_spark.operators.multimodal import detect_kind_from_magic

    expected = [
        (encode_webp_gray8(_img(8, 8)), "image"),
        (b"RIFF\x10\x00\x00\x00WEBPVP8L\x00\x00\x00\x00", "image"),
        (b"RIFF\x10\x00\x00\x00WAVE" + bytes(8), "audio"),
        (b"RIFFle text, oddly", "blob"),
    ]
    for i, (payload, kind) in enumerate(expected):
        assert detect_kind_from_magic(payload) == kind, i


def test_animated_webp_first_frame_decodes():
    """VP8X+ANIM+ANMF layout: the first animation frame's VP8L decodes
    (first-frame fingerprinting); webp_meta reports the animated
    variant with the canvas geometry."""
    img = _img(9, 12, seed=6)
    inner = encode_webp_gray8(img)
    vp8l_chunk = inner[20:20 + struct.unpack("<I", inner[16:20])[0]]
    vp8l = b"VP8L" + struct.pack("<I", len(vp8l_chunk)) + vp8l_chunk
    if len(vp8l_chunk) & 1:
        vp8l += b"\x00"
    anmf_body = (
        b"\x00\x00\x00" * 2                       # frame x, y
        + (12 - 1).to_bytes(3, "little")          # frame width - 1
        + (9 - 1).to_bytes(3, "little")           # frame height - 1
        + b"\x64\x00\x00" + b"\x00"               # duration, flags
        + vp8l
    )
    vp8x = bytes([0x02]) + b"\x00\x00\x00" + (12 - 1).to_bytes(
        3, "little") + (9 - 1).to_bytes(3, "little")
    body = (
        b"WEBP"
        + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
        + b"ANIM" + struct.pack("<I", 6) + b"\x00\x00\x00\x00\x00\x00"
        + b"ANMF" + struct.pack("<I", len(anmf_body)) + anmf_body
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    g, w, h = decode_webp(payload)
    assert (w, h) == (12, 9)
    assert np.array_equal(g, img)
    m = webp_meta(payload)
    assert (m["variant"], m["width"], m["height"]) == ("animated", 12, 9)


# -------------------------------------------------- hypothesis matrix ----


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    subtract_green=st.booleans(),
    lz77=st.booleans(),
    cache_bits=st.sampled_from([0, 1, 3, 6, 9]),
)
def test_hypothesis_round_trip(w, h, seed, subtract_green, lz77, cache_bits):
    rng = np.random.RandomState(seed)
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    if seed % 3 == 0:  # inject runs so LZ77/cache paths fire
        rgb[: h // 2 + 1] = rgb[0, 0]
    payload = encode_vp8l_rgb8(
        rgb, subtract_green=subtract_green, lz77=lz77, cache_bits=cache_bits
    )
    argb, ww, hh = decode_vp8l_argb(_find_vp8l(payload))
    assert (ww, hh) == (w, h)
    assert np.array_equal(argb, _expected_argb(
        np.concatenate([rgb, np.full((h, w, 1), 255, np.uint8)], axis=2)
    ))
