"""Lossless WebP / VP8L codec (functions/webp): every coding tool the
decoder implements is pinned by an EXACT round-trip (VP8L is lossless, so
decode(encode(img)) == img bit-for-bit) — literals, color cache, LZ77
runs with the neighbor distance map, and all four transforms including
palette pixel-bundling and each of the 14 predictor modes."""

import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avecado_spark.functions.webp import (webp_decode,  # noqa: E402
                                          webp_encode)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([np.clip(xx * 4 + yy, 0, 255),
                     np.clip(yy * 6, 0, 255),
                     np.clip(150 + xx - yy * 2, 0, 255),
                     np.full_like(xx, 255)], axis=2).astype(np.uint8)


def test_roundtrip_literals_cache_and_runs():
    rng = np.random.default_rng(3)
    imgs = [
        _gradient(23, 37),
        rng.integers(0, 256, (16, 21, 4), dtype=np.uint8).astype(np.uint8),
        # long same-pixel runs → LZ77 length/distance path
        np.repeat(np.repeat(
            rng.integers(0, 5, (4, 5, 4)) * 50, 6, axis=0),
            7, axis=1).astype(np.uint8),
    ]
    for img in imgs:
        for kw in ({}, {"use_cache": False}, {"subtract_green": True}):
            enc = webp_encode(img, **kw)
            assert enc[:4] == b"RIFF" and enc[8:16] == b"WEBPVP8L"
            dec = webp_decode(enc)
            assert (dec == img).all()        # lossless: EXACT


@pytest.mark.parametrize("n_colors", [2, 4, 13, 200])
def test_roundtrip_palette_with_bundling(n_colors):
    """COLOR_INDEXING at every bundling width (8/4/2 px per byte + none)."""
    rng = np.random.default_rng(n_colors)
    pal = rng.integers(0, 256, (n_colors, 4), dtype=np.uint8)
    pal[:, 3] = 255
    img = pal[rng.integers(0, n_colors, (15, 22))].astype(np.uint8)
    dec = webp_decode(webp_encode(img, palette=True))
    assert (dec == img).all()


@pytest.mark.parametrize("mode", list(range(14)))
def test_roundtrip_every_predictor_mode(mode):
    rng = np.random.default_rng(mode)
    for img in (_gradient(21, 30),
                rng.integers(0, 256, (17, 19, 4),
                             dtype=np.uint8).astype(np.uint8)):
        enc = webp_encode(img, predictor=mode, use_cache=False)
        assert (webp_decode(enc) == img).all()


@pytest.mark.parametrize("cte", [(10, -20, 5), (-128, 127, 64),
                                 (33, 77, -90), (127, -128, 127)])
def test_roundtrip_color_transform(cte):
    rng = np.random.default_rng(hash(cte) % 2**31)
    img = rng.integers(0, 256, (17, 19, 4), dtype=np.uint8).astype(np.uint8)
    enc = webp_encode(img, color_transform=cte, use_cache=False)
    assert (webp_decode(enc) == img).all()


@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 10**6))
@settings(max_examples=25, deadline=None)
def test_roundtrip_property(h, w, seed):
    """Any image, any dims (incl. 1-pixel edges) round-trips exactly."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8).astype(np.uint8)
    assert (webp_decode(webp_encode(img)) == img).all()


def test_rgb_input_and_alpha_channel():
    img3 = _gradient(9, 11)[:, :, :3]
    dec = webp_decode(webp_encode(img3))
    assert (dec[:, :, :3] == img3).all() and (dec[:, :, 3] == 255).all()
    # non-opaque alpha survives exactly
    rng = np.random.default_rng(1)
    img4 = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8).astype(np.uint8)
    assert (webp_decode(webp_encode(img4)) == img4).all()


def test_rejects_garbage_and_truncated_vp8():
    with pytest.raises(ValueError, match="not a WebP"):
        webp_decode(b"\x89PNG\r\n\x1a\n")
    # lossy VP8 has no decoder — a VP8 chunk must fail LOUDLY through
    # the container path, not return pixels
    fake_vp8 = (b"RIFF" + (12).to_bytes(4, "little") + b"WEBP"
                + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4)
    with pytest.raises(NotImplementedError, match="lossy WebP"):
        webp_decode(fake_vp8)


def test_decode_image_sniffs_webp():
    from avecado_spark.sources.multimodal import decode_image
    img = _gradient(12, 14)
    dec = decode_image(webp_encode(img), 0, 0)
    assert dec.shape == (12, 14, 3)
    assert (dec == img[:, :, :3]).all()


def test_vp8x_extended_container_is_walked():
    """Real files often wrap VP8L in a VP8X extended container with
    metadata chunks; the chunk walk must skip unknown chunks (with the
    RIFF odd-size pad rule) and find VP8L."""
    import struct
    img = _gradient(7, 9)
    plain = webp_encode(img)
    vp8l_off = plain.index(b"VP8L")
    vp8l_chunk = plain[vp8l_off:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    exif = b"EXIF" + struct.pack("<I", 5) + b"junk!" + b"\x00"  # odd→pad
    body = vp8x + exif + vp8l_chunk
    wrapped = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    dec = webp_decode(wrapped)
    assert (dec == webp_decode(plain)).all()


@given(st.integers(0, 10**6), st.integers(1, 200))
@settings(max_examples=25, deadline=None)
def test_truncated_webp_raises_cleanly(seed, cut):
    """Truncations fail loudly (truncated-bitstream / chunk errors) —
    never hang, never emit a wrong-shaped image."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (10, 12, 4), dtype=np.uint8).astype(np.uint8)
    enc = webp_encode(img)
    cut = min(cut, len(enc) - 13)
    try:
        out = webp_decode(enc[:len(enc) - cut])
        assert out.shape == (10, 12, 4)   # only pad-byte cuts may succeed
    except (ValueError, NotImplementedError, IndexError):
        pass


# ---------------------------------------------------------------------------
# third-party parity: decode REAL libwebp encoder output (the system
# libwebp.so via ctypes), exercising the spec tables a same-repo
# round-trip can never falsify (kCodeToPlane distance mapping, canonical
# code-length coding, meta-prefix images, predictors chosen by a real
# encoder). Skipped when the shared library is absent.
# ---------------------------------------------------------------------------

def _libwebp():
    import ctypes
    import glob
    for cand in sorted(glob.glob("/usr/lib/*/libwebp.so*")):
        try:
            return ctypes.CDLL(cand)
        except OSError:
            continue
    return None


def _libwebp_lossless(rgba: np.ndarray, use_alpha: bool) -> bytes | None:
    import ctypes
    lib = _libwebp()
    if lib is None:
        return None
    h, w = rgba.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    if use_alpha:
        fn = lib.WebPEncodeLosslessRGBA
        buf = rgba.tobytes()
        stride = w * 4
    else:
        fn = lib.WebPEncodeLosslessRGB
        buf = rgba[..., :3].tobytes()
        stride = w * 3
    fn.restype = ctypes.c_size_t
    fn.argtypes = [ctypes.c_char_p, ctypes.c_int, ctypes.c_int,
                   ctypes.c_int,
                   ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
    n = fn(buf, w, h, stride, ctypes.byref(out))
    if n == 0:
        return None
    data = bytes(bytearray(
        ctypes.cast(out, ctypes.POINTER(ctypes.c_uint8 * n)).contents))
    lib.WebPFree(ctypes.cast(out, ctypes.c_void_p))
    return data


def _parity_images():
    rng = np.random.default_rng(77)
    yy, xx = np.mgrid[0:29, 0:43]
    smooth = np.stack([(xx * 5) % 256, (yy * 7) % 256,
                       ((xx + yy) * 3) % 256], axis=-1).astype(np.uint8)
    mixed = smooth.copy()
    mixed[12:, 25:] = rng.integers(0, 256, (17, 18, 3))
    noise = rng.integers(0, 256, (31, 37, 3)).astype(np.uint8)
    pal = np.array([[10, 20, 30], [200, 100, 0], [0, 0, 0],
                    [255, 255, 255], [5, 250, 125]], np.uint8)
    paletted = pal[rng.integers(0, len(pal), (40, 51))]
    imgs = {"smooth": smooth, "mixed": mixed, "noise": noise,
            "paletted": paletted}
    out = {}
    for k, im in imgs.items():
        rgba = np.dstack([im, np.full(im.shape[:2], 255, np.uint8)])
        out[k] = rgba
    alpha = np.dstack([smooth, ((xx * 11) % 256).astype(np.uint8)])
    out["alpha"] = alpha
    return out


def _libwebp_decode_rgba(data: bytes) -> np.ndarray | None:
    import ctypes
    lib = _libwebp()
    if lib is None:
        return None
    w = ctypes.c_int()
    h = ctypes.c_int()
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [ctypes.c_char_p, ctypes.c_size_t,
                                   ctypes.POINTER(ctypes.c_int),
                                   ctypes.POINTER(ctypes.c_int)]
    p = lib.WebPDecodeRGBA(data, len(data), ctypes.byref(w),
                           ctypes.byref(h))
    if not p:
        return None
    n = w.value * h.value * 4
    arr = np.frombuffer(bytes(bytearray(
        ctypes.cast(p, ctypes.POINTER(ctypes.c_uint8 * n)).contents)),
        dtype=np.uint8).reshape(h.value, w.value, 4).copy()
    lib.WebPFree(ctypes.cast(p, ctypes.c_void_p))
    return arr


def test_real_libwebp_lossless_files_decode_exactly():
    """Byte parity with libwebp's own decoder on real encoder output.
    (The source image is NOT the oracle: libwebp's default alpha cleanup
    rewrites RGB under fully-transparent pixels at encode time.)"""
    if _libwebp() is None:
        pytest.skip("system libwebp not present")
    for name, rgba in _parity_images().items():
        use_alpha = name == "alpha"
        data = _libwebp_lossless(rgba, use_alpha)
        assert data is not None, name
        want = _libwebp_decode_rgba(data)
        assert want is not None, name
        img = np.asarray(webp_decode(data))
        assert img.shape == want.shape, name
        assert np.array_equal(img, want), name
        # and against the source wherever pixels are opaque
        opaque = rgba[..., 3] > 0
        assert np.array_equal(img[opaque][:, :3], rgba[opaque][:, :3]), name
