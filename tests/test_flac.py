"""FLAC codec (functions/flac.py): exact lossless round-trips per coding
tool — the same bar as the VP8L/GIF codecs (no external data; the
fixture encoder lives in the same module)."""

import numpy as np
import pytest

from avecado_spark.functions.flac import (crc8, crc16, flac_decode,
                                          flac_encode)

rng = np.random.default_rng(20260818)


def _roundtrip(x, rate=44100, **kw):
    data = flac_encode(x, rate, **kw)
    got, got_rate = flac_decode(data)
    want = np.asarray(x, dtype=np.int32)
    if want.ndim == 1:
        want = want[:, None]
    assert got_rate == rate
    assert got.shape == want.shape
    assert np.array_equal(got, want)
    return data


def test_crc_known_vectors():
    # CRC-8 poly 0x07 and CRC-16/BUYPASS poly 0x8005 (init 0) published
    # check values for b"123456789"
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8


def test_constant_and_verbatim_and_fixed_mono():
    _roundtrip(np.zeros(1000, dtype=np.int64))              # constant 0
    _roundtrip(np.full(500, -17))                           # constant neg
    _roundtrip(rng.integers(-32768, 32768, 4096))           # noise
    t = np.arange(10000)
    smooth = (3000 * np.sin(t / 50) + 200 * np.sin(t / 7)).astype(np.int64)
    data = _roundtrip(smooth)                               # fixed orders
    assert len(data) < smooth.size * 2                      # actually coded


def test_block_boundaries_and_short_tail():
    for n in (1, 191, 192, 4095, 4096, 4097, 9000):
        x = rng.integers(-1000, 1000, n)
        _roundtrip(x)
    _roundtrip(rng.integers(-100, 100, 700), block=192)
    _roundtrip(rng.integers(-100, 100, 700), block=300)     # non-table size


def test_stereo_all_decorrelation_modes():
    t = np.arange(6000)
    left = (5000 * np.sin(t / 30)).astype(np.int64)
    right = left + rng.integers(-50, 50, len(t))            # correlated
    x = np.stack([left, right], axis=1)
    for mode in (None, "ls", "rs", "ms"):
        _roundtrip(x, stereo_mode=mode)
    # odd left+right exercises the mid/side low-bit carry
    odd = np.stack([np.array([3, -3, 7, 1]), np.array([2, 4, -6, 0])], axis=1)
    _roundtrip(odd, stereo_mode="ms")


def test_rice_partitions_and_escape():
    x = rng.integers(-200, 200, 4096)
    for porder in (0, 2, 4):
        _roundtrip(x, porder=porder)
    # alternating huge values blow up every fixed predictor -> residuals
    # force the escape partition (or verbatim; both must round-trip)
    wild = np.where(np.arange(2048) % 2 == 0, 30000, -30000)
    _roundtrip(wild)


def test_lpc_subframes():
    t = np.arange(5000)
    x = (8000 * np.sin(t / 40)).astype(np.int64)
    # any (coeffs, shift) round-trips exactly; these approximate o2
    data = _roundtrip(x, lpc=([131, -66], 6))
    got, _ = flac_decode(data)
    assert np.array_equal(got[:, 0], x)


def test_wasted_bits():
    x = rng.integers(-500, 500, 3000) << 3                  # 3 wasted bits
    data8 = _roundtrip(x)
    dense = _roundtrip(x >> 3)
    # the wasted-bit stream should be about as small as the dense one
    assert len(data8) < len(dense) * 1.2


def test_bps_8_and_multichannel():
    _roundtrip(rng.integers(-128, 128, 2000), bps=8)
    x3 = rng.integers(-1000, 1000, (1500, 3))               # 3 channels
    _roundtrip(x3)


def test_corruption_detected():
    x = rng.integers(-1000, 1000, 2000)
    data = bytearray(flac_encode(x, 44100))
    data[len(data) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        flac_decode(bytes(data))


def test_decode_audio_flac_real():
    from avecado_spark.sources.multimodal import decode_audio
    x = (3000 * np.sin(np.arange(8000) / 25)).astype(np.int64)
    payload = flac_encode(x, 22050)
    wave = decode_audio(payload, n_samples=4096)
    assert wave.dtype == np.int16
    assert np.array_equal(wave, x[:4096].astype(np.int16))
