"""Header-only media probing (functions/mediameta.py): the corpus-scale
first pass — classify and extract cheap facts from a few hundred bytes,
no decode. Fixtures come from the in-repo encoders or, for formats
without one, hand-built headers, so probe output is checked against
known ground truth."""

import struct

import numpy as np

from avecado_spark.functions.mediameta import media_probe, probe_media


def _box(tag, payload):
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def _jpeg_header(w, h):
    """SOI + a baseline SOF0 segment (3 components, 4:2:0) + EOI."""
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    return (b"\xff\xd8\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
            + b"\xff\xd9")


def _vp8_header(w, h):
    """RIFF/WEBP with a lossy VP8 chunk: key-frame tag, start code, dims."""
    frame = (bytes([0x10, 0, 0]) + b"\x9d\x01\x2a"
             + struct.pack("<HH", w, h) + b"\x00" * 8)
    chunk = b"VP8 " + struct.pack("<I", len(frame)) + frame
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _fixtures():
    from avecado_spark.functions.gif import gif_encode
    from avecado_spark.functions.webp import webp_encode
    from avecado_spark.operators.raster import png_encode
    from avecado_spark.sources.multimodal import wav_encode

    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (24, 31, 3)).astype(np.uint8)
    pal = np.unique(rng.integers(0, 256, (20, 3)).astype(np.uint8), axis=0)
    gimg = pal[rng.integers(0, len(pal), (24, 31))]
    rgba = np.dstack([img, np.full((24, 31), 255, np.uint8)])
    sig = (1000 * np.sin(np.arange(16000) * 0.1)).astype(np.int16)
    mvhd = _box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 5500)
                + b"\x00" * 80)
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    # full sample-table leg: mdhd timescale 30000 / duration 165000
    # (5.5s), stsd first-entry codec avc1, stsz 165 samples, stts
    # 165 x 1000-tick deltas
    mdhd = _box(b"mdhd", b"\x00" * 12
                + struct.pack(">II", 30000, 165000) + b"\x00" * 4)
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1)
                + struct.pack(">I", 16) + b"avc1" + b"\x00" * 8)
    stsz = _box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 165))
    stts = _box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, 165, 1000))
    stbl = _box(b"stbl", stsd + stsz + stts)
    mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
    moov = _box(b"moov", mvhd + _box(b"trak", mdia))
    return {
        "png": (png_encode(img), {"format": "png", "width": 31,
                                  "height": 24}),
        "jpeg": (_jpeg_header(31, 24), {"format": "jpeg", "width": 31,
                                        "height": 24,
                                        "progressive": False}),
        "gif": (gif_encode(gimg), {"format": "gif", "width": 31,
                                   "height": 24}),
        "webp_lossless": (webp_encode(rgba),
                          {"format": "webp", "codec": "vp8l",
                           "width": 31, "height": 24}),
        "webp_lossy": (_vp8_header(31, 24),
                       {"format": "webp", "codec": "vp8",
                        "width": 31, "height": 24}),
        "wav": (wav_encode(sig, rate=16000),
                {"format": "wav", "codec": "pcm", "channels": 1,
                 "sample_rate": 16000, "bits": 16, "duration_s": 1.0}),
        "y4m": (b"YUV4MPEG2 W320 H240 F30:1 Ip A1:1 C420\nFRAME\n"
                + b"\x00" * 10,
                {"format": "y4m", "width": 320, "height": 240,
                 "fps": 30.0}),
        "mp3": (bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 41700,
                {"format": "mp3", "version": "1", "layer": 3,
                 "bitrate_kbps": 128, "sample_rate": 44100,
                 "duration_s": 2.607}),
        "mp4": (_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov,
                {"format": "mp4", "brand": "isom", "duration_s": 5.5,
                 "tracks": [{"handler": "vide", "codec": "avc1",
                             "sample_count": 165, "duration_s": 5.5}]}),
    }


def test_probe_every_format_ground_truth():
    for name, (payload, want) in _fixtures().items():
        assert probe_media(payload) == want, name
    assert probe_media(b"\x00\x01garbage")["format"] == "unknown"
    assert probe_media(b"")["format"] == "unknown"


def test_mp4_sample_table_fallbacks():
    from avecado_spark.functions.mediameta import _probe_mp4
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    # mdhd carries no duration -> exact stts sample-delta sum is used
    mdhd0 = _box(b"mdhd", b"\x00" * 12 + struct.pack(">II", 30000, 0)
                 + b"\x00" * 4)
    stts = _box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, 165, 1000))
    stsz = _box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 165))
    mdia = _box(b"mdia", mdhd0 + _box(b"minf", _box(b"stbl", stts + stsz)))
    m = _probe_mp4(ftyp + _box(b"moov", _box(b"trak", mdia)))
    assert m["tracks"] == [{"sample_count": 165, "duration_s": 5.5}]
    # v1 mvhd whose 8-byte duration is cut at 4 bytes: skipped, not
    # misparsed into a wrong duration (the old body+28 bound read short)
    mvhd_v1_cut = _box(b"mvhd", b"\x01" + b"\x00" * 19
                       + struct.pack(">I", 1000) + b"\x00" * 4)
    m = _probe_mp4(ftyp + _box(b"moov", mvhd_v1_cut))
    assert "duration_s" not in m


def test_probe_never_decodes_far():
    """Probing must stay a header parse: truncating every fixture to its
    first 64 bytes still classifies the format (dims/duration may be
    absent for containers whose facts live later, never a crash)."""
    for name, (payload, want) in _fixtures().items():
        m = probe_media(payload[:64])
        if name == "mp4":
            assert m["format"] in ("mp4", "unknown")  # moov may be cut
        elif name == "mp3":
            assert m["format"] in ("mp3", "unknown")
        else:
            assert m["format"] == want["format"], name


def test_media_probe_spark_surface(spark):
    """The distributed probe: mixed payload kinds in one frame, one
    map-side pass (no Exchange in the plan), correct per-row facts."""
    fx = _fixtures()
    rows = [(i, name, bytearray(payload))
            for i, (name, (payload, _)) in enumerate(fx.items())]
    df = spark.createDataFrame(rows, "id long, kind string, payload binary")
    out = media_probe(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r.kind: r for r in out.collect()}
    assert got["png"].format == "png" and got["png"].width == 31
    assert got["webp_lossy"].codec == "vp8"
    assert got["wav"].duration_s == 1.0 and got["wav"].sample_rate == 16000
    assert got["mp3"].duration_s and got["mp3"].format == "mp3"
    assert got["mp4"].duration_s == 5.5
    assert got["y4m"].height == 240


def test_flac_streaminfo_probe():
    bits64 = (44100 << 44) | ((2 - 1) << 41) | ((16 - 1) << 36) | 441000
    streaminfo = (struct.pack(">HH", 4096, 4096) + b"\x00" * 6
                  + bits64.to_bytes(8, "big") + b"\x00" * 16)
    payload = b"fLaC" + b"\x80" + len(streaminfo).to_bytes(3, "big") \
        + streaminfo
    assert probe_media(payload) == {
        "format": "flac", "sample_rate": 44100, "channels": 2,
        "bits": 16, "duration_s": 10.0}


def test_mp3_xing_exact_duration():
    """A Xing VBR header upgrades the size-estimate to the exact
    frame-count duration (115 frames x 1152 samples @ 44100)."""
    p = (bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 32
         + b"Xing" + (1).to_bytes(4, "big") + (115).to_bytes(4, "big")
         + b"\x00" * 64)
    m = probe_media(p)
    assert m["format"] == "mp3" and m["vbr"] is True
    assert m["duration_s"] == round(115 * 1152 / 44100, 3)


def _ogg_page(header_type, granule, packet=b""):
    segs = bytes([len(packet)]) if packet else bytes([0])
    return (b"OggS\x00" + bytes([header_type])
            + granule.to_bytes(8, "little", signed=True)
            + b"\x00" * 12 + bytes([1]) + segs + packet)


def test_ogg_opus_and_vorbis_probe():
    opushead = (b"OpusHead\x01\x02" + (312).to_bytes(2, "little")
                + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
    p = _ogg_page(2, 0, opushead) + _ogg_page(4, 960312)
    m = probe_media(p)
    assert m == {"format": "ogg", "codec": "opus", "channels": 2,
                 "sample_rate": 48000,
                 "duration_s": round((960312 - 312) / 48000, 3)}
    vorb = (b"\x01vorbis" + b"\x00" * 4 + bytes([2])
            + (44100).to_bytes(4, "little") + b"\x00" * 8)
    p = _ogg_page(2, 0, vorb) + _ogg_page(4, 441000)
    m = probe_media(p)
    assert m == {"format": "ogg", "codec": "vorbis", "channels": 2,
                 "sample_rate": 44100, "duration_s": 10.0}


def test_mp4_sample_ranges_exact_addressing():
    """mp4_sample_ranges walks stsc/stco/stsz/stts to exact per-sample
    byte windows: slicing the payload at each (offset, size) returns the
    planted sample bytes, and times follow the stts deltas."""
    from avecado_spark.functions.mediameta import mp4_sample_ranges

    # 5 samples of distinct sizes, packed into 2 chunks (3 + 2)
    samples = [bytes([65 + i]) * (3 + 2 * i) for i in range(5)]
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_body = b"".join(samples)
    mdat_at = len(ftyp) + 8                    # body offset of mdat
    chunk0_at = mdat_at
    chunk1_at = mdat_at + sum(len(s) for s in samples[:3])
    mdat = _box(b"mdat", mdat_body)

    mdhd = _box(b"mdhd", b"\x00" * 12 + struct.pack(">II", 1000, 500)
                + b"\x00" * 4)
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1)
                + struct.pack(">I", 16) + b"avc1" + b"\x00" * 8)
    stsz = _box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 5)
                + b"".join(struct.pack(">I", len(s)) for s in samples))
    # two stts runs: 3 x 100 ticks then 2 x 250 ticks (timescale 1000)
    stts = _box(b"stts", b"\x00" * 4 + struct.pack(">I", 2)
                + struct.pack(">II", 3, 100) + struct.pack(">II", 2, 250))
    stsc = _box(b"stsc", b"\x00" * 4 + struct.pack(">I", 2)
                + struct.pack(">III", 1, 3, 1)   # chunk 1: 3 samples
                + struct.pack(">III", 2, 2, 1))  # chunk 2+: 2 samples
    stco = _box(b"stco", b"\x00" * 4 + struct.pack(">I", 2)
                + struct.pack(">II", chunk0_at, chunk1_at))
    stbl = _box(b"stbl", stsd + stsz + stts + stsc + stco)
    mdia = _box(b"mdia", mdhd + _box(b"minf", stbl))
    moov = _box(b"moov", _box(b"trak", mdia))
    payload = ftyp + mdat + moov

    got = mp4_sample_ranges(payload)
    assert len(got) == 5
    for (off, size, t), want in zip(got, samples):
        assert payload[off:off + size] == want
    assert [t for _, _, t in got] == [0.0, 0.1, 0.2, 0.3, 0.55]

    # uniform-size stsz variant: same chunks, sample_size field set
    stsz_u = _box(b"stsz", b"\x00" * 4 + struct.pack(">II", 7, 4))
    stsc_u = _box(b"stsc", b"\x00" * 4 + struct.pack(">I", 1)
                  + struct.pack(">III", 1, 2, 1))
    stco_u = _box(b"stco", b"\x00" * 4 + struct.pack(">I", 2)
                  + struct.pack(">II", mdat_at, mdat_at + 14))
    stts_u = _box(b"stts", b"\x00" * 4 + struct.pack(">I", 1)
                  + struct.pack(">II", 4, 500))
    stbl_u = _box(b"stbl", stsd + stsz_u + stts_u + stsc_u + stco_u)
    pay_u = (ftyp + _box(b"mdat", bytes(range(28)))
             + _box(b"moov", _box(b"trak", _box(b"mdia", mdhd
                    + _box(b"minf", stbl_u)))))
    got_u = mp4_sample_ranges(pay_u)
    assert [(o, s) for o, s, _ in got_u] \
        == [(mdat_at, 7), (mdat_at + 7, 7),
            (mdat_at + 14, 7), (mdat_at + 21, 7)]

    # fragmented input is a loud boundary, not a wrong answer
    import pytest
    frag = ftyp + _box(b"moof", b"") + moov
    with pytest.raises(NotImplementedError):
        mp4_sample_ranges(frag)


def test_mp4_sample_ranges_co64():
    """r08 advisor fix: co64 (64-bit chunk offsets) must be detected by
    the box TAG (the 4 bytes before the body), not the size field — the
    old check read [size] and parsed every co64 table as 4-byte stco
    entries, returning silently wrong offsets."""
    from avecado_spark.functions.mediameta import mp4_sample_ranges

    samples = [bytes([65 + i]) * (3 + 2 * i) for i in range(5)]
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_body = b"".join(samples)
    mdat_at = len(ftyp) + 8
    chunk0_at = mdat_at
    chunk1_at = mdat_at + sum(len(s) for s in samples[:3])
    mdat = _box(b"mdat", mdat_body)
    mdhd = _box(b"mdhd", b"\x00" * 12 + struct.pack(">II", 1000, 500)
                + b"\x00" * 4)
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1)
                + struct.pack(">I", 16) + b"avc1" + b"\x00" * 8)
    stsz = _box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 5)
                + b"".join(struct.pack(">I", len(s)) for s in samples))
    stts = _box(b"stts", b"\x00" * 4 + struct.pack(">I", 2)
                + struct.pack(">II", 3, 100) + struct.pack(">II", 2, 250))
    stsc = _box(b"stsc", b"\x00" * 4 + struct.pack(">I", 2)
                + struct.pack(">III", 1, 3, 1)
                + struct.pack(">III", 2, 2, 1))
    co64 = _box(b"co64", b"\x00" * 4 + struct.pack(">I", 2)
                + struct.pack(">QQ", chunk0_at, chunk1_at))
    stbl = _box(b"stbl", stsd + stsz + stts + stsc + co64)
    moov = _box(b"moov", _box(b"trak", _box(b"mdia", mdhd
                + _box(b"minf", stbl))))
    got = mp4_sample_ranges(ftyp + mdat + moov)
    assert len(got) == 5
    payload = ftyp + mdat + moov
    for (off, size, t), want in zip(got, samples):
        assert payload[off:off + size] == want
    assert [t for _, _, t in got] == [0.0, 0.1, 0.2, 0.3, 0.55]
