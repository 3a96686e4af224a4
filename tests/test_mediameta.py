"""MP4 sample addressing (functions/mediameta.py): mp4_sample_ranges is
checked against hand-built ISO-BMFF payloads whose planted sample bytes
and stts timings are known ground truth."""

import struct


def _box(tag, payload):
    return struct.pack(">I", 8 + len(payload)) + tag + payload



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
    """co64 (64-bit chunk offsets) must be detected by the box TAG (the 4
    bytes before the body), not the size field — a check that reads
    [size] parses every co64 table as 4-byte stco entries, returning
    silently wrong offsets."""
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
