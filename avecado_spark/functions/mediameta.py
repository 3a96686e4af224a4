"""MP4 (ISO-BMFF) sample addressing — byte ranges without decoding.

`mp4_sample_ranges(payload, track)` walks one track's sample tables
(stsc, stco/co64, stsz, stts) to exact per-sample (offset, size, time_s)
windows, so single frames or packets can be handed to an external decoder
or a range fetch without shipping whole files. Pure box parsing from the
public container spec; no codec work.
"""

from __future__ import annotations


def _mp4_boxes(p: bytes, lo: int, hi: int):
    """Yield (tag, body_lo, box_hi) for the child boxes of [lo, hi)."""
    pos = lo
    while pos + 8 <= hi:
        size = int.from_bytes(p[pos:pos + 4], "big")
        tag = p[pos + 4:pos + 8]
        if size == 1:
            if pos + 16 > hi:
                return
            size = int.from_bytes(p[pos + 8:pos + 16], "big")
            body = pos + 16
        else:
            body = pos + 8
        if size < 8 or pos + size > hi:
            return
        yield tag, body, pos + size
        pos += size


def _mp4_find(p: bytes, lo: int, hi: int, path: list[bytes],
              index: int = 0):
    """Span of the `index`-th box at a nested tag path, or None."""
    tag = path[0]
    seen = 0
    for t, body, end in _mp4_boxes(p, lo, hi):
        if t != tag:
            continue
        if len(path) == 1:
            if seen == index:
                return body, end
            seen += 1
        else:
            got = _mp4_find(p, body, end, path[1:], index)
            if got is not None:
                return got
    return None


def mp4_sample_ranges(payload: bytes,
                      track: int = 0) -> list[tuple[int, int, float]]:
    """Per-sample byte ranges of one MP4 track: (offset, size, time_s)
    from the stsc (sample→chunk runs), stco/co64 (chunk offsets), stsz
    (sizes), and stts (decode-time deltas) tables — the ISO-BMFF walk a
    pipeline needs to hand individual frames/packets to an external
    decoder or a range fetch WITHOUT shipping whole files (the video
    analog of the WARC record index). No codec work: byte addressing
    only. Fragmented (moof) streams are out of scope and raise."""
    p = bytes(payload)
    if len(p) < 12 or p[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")
    if _mp4_find(p, 0, len(p), [b"moof"]) is not None:
        raise NotImplementedError("fragmented MP4 (moof) not supported")
    moov = _mp4_find(p, 0, len(p), [b"moov"])
    if moov is None:
        raise ValueError("no moov box")
    trak = _mp4_find(p, *moov, [b"trak"], index=track)
    if trak is None:
        raise ValueError(f"no trak #{track}")
    stbl = _mp4_find(p, *trak, [b"mdia", b"minf", b"stbl"])
    mdhd = _mp4_find(p, *trak, [b"mdia", b"mdhd"])
    if stbl is None or mdhd is None:
        raise ValueError("trak missing stbl or mdhd")
    v = p[mdhd[0]]
    timescale = int.from_bytes(
        p[mdhd[0] + (20 if v == 1 else 12):mdhd[0] + (24 if v == 1 else 16)],
        "big") or 1

    def table(tag: bytes):
        span = _mp4_find(p, *stbl, [tag])
        return span

    u32 = lambda at: int.from_bytes(p[at:at + 4], "big")
    stsz = table(b"stsz")
    stsc = table(b"stsc")
    stco = table(b"stco") or table(b"co64")
    stts = table(b"stts")
    if not (stsz and stsc and stco and stts):
        raise ValueError("stbl missing one of stsz/stsc/stco/stts")

    uniform = u32(stsz[0] + 4)
    n_samples = u32(stsz[0] + 8)
    sizes = ([uniform] * n_samples if uniform else
             [u32(stsz[0] + 12 + 4 * i) for i in range(n_samples)])

    # box layout is [size][tag][body]: the TAG is the 4 bytes just before
    # the body (reading [size] here would leave wide always False,
    # silently mis-parsing 64-bit co64 offset tables as stco)
    wide = p[stco[0] - 4:stco[0]] == b"co64" \
        if stco[0] >= 4 else False
    n_chunks = u32(stco[0] + 4)
    if wide:
        offsets = [int.from_bytes(p[stco[0] + 8 + 8 * i:
                                    stco[0] + 16 + 8 * i], "big")
                   for i in range(n_chunks)]
    else:
        offsets = [u32(stco[0] + 8 + 4 * i) for i in range(n_chunks)]

    n_runs = u32(stsc[0] + 4)
    runs = [(u32(stsc[0] + 8 + 12 * i), u32(stsc[0] + 12 + 12 * i))
            for i in range(n_runs)]            # (first_chunk, per_chunk)

    times: list[int] = []
    n_tt = u32(stts[0] + 4)
    t = 0
    for i in range(n_tt):
        cnt = u32(stts[0] + 8 + 8 * i)
        delta = u32(stts[0] + 12 + 8 * i)
        for _ in range(cnt):
            times.append(t)
            t += delta

    out: list[tuple[int, int, float]] = []
    s = 0
    for ci in range(n_chunks):
        per = 0
        for first, cnt in runs:
            if first <= ci + 1:
                per = cnt
        at = offsets[ci]
        for _ in range(per):
            if s >= n_samples:
                break
            out.append((at, sizes[s],
                        round(times[s] / timescale, 6)
                        if s < len(times) else 0.0))
            at += sizes[s]
            s += 1
    if s != n_samples:
        raise ValueError(f"sample walk covered {s} of {n_samples} samples")
    return out
