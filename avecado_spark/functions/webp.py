"""Lossless WebP (VP8L) codec in pure numpy/stdlib.

Decoder (`webp_decode`): the full VP8L bitstream per the public "WebP
Lossless Bitstream Specification" — RIFF/WEBP container (VP8L chunk,
optionally inside VP8X), LSB-first bit reading, simple and normal prefix
codes (code-length codes with 16/17/18 repeats and the max_symbol
shortcut), optional meta-prefix (entropy) images, color cache, LZ77
backward references with the 120-entry 2D neighbor distance mapping, and
all four inverse transforms: PREDICTOR (14 modes), COLOR (signed 3.5
cross-channel deltas), SUBTRACT_GREEN, COLOR_INDEXING (palette, with
pixel bundling for palettes of 2/4/16). Returns (h, w, 4) uint8 RGBA.
Lossy WebP (VP8 chunk) is not decoded: it raises NotImplementedError.

Encoder (`webp_encode`): a valid VP8L writer for round-trip fixtures —
literal pixels with canonical prefix codes (flat 4-bit code-length
code), optional color cache, distance-1 LZ77 run compression,
SUBTRACT_GREEN, and COLOR_INDEXING with bundling for small palettes.
Lossless: decode(encode(img)) == img EXACTLY, which is what the tests
pin.
"""

from __future__ import annotations

import struct

import numpy as np

# order in which code-length-code lengths are stored (spec 6.2.2.1)
CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# LZ77 neighbor offsets (spec 6.2.3 2D locality transform):
# (dy, dx) for distance codes 1..120 — the spec's kCodeToPlane unpacked
# (dy = high nibble, dx = 8 - low nibble), verified byte-for-byte against
# the table embedded in the system libwebp (tests/test_webp.py). Note
# code 1 is the pixel ABOVE and code 2 the pixel to the LEFT (dist 1).
_NEIGHBOR = [
    (1, 0), (0, 1), (1, 1), (1, -1), (2, 0), (0, 2), (2, 1), (2, -1),
    (1, 2), (1, -2), (2, 2), (2, -2), (3, 0), (0, 3), (3, 1), (3, -1),
    (1, 3), (1, -3), (3, 2), (3, -2), (2, 3), (2, -3), (4, 0), (0, 4),
    (4, 1), (4, -1), (1, 4), (1, -4), (3, 3), (3, -3), (4, 2), (4, -2),
    (2, 4), (2, -4), (5, 0), (4, 3), (4, -3), (3, 4), (3, -4), (0, 5),
    (5, 1), (5, -1), (1, 5), (1, -5), (5, 2), (5, -2), (2, 5), (2, -5),
    (4, 4), (4, -4), (5, 3), (5, -3), (3, 5), (3, -5), (6, 0), (0, 6),
    (6, 1), (6, -1), (1, 6), (1, -6), (6, 2), (6, -2), (2, 6), (2, -6),
    (5, 4), (5, -4), (4, 5), (4, -5), (6, 3), (6, -3), (3, 6), (3, -6),
    (7, 0), (0, 7), (7, 1), (7, -1), (5, 5), (5, -5), (1, 7), (1, -7),
    (6, 4), (6, -4), (4, 6), (4, -6), (7, 2), (7, -2), (2, 7), (2, -7),
    (7, 3), (7, -3), (3, 7), (3, -7), (6, 5), (6, -5), (5, 6), (5, -6),
    (0, 8), (7, 4), (7, -4), (4, 7), (4, -7), (1, 8), (2, 8), (6, 6),
    (6, -6), (3, 8), (7, 5), (7, -5), (5, 7), (5, -7), (4, 8), (7, 6),
    (7, -6), (6, 7), (6, -7), (5, 8), (7, 7), (7, -7), (6, 8), (7, 8)]


# ---------------------------------------------------------------------------
# bit I/O (LSB-first, unlike JPEG)
# ---------------------------------------------------------------------------

class _LsbReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.pos >= len(self.data):
                raise ValueError("VP8L bitstream truncated")
            b = (self.data[self.pos] >> self.bit) & 1
            v |= b << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v


class _LsbWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int):
        """Prefix codes are read MSB-of-code first — reverse into the
        LSB-first stream."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for nonzero lengths, canonical order."""
    pairs = sorted((ln, s) for s, ln in enumerate(lengths) if ln > 0)
    codes = {}
    code = 0
    prev_len = pairs[0][0] if pairs else 0
    for ln, s in pairs:
        code <<= (ln - prev_len)
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _PrefixDecoder:
    def __init__(self, lengths: list[int]):
        nz = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        self.table = {(ln, c): s
                      for s, (c, ln) in _canonical_codes(lengths).items()}
        self.max_len = max(ln for ln, _ in nz)

    @classmethod
    def simple(cls, symbols: list[int]):
        d = cls.__new__(cls)
        if len(symbols) == 1:
            d.single = symbols[0]
            d.table = None
        else:
            d.single = None
            d.table = {(1, 0): symbols[0], (1, 1): symbols[1]}
            d.max_len = 1
        return d

    def read(self, br: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            s = self.table.get((ln, code))
            if s is not None:
                return s
        raise ValueError("invalid VP8L prefix code")


def _read_prefix_code(br: _LsbReader, alphabet: int) -> _PrefixDecoder:
    if br.read(1):                       # simple code
        n = br.read(1) + 1
        if br.read(1):                   # first symbol 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        syms = [s0]
        if n == 2:
            syms.append(br.read(8))
        return _PrefixDecoder.simple(syms)
    ncodes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(ncodes):
        cl_lengths[CL_ORDER[i]] = br.read(3)
    cl = _PrefixDecoder(cl_lengths)
    # optional max_symbol shortcut
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:                            # 18
            i += 11 + br.read(7)
    return _PrefixDecoder(lengths)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _iter_chunks(data: bytes, pos: int):
    """RIFF sub-chunk walk: yields (fourcc, body) honoring the odd-size
    pad byte. Truncated trailing chunks are yielded with whatever bytes
    exist (the per-codec decoders fail loudly on short payloads)."""
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        sz = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        yield tag, data[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)


def _vp8l_decode_rgba(vp8l: bytes) -> np.ndarray:
    if vp8l[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _LsbReader(vp8l[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)                            # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    argb = _decode_image_stream(br, w, h, is_level0=True)
    # ARGB (a, r, g, b) planes → RGBA
    return np.stack([argb[:, :, 1], argb[:, :, 2], argb[:, :, 3],
                     argb[:, :, 0]], axis=2)


def _decode_frame_chunks(chunks) -> np.ndarray:
    """Decode an (ALPH?, VP8|VP8L) chunk sequence to (h, w, 4) RGBA —
    the frame-payload shape shared by the top-level container and each
    ANMF body (container spec 'Animation': frame data is itself a chunk
    sequence). Only the lossless VP8L flavor decodes."""
    for tag, body in chunks:
        if tag == b"VP8L":
            return _vp8l_decode_rgba(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 chunk) decode is not implemented; only "
                "lossless VP8L decodes")
    raise ValueError("no VP8L chunk in WebP container")


def webp_decode(data: bytes) -> np.ndarray:
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) payload")
    return _decode_frame_chunks(_iter_chunks(data, 12))


def _decode_image_stream(br, w, h, is_level0):
    transforms = []
    if is_level0:
        while br.read(1):
            t = br.read(2)
            if any(t == tt for tt, _ in transforms):
                raise ValueError("duplicate VP8L transform")
            if t == 0:                    # PREDICTOR
                size_bits = br.read(3) + 2
                bw_ = -(-w // (1 << size_bits))
                bh_ = -(-h // (1 << size_bits))
                sub = _decode_image_stream(br, bw_, bh_, False)
                transforms.append((0, (size_bits, sub)))
            elif t == 1:                  # COLOR
                size_bits = br.read(3) + 2
                bw_ = -(-w // (1 << size_bits))
                bh_ = -(-h // (1 << size_bits))
                sub = _decode_image_stream(br, bw_, bh_, False)
                transforms.append((1, (size_bits, sub)))
            elif t == 2:                  # SUBTRACT_GREEN
                transforms.append((2, None))
            else:                         # COLOR_INDEXING
                n_colors = br.read(8) + 1
                palette = _decode_image_stream(br, n_colors, 1, False)[0]
                # palette entries are delta-coded component-wise
                palette = np.cumsum(palette.astype(np.int64),
                                    axis=0).astype(np.uint8)
                if n_colors <= 2:
                    bits = 3
                elif n_colors <= 4:
                    bits = 2
                elif n_colors <= 16:
                    bits = 1
                else:
                    bits = 0
                transforms.append((3, (palette, bits, w)))
                if bits:
                    w = -(-w // (1 << bits))
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError("bad color-cache size")
    meta = None
    meta_bits = 0
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = -(-w // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta = _decode_image_stream(br, mw, mh, False)
        n_groups = int((meta[:, :, 1].astype(np.int64) << 8
                        | meta[:, :, 2]).max()) + 1
    else:
        n_groups = 1
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        g = _read_prefix_code(br, green_alpha)
        r = _read_prefix_code(br, 256)
        b = _read_prefix_code(br, 256)
        a = _read_prefix_code(br, 256)
        d = _read_prefix_code(br, 40)
        groups.append((g, r, b, a, d))
    cache = [0] * (1 << cache_bits) if cache_bits else None

    out = np.zeros((h, w, 4), dtype=np.uint8)   # (a, r, g, b)
    flat = out.reshape(-1, 4)
    npix = w * h
    i = 0
    while i < npix:
        if n_groups > 1:
            y, x = divmod(i, w)
            mp = meta[y >> meta_bits, x >> meta_bits]
            gi = int(mp[1]) << 8 | int(mp[2])
            gcode, rcode, bcode, acode, dcode = groups[gi]
        else:
            gcode, rcode, bcode, acode, dcode = groups[0]
        s = gcode.read(br)
        if s < 256:                       # literal
            g = s
            r = rcode.read(br)
            b = bcode.read(br)
            a = acode.read(br)
            flat[i] = (a, r, g, b)
            if cache is not None:
                _cache_insert(cache, cache_bits, a, r, g, b)
            i += 1
        elif s < 280:                     # LZ77 length prefix
            length = _lz77_value(br, s - 256)
            dcode_sym = dcode.read(br)
            dist_code = _lz77_value(br, dcode_sym)
            if dist_code <= 120:
                dy, dx = _NEIGHBOR[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dist_code - 120
            if dist > i or i + length > npix:
                raise ValueError("VP8L backref out of range")
            for k in range(length):
                flat[i + k] = flat[i + k - dist]
                if cache is not None:
                    a, r, g, b = flat[i + k]
                    _cache_insert(cache, cache_bits, int(a), int(r),
                                  int(g), int(b))
            i += length
        else:                             # color-cache hit
            if cache is None:
                raise ValueError("cache symbol without color cache")
            argb = cache[s - 280]
            flat[i] = ((argb >> 24) & 0xFF, (argb >> 16) & 0xFF,
                       (argb >> 8) & 0xFF, argb & 0xFF)
            i += 1
    for t, payload in reversed(transforms):
        out = _inverse_transform(t, payload, out)
    return out


def _cache_insert(cache, bits, a, r, g, b):
    argb = (a << 24) | (r << 16) | (g << 8) | b
    cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - bits)] = argb


def _lz77_value(br, prefix_code: int) -> int:
    """Length/distance prefix decoding (spec 6.2.3): codes 0..3 are the
    values 1..4; above that, (code>>1 - 1) extra bits."""
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code >> 1) - 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + 1 + br.read(extra)


def _lz77_prefix(value: int) -> tuple[int, int, int]:
    """value → (prefix_code, extra_bits_count, extra_bits_value)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    nbits = v.bit_length() - 1
    prefix = 2 * nbits + ((v >> (nbits - 1)) & 1)
    extra = nbits - 1
    base = (2 + ((v >> (nbits - 1)) & 1)) << extra
    return prefix, extra, value - base - 1


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------

def _inverse_transform(t, payload, img):
    if t == 2:                            # add green
        out = img.astype(np.int64)
        out[:, :, 1] = (out[:, :, 1] + out[:, :, 2]) & 0xFF
        out[:, :, 3] = (out[:, :, 3] + out[:, :, 2]) & 0xFF
        return out.astype(np.uint8)
    if t == 3:                            # color indexing
        palette, bits, orig_w = payload
        h = img.shape[0]
        if bits == 0:
            idx = img[:, :, 2].astype(np.int64)
            out = palette[np.clip(idx, 0, len(palette) - 1)]
            out[idx >= len(palette)] = 0
            return out.reshape(h, -1, 4)
        width_bits = 8 >> bits            # bits per index
        ppb = 1 << bits                   # indices packed per green byte
        packed = img[:, :, 2].astype(np.int64)
        cols = []
        for k in range(ppb):
            cols.append((packed >> (k * width_bits))
                        & ((1 << width_bits) - 1))
        idx = np.stack(cols, axis=2).reshape(h, -1)[:, :orig_w]
        safe = np.clip(idx, 0, len(palette) - 1)
        out = palette[safe]
        out[idx >= len(palette)] = 0
        return out
    if t == 1:                            # color transform
        size_bits, sub = payload
        out = img.astype(np.int64)
        h, w = out.shape[:2]
        for by in range(sub.shape[0]):
            for bx in range(sub.shape[1]):
                cte = sub[by, bx]
                g2r = _s8(int(cte[3]))        # blue channel of cte pixel
                g2b = _s8(int(cte[2]))        # green channel
                r2b = _s8(int(cte[1]))        # red channel
                y0, y1 = by << size_bits, min((by + 1) << size_bits, h)
                x0, x1 = bx << size_bits, min((bx + 1) << size_bits, w)
                blk = out[y0:y1, x0:x1]
                g = (blk[:, :, 2] << 56) >> 56     # int8 view of green
                blk[:, :, 1] = (blk[:, :, 1]
                                + ((g2r * g) >> 5)) & 0xFF
                r = (blk[:, :, 1] << 56) >> 56     # int8 of UPDATED red
                blk[:, :, 3] = (blk[:, :, 3] + ((g2b * g) >> 5)
                                + ((r2b * r) >> 5)) & 0xFF
        return out.astype(np.uint8)
    if t == 0:                            # predictor
        size_bits, sub = payload
        return _inverse_predictor(img, size_bits, sub)
    raise ValueError(f"unknown transform {t}")


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _avg2(a, b):
    return (a.astype(np.int64) + b.astype(np.int64)) // 2


def _clamp_add_sub_full(c, a, b):
    return np.clip(a.astype(np.int64) + b.astype(np.int64)
                   - c.astype(np.int64), 0, 255)


def _clamp_add_sub_half(c, ab):
    return np.clip(ab.astype(np.int64)
                   + (ab.astype(np.int64) - c.astype(np.int64)) // 2,
                   0, 255)


def _inverse_predictor(img, size_bits, sub):
    h, w = img.shape[:2]
    out = img.astype(np.int64)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int64)
            elif y == 0:
                pred = out[0, x - 1]
            elif x == 0:
                pred = out[y - 1, 0]
            else:
                mode = int(sub[y >> size_bits, x >> size_bits, 2])
                L = out[y, x - 1]
                T = out[y - 1, x]
                TL = out[y - 1, x - 1]
                # TR addressing follows libwebp's top[x+1] pointer walk:
                # for the rightmost column that wraps to the CURRENT
                # row's first (already reconstructed) pixel
                TR = out[y - 1, x + 1] if x + 1 < w else out[y, 0]
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int64)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:          # select
                    pl = int(np.abs(T - TL).sum())
                    pt = int(np.abs(L - TL).sum())
                    pred = L if pl < pt else T
                elif mode == 12:
                    pred = _clamp_add_sub_full(TL, L, T)
                elif mode == 13:
                    pred = _clamp_add_sub_half(TL, _avg2(L, T))
                else:
                    raise ValueError(f"bad predictor mode {mode}")
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder (fixtures; valid general VP8L)
# ---------------------------------------------------------------------------

def _write_prefix_code(bw: _LsbWriter, lengths: list[int]):
    """Serialize code lengths with a flat 4-bit code-length code
    (symbols 0..15 all length 4 — complete, no run symbols)."""
    nz = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
    if len(nz) <= 2 and all(s < 256 for s, _ in nz):
        bw.write(1, 1)                    # simple
        bw.write(len(nz) - 1, 1)
        s0 = nz[0][0]
        if s0 <= 1:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(nz) == 2:
            bw.write(nz[1][0], 8)
        return
    bw.write(0, 1)                        # normal
    bw.write(19 - 4, 4)                   # all 19 cl symbols present
    cl_lengths = [0] * 19
    for s in range(16):
        cl_lengths[s] = 4
    for s in CL_ORDER:
        bw.write(cl_lengths[s], 3)
    cl_codes = _canonical_codes(cl_lengths)
    bw.write(0, 1)                        # no max_symbol shortcut
    for ln in lengths:
        c, l = cl_codes[ln]
        bw.write_code(c, l)


def _huff_lengths(freq: dict[int, int], alphabet: int,
                  max_len: int = 15) -> list[int]:
    """Canonical Huffman code lengths (package-merge-free: plain Huffman,
    asserted within max_len — fixture histograms are benign)."""
    import heapq
    items = [(f, [s]) for s, f in freq.items() if f > 0]
    if not items:
        return [0] * alphabet
    if len(items) == 1:
        lengths = [0] * alphabet
        lengths[items[0][1][0]] = 1
        return lengths
    heapq.heapify(items)
    depth = {s: 0 for _, syms in items for s in syms}
    while len(items) > 1:
        f1, s1 = heapq.heappop(items)
        f2, s2 = heapq.heappop(items)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(items, (f1 + f2, s1 + s2))
    lengths = [0] * alphabet
    for s, d in depth.items():
        lengths[s] = d
    if max(depth.values()) > max_len:
        raise ValueError("fixture histogram exceeded 15-bit code depth")
    return lengths


def webp_encode(rgba: np.ndarray, use_cache: bool = True,
                subtract_green: bool = False,
                palette: bool = False,
                predictor: int | None = None,
                color_transform: tuple[int, int, int] | None = None) -> bytes:
    """(h, w, 4) or (h, w, 3) uint8 → lossless WebP. Options pick the
    coding tools so tests can exercise each decoder path: color cache +
    distance-1 run LZ77 (default), SUBTRACT_GREEN, COLOR_INDEXING (with
    pixel bundling when the palette is small), PREDICTOR with a constant
    mode 0..13, COLOR with constant (g2r, g2b, r2b) deltas."""
    rgba = np.asarray(rgba)
    if rgba.ndim == 3 and rgba.shape[2] == 3:
        rgba = np.concatenate([rgba, np.full((*rgba.shape[:2], 1), 255,
                                             dtype=np.uint8)], axis=2)
    h, w = rgba.shape[:2]
    argb = np.stack([rgba[:, :, 3], rgba[:, :, 0], rgba[:, :, 1],
                     rgba[:, :, 2]], axis=2).astype(np.int64)

    bw = _LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(int((rgba[:, :, 3] != 255).any()), 1)
    bw.write(0, 3)                        # version

    enc_w = w
    if palette:
        flat = argb.reshape(-1, 4)
        uniq, inv = np.unique(flat, axis=0, return_inverse=True)
        if len(uniq) > 256:
            raise ValueError("palette encoding needs <= 256 colors")
        bw.write(1, 1)
        bw.write(3, 2)                    # COLOR_INDEXING
        bw.write(len(uniq) - 1, 8)
        # palette stored delta-coded as a 1xN image stream
        deltas = np.diff(np.vstack([[[0, 0, 0, 0]], uniq]), axis=0) & 0xFF
        _encode_literal_stream(bw, deltas.reshape(1, -1, 4),
                               use_cache=False, runs=False,
                               is_level0=False)
        n_colors = len(uniq)
        if n_colors <= 2:
            bits = 3
        elif n_colors <= 4:
            bits = 2
        elif n_colors <= 16:
            bits = 1
        else:
            bits = 0
        idx = inv.reshape(h, w)
        if bits:
            width_bits = 8 >> bits
            ppb = 1 << bits
            enc_w = -(-w // ppb)
            packed = np.zeros((h, enc_w), dtype=np.int64)
            for k in range(ppb):
                cols = idx[:, k::ppb]
                packed[:, :cols.shape[1]] |= cols << (k * width_bits)
            green = packed
        else:
            enc_w = w
            green = idx
        argb = np.zeros((h, enc_w, 4), dtype=np.int64)
        argb[:, :, 0] = 255
        argb[:, :, 2] = green
    elif subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)                    # SUBTRACT_GREEN
        argb = argb.copy()
        argb[:, :, 1] = (argb[:, :, 1] - argb[:, :, 2]) & 0xFF
        argb[:, :, 3] = (argb[:, :, 3] - argb[:, :, 2]) & 0xFF
    elif color_transform is not None:
        g2r, g2b, r2b = color_transform
        bw.write(1, 1)
        bw.write(1, 2)                    # COLOR
        size_bits = 4
        bw.write(size_bits - 2, 3)
        bw_sub = -(-w // (1 << size_bits))
        bh_sub = -(-h // (1 << size_bits))
        cte = np.zeros((bh_sub, bw_sub, 4), dtype=np.int64)
        cte[:, :, 0] = 255
        cte[:, :, 1] = r2b & 0xFF
        cte[:, :, 2] = g2b & 0xFF
        cte[:, :, 3] = g2r & 0xFF
        _encode_literal_stream(bw, cte, use_cache=False, runs=False,
                               is_level0=False)
        argb = argb.copy()
        g = argb[:, :, 2].copy()
        r = argb[:, :, 1].copy()   # ORIGINAL red — the in-place update
        #                            below must not leak into the r2b term
        argb[:, :, 1] = (argb[:, :, 1]
                         - ((_s8(g2r & 0xFF) * ((g << 56) >> 56)) >> 5)) \
            & 0xFF
        argb[:, :, 3] = (argb[:, :, 3]
                         - ((_s8(g2b & 0xFF) * ((g << 56) >> 56)) >> 5)
                         - ((_s8(r2b & 0xFF) * ((r << 56) >> 56)) >> 5)) \
            & 0xFF
    elif predictor is not None:
        if not (0 <= predictor <= 13):
            raise ValueError("predictor mode must be 0..13")
        bw.write(1, 1)
        bw.write(0, 2)                    # PREDICTOR
        size_bits = 4
        bw.write(size_bits - 2, 3)
        bw_sub = -(-w // (1 << size_bits))
        bh_sub = -(-h // (1 << size_bits))
        sub = np.zeros((bh_sub, bw_sub, 4), dtype=np.int64)
        sub[:, :, 0] = 255
        sub[:, :, 2] = predictor
        _encode_literal_stream(bw, sub, use_cache=False, runs=False,
                               is_level0=False)
        argb = _forward_predictor(argb, size_bits,
                                  sub.astype(np.uint8))
    bw.write(0, 1)                        # end of transforms
    _encode_literal_stream(bw, argb, use_cache=use_cache and not palette,
                           runs=not palette)
    payload = b"\x2f" + bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _encode_literal_stream(bw, argb, use_cache: bool, runs: bool,
                           is_level0: bool = True):
    """Entropy-coded image: literals + optional color cache + optional
    distance-1 LZ77 runs, one prefix-code group."""
    h, w = argb.shape[:2]
    flat = argb.reshape(-1, 4)
    npix = len(flat)
    cache_bits = 8 if use_cache else 0
    if use_cache:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_level0:
        bw.write(0, 1)                    # no meta prefix (level-0 field)

    # token pass: (kind, data) where kind: 0 literal (a,r,g,b),
    # 1 cache (idx), 2 run (length)
    cache = [None] * (1 << cache_bits) if use_cache else None
    tokens = []
    gf, rf, bf, af, df = {}, {}, {}, {}, {}
    i = 0
    while i < npix:
        a, r, g, b = (int(v) for v in flat[i])
        if runs and i > 0 and (flat[i] == flat[i - 1]).all():
            ln = 1
            while i + ln < npix and ln < 4096 and \
                    (flat[i + ln] == flat[i - 1]).all():
                ln += 1
            p, _, _ = _lz77_prefix(ln)
            gf[256 + p] = gf.get(256 + p, 0) + 1
            dpfx, _, _ = _lz77_prefix(2)  # distance code 2 = left pixel
            df[dpfx] = df.get(dpfx, 0) + 1
            tokens.append((2, ln))
            if cache is not None:
                for k in range(ln):
                    aa, rr, gg, bb = (int(v) for v in flat[i + k])
                    _enc_cache_put(cache, cache_bits, aa, rr, gg, bb)
            i += ln
            continue
        key = (a << 24) | (r << 16) | (g << 8) | b
        if cache is not None:
            idx = (0x1E35A7BD * key & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == key:
                gf[280 + idx] = gf.get(280 + idx, 0) + 1
                tokens.append((1, idx))
                i += 1
                continue
        gf[g] = gf.get(g, 0) + 1
        rf[r] = rf.get(r, 0) + 1
        bf[b] = bf.get(b, 0) + 1
        af[a] = af.get(a, 0) + 1
        tokens.append((0, (a, r, g, b)))
        if cache is not None:
            _enc_cache_put(cache, cache_bits, a, r, g, b)
        i += 1

    green_alpha = 256 + 24 + ((1 << cache_bits) if use_cache else 0)
    if not df:
        df = {0: 1}
    tables = []
    for freq, alpha in ((gf, green_alpha), (rf, 256), (bf, 256),
                        (af, 256), (df, 40)):
        lengths = _huff_lengths(freq if freq else {0: 1}, alpha)
        _write_prefix_code(bw, lengths)
        tables.append(_canonical_codes(lengths)
                      if sum(1 for l in lengths if l) > 1
                      else {s: (0, 0) for s, l in enumerate(lengths) if l})
    gc, rc, bc, ac, dc = tables

    def emit(codes, s):
        c, ln = codes[s]
        if ln:
            bw.write_code(c, ln)

    for kind, data in tokens:
        if kind == 0:
            a, r, g, b = data
            emit(gc, g)
            emit(rc, r)
            emit(bc, b)
            emit(ac, a)
        elif kind == 1:
            emit(gc, 280 + data)
        else:
            p, nb, ev = _lz77_prefix(data)
            emit(gc, 256 + p)
            if nb:
                bw.write(ev, nb)
            dp, dnb, dev = _lz77_prefix(2)  # dist-1 run: left pixel
            emit(dc, dp)
            if dnb:
                bw.write(dev, dnb)


def _forward_predictor(argb: np.ndarray, size_bits: int,
                       sub: np.ndarray) -> np.ndarray:
    """Forward (encode-side) predictor residuals — the exact mirror of
    _inverse_predictor: predictions read ORIGINAL neighbors, which in
    lossless coding equal the decoder's reconstructed ones."""
    h, w = argb.shape[:2]
    orig = argb.astype(np.int64)
    res = np.empty_like(orig)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int64)
            elif y == 0:
                pred = orig[0, x - 1]
            elif x == 0:
                pred = orig[y - 1, 0]
            else:
                mode = int(sub[y >> size_bits, x >> size_bits, 2])
                L = orig[y, x - 1]
                T = orig[y - 1, x]
                TL = orig[y - 1, x - 1]
                TR = orig[y - 1, x + 1] if x + 1 < w else orig[y, 0]
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int64)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pl = int(np.abs(T - TL).sum())
                    pt = int(np.abs(L - TL).sum())
                    pred = L if pl < pt else T
                elif mode == 12:
                    pred = _clamp_add_sub_full(TL, L, T)
                else:
                    pred = _clamp_add_sub_half(TL, _avg2(L, T))
            res[y, x] = (orig[y, x] - pred) & 0xFF
    return res


def _enc_cache_put(cache, bits, a, r, g, b):
    key = (a << 24) | (r << 16) | (g << 8) | b
    cache[(0x1E35A7BD * key & 0xFFFFFFFF) >> (32 - bits)] = key


# ---------------------------------------------------------------------------
# animated WebP (VP8X + ANIM/ANMF, container spec "Animation")
# ---------------------------------------------------------------------------
# Chunk layout per the public WebP container spec:
#   VP8X: 1 flags byte (bit4 alpha, bit1 animation, counting from LSB=bit0),
#         3 reserved bytes, canvas_width-1 (24-bit LE), canvas_height-1.
#   ANIM: background color (4 bytes, B G R A order), loop count (16-bit LE;
#         0 = loop forever).
#   ANMF: 16-byte header — frame_x/2 (24-bit LE), frame_y/2 (24),
#         frame_width-1 (24), frame_height-1 (24), duration_ms (24),
#         flags byte (bit1: 1 = do NOT alpha-blend, overwrite; bit0:
#         1 = dispose to background after this frame) — followed by the
#         frame's own (ALPH?, VP8|VP8L) chunk sequence.
# Composition follows libwebp's demux AnimDecoder conventions, which the
# spec leaves implementation-defined in two places: the canvas starts
# fully transparent, and "dispose to background" clears the frame rect to
# transparent (the ANIM background color is surfaced as metadata only).

def _u24(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def _p24(v: int) -> bytes:
    return bytes([v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF])


def webp_parse_animation(data: bytes) -> dict:
    """Parse the VP8X/ANIM/ANMF structure without decoding pixels.
    Returns {canvas_w, canvas_h, bg_rgba, loop_count, frames:[{x, y, w, h,
    duration_ms, blend, dispose, body}]}. Raises on a non-animated or
    non-WebP payload (callers sniff via webp_frame_count / the VP8X
    animation flag first)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) payload")
    out = {"canvas_w": None, "canvas_h": None,
           "bg_rgba": (255, 255, 255, 255), "loop_count": 0, "frames": []}
    animated = False
    for tag, body in _iter_chunks(data, 12):
        if tag == b"VP8X" and len(body) >= 10:
            animated = bool(body[0] & 0x02)
            out["canvas_w"] = _u24(body, 4) + 1
            out["canvas_h"] = _u24(body, 7) + 1
        elif tag == b"ANIM" and len(body) >= 6:
            # stored B, G, R, A
            out["bg_rgba"] = (body[2], body[1], body[0], body[3])
            out["loop_count"] = body[4] | (body[5] << 8)
        elif tag == b"ANMF" and len(body) >= 16:
            out["frames"].append({
                "x": _u24(body, 0) * 2, "y": _u24(body, 3) * 2,
                "w": _u24(body, 6) + 1, "h": _u24(body, 9) + 1,
                "duration_ms": _u24(body, 12),
                "blend": not (body[15] & 0x02),
                "dispose": bool(body[15] & 0x01),
                "body": body[16:]})
    if not animated or not out["frames"]:
        raise ValueError("not an animated WebP (no VP8X anim flag / ANMF)")
    return out


def webp_frame_count(data: bytes) -> int:
    """1 for a still WebP, the ANMF count for an animation."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) payload")
    n = sum(1 for tag, _ in _iter_chunks(data, 12) if tag == b"ANMF")
    return n if n else 1


def _blend_rect(dst: np.ndarray, src: np.ndarray) -> np.ndarray:
    """Non-premultiplied source-over (libwebp BlendPixelRowNonPremult):
    integer /255 and final /out_alpha divisions; pixels with src_a == 0
    keep the destination byte-for-byte (including RGB under zero
    alpha)."""
    sa = src[:, :, 3].astype(np.uint32)
    da = dst[:, :, 3].astype(np.uint32)
    df = da * (255 - sa) // 255
    oa = sa + df
    oad = np.maximum(oa, 1)[:, :, None]
    rgb = (src[:, :, :3].astype(np.uint32) * sa[:, :, None]
           + dst[:, :, :3].astype(np.uint32) * df[:, :, None]) // oad
    out = np.concatenate([rgb, oa[:, :, None]], axis=2).astype(np.uint8)
    keep_dst = (sa == 0)[:, :, None]
    return np.where(keep_dst, dst, out)


def webp_decode_frame(data: bytes, frame_idx: int) -> np.ndarray:
    """Animated WebP frame extraction: compose frames 0..frame_idx onto
    the transparent canvas honoring each ANMF's blend (alpha-blend vs
    overwrite) and dispose (clear rect to transparent) flags, returning
    (canvas_h, canvas_w, 4) RGBA. frame_idx clamps to the last frame
    (same convention as gif_decode_frame / y4m EOF). Still WebP payloads
    return webp_decode(data) for any frame_idx."""
    try:
        anim = webp_parse_animation(data)
    except ValueError:
        return webp_decode(data)
    frames = anim["frames"]
    frame_idx = min(frame_idx, len(frames) - 1)
    screen = np.zeros((anim["canvas_h"], anim["canvas_w"], 4),
                      dtype=np.uint8)
    for i in range(frame_idx + 1):
        f = frames[i]
        rgba = _decode_frame_chunks(_iter_chunks(f["body"], 0))
        if rgba.shape[:2] != (f["h"], f["w"]):
            raise ValueError(
                f"ANMF frame {i}: payload {rgba.shape[1]}x{rgba.shape[0]} "
                f"!= header {f['w']}x{f['h']}")
        y0, y1 = f["y"], f["y"] + f["h"]
        x0, x1 = f["x"], f["x"] + f["w"]
        if y1 > anim["canvas_h"] or x1 > anim["canvas_w"]:
            raise ValueError(f"ANMF frame {i} rect exceeds the canvas")
        if f["blend"]:
            screen[y0:y1, x0:x1] = _blend_rect(screen[y0:y1, x0:x1], rgba)
        else:
            screen[y0:y1, x0:x1] = rgba
        if i == frame_idx:
            break
        if f["dispose"]:          # dispose before the NEXT frame draws
            screen[y0:y1, x0:x1] = 0
    return screen


def webp_encode_frames(frames, loop_count: int = 0,
                       bg_rgba=(255, 255, 255, 255),
                       canvas_w: int | None = None,
                       canvas_h: int | None = None) -> bytes:
    """Animated-WebP writer for fixtures, the ANIM twin of
    gif_encode_frames. `frames`: list of dicts {rgba (h,w,4) uint8,
    x, y (even — the container stores them /2), duration_ms=100,
    blend=True, dispose=False}; each frame is VP8L-encoded (lossless,
    native alpha), so decode_frame round-trips composition exactly.
    Canvas defaults to frame 0's extent."""
    if not frames:
        raise ValueError("webp_encode_frames: no frames")
    f0 = frames[0]
    cw = canvas_w if canvas_w is not None else f0["x"] + f0["rgba"].shape[1]
    ch = canvas_h if canvas_h is not None else f0["y"] + f0["rgba"].shape[0]
    chunks = bytearray()
    flags = 0x02 | 0x10                       # animation + alpha
    chunks += b"VP8X" + struct.pack("<I", 10) + bytes([flags, 0, 0, 0]) \
        + _p24(cw - 1) + _p24(ch - 1)
    r, g, b, a = bg_rgba
    chunks += b"ANIM" + struct.pack("<I", 6) + bytes([b, g, r, a]) \
        + struct.pack("<H", loop_count)
    for i, f in enumerate(frames):
        rgba, x, y = f["rgba"], int(f["x"]), int(f["y"])
        if x % 2 or y % 2:
            raise ValueError(
                f"frame {i}: x/y must be even (stored as x/2, y/2)")
        h, w = rgba.shape[:2]
        if x + w > cw or y + h > ch:
            raise ValueError(f"frame {i} rect exceeds the {cw}x{ch} canvas")
        payload = webp_encode(np.ascontiguousarray(rgba))[12:]  # VP8L chunk
        fl = (0 if f.get("blend", True) else 0x02) \
            | (0x01 if f.get("dispose", False) else 0)
        hdr = _p24(x // 2) + _p24(y // 2) + _p24(w - 1) + _p24(h - 1) \
            + _p24(int(f.get("duration_ms", 100))) + bytes([fl])
        body = hdr + payload
        chunks += b"ANMF" + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" \
        + bytes(chunks)
