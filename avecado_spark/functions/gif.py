"""GIF codec (87a/89a) in pure numpy/stdlib — a real web image
format beside PNG in the multimodal decode boundary.

Decoder: logical screen descriptor, global/local color tables, LZW
decompression with dynamic code sizes (clear/EOI, dictionary to 4095),
interlaced images (the 4-pass row order), graphic-control extensions
(transparency index → alpha 0), and multi-frame files (each frame
composited left/top onto the logical screen; `gif_decode` returns the
FIRST composed frame as RGBA, `gif_frame_count` the total — animation
sampling plugs into the video frame-sampling surface).

Encoder (fixtures): ≤256-color images get an exact GIF89a round-trip —
palette built from the image, LZW compressed with clear-code resets,
optional interlace. decode(encode(img)) == img EXACTLY, which is what
the tests pin (the same bar as the PNG/VP8L codecs).

Spec: the public GIF89a specification (CompuServe, 1990); LZW per its
Appendix. No reference-code transcription.
"""

from __future__ import annotations

import struct

import numpy as np


def _read_color_table(data: bytes, pos: int, n: int):
    table = np.frombuffer(data[pos:pos + 3 * n],
                          dtype=np.uint8).reshape(n, 3).copy()
    return table, pos + 3 * n


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("GIF: truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos:pos + n]
        if len(data) - pos < n:
            raise ValueError("GIF: truncated sub-block")
        pos += n


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    # dictionary: store (prefix_code, last_byte); roots are implicit
    prefix = np.zeros(4096, dtype=np.int32)
    suffix = np.zeros(4096, dtype=np.uint8)
    stack = bytearray()

    code_size = min_code_size + 1
    next_code = eoi + 1
    prev = -1
    acc = 0
    nbits = 0
    pos = 0
    while n_out < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("GIF: LZW stream exhausted before image end")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            code_size = min_code_size + 1
            next_code = eoi + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("GIF: first LZW code not a root")
            out[n_out] = code
            n_out += 1
            prev = code
            continue
        if code < next_code:
            c = code
        elif code == next_code:
            c = prev  # KwKwK case: emit prev + first byte of prev
        else:
            raise ValueError("GIF: LZW code out of range")
        # expand c
        stack.clear()
        while c >= clear:
            stack.append(suffix[c])
            c = prefix[c]
        first = c
        stack.append(first)
        if code == next_code:
            stack.insert(0, first)
        k = len(stack)
        if n_out + k > n_pixels:
            k = n_pixels - n_out
        out[n_out:n_out + k] = np.frombuffer(
            bytes(stack[::-1][:k]), dtype=np.uint8)
        n_out += k
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = first
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code
    return out


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _deinterlace(idx: np.ndarray, w: int, h: int) -> np.ndarray:
    img = np.empty((h, w), dtype=np.uint8)
    src = 0
    for start, step in _INTERLACE_PASSES:
        rows = range(start, h, step)
        for r in rows:
            img[r] = idx[src:src + w]
            src += w
    return img


def _parse(data: bytes):
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("GIF: truncated header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        gct, pos = _read_color_table(data, pos, 2 << (flags & 7))
    transparent = None
    disposal = 0
    delay_cs = 0
    frames = []
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("GIF: truncated extension")
            label = data[pos]
            pos += 1
            body, pos = _read_subblocks(data, pos)
            if label == 0xF9 and len(body) >= 4:
                transparent = body[3] if (body[0] & 1) else None
                disposal = (body[0] >> 2) & 7
                delay_cs = body[1] | (body[2] << 8)
            continue
        if b == 0x2C:  # image descriptor
            if len(data) - pos < 9:
                raise ValueError("GIF: truncated image descriptor")
            left, top, w, h, iflags = struct.unpack("<HHHHB",
                                                    data[pos:pos + 9])
            pos += 9
            table = gct
            if iflags & 0x80:
                table, pos = _read_color_table(data, pos,
                                               2 << (iflags & 7))
            if table is None:
                raise ValueError("GIF: image with no color table")
            if pos >= len(data):
                raise ValueError("GIF: truncated LZW header")
            mcs = data[pos]
            pos += 1
            lzw, pos = _read_subblocks(data, pos)
            idx = _lzw_decode(lzw, mcs, w * h)
            if iflags & 0x40:
                grid = _deinterlace(idx, w, h)
            else:
                grid = idx.reshape(h, w)
            frames.append({"left": left, "top": top, "w": w, "h": h,
                           "index": grid, "table": table,
                           "transparent": transparent,
                           "disposal": disposal, "delay_cs": delay_cs})
            transparent = None
            disposal = 0
            delay_cs = 0
            continue
        raise ValueError(f"GIF: unknown block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF: no image data")
    return sw, sh, frames


def gif_frame_count(data: bytes) -> int:
    return len(_parse(data)[2])


def gif_decode(data: bytes) -> np.ndarray:
    """First frame composed onto the logical screen → (h, w, 4) RGBA
    (transparent index → alpha 0; uncovered screen area → alpha 0)."""
    return gif_decode_frame(data, 0)


# ---------------------------------------------------------------------------
# encoder (round-trip fixtures)
# ---------------------------------------------------------------------------

def _lzw_encode(idx: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    run = b""
    for v in idx.tolist():
        cand = run + bytes([v])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            code_size = min_code_size + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
        run = bytes([v])
    if run:
        emit(table[run])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(rgb: np.ndarray, interlace: bool = False,
               transparent: int | None = None) -> bytes:
    """(h, w, 3) uint8 with <= 256 distinct colors → GIF89a bytes.
    Lossless: gif_decode(gif_encode(img))[:, :, :3] == img exactly."""
    h, w = rgb.shape[:2]
    flat = rgb[:, :, :3].reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"gif_encode: {len(colors)} colors > 256 "
                         "(quantize first)")
    bits = max(1, int(len(colors) - 1).bit_length())
    n_table = 1 << bits
    table = np.zeros((n_table, 3), dtype=np.uint8)
    table[:len(colors)] = colors
    idx = idx.astype(np.uint8).reshape(h, w)
    if interlace:
        rows = [r for start, step in _INTERLACE_PASSES
                for r in range(start, h, step)]
        stream = idx[rows].reshape(-1)
    else:
        stream = idx.reshape(-1)
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    iflags = 0x40 if interlace else 0
    out += bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    out += bytes([mcs])
    lzw = _lzw_encode(stream, mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def gif_decode_frame(data: bytes, frame_idx: int) -> np.ndarray:
    """Animated GIF frame extraction: compose frames 0..frame_idx onto
    the logical screen honoring the GIF89a disposal methods (0/1 leave,
    2 restore-to-background = clear the frame's rect to transparent,
    3 restore-to-previous), then return the composed frame as (h, w, 4)
    RGBA. frame_idx clamps to the last frame (a short animation serves
    its final state — the same convention as y4m_decode_frame's EOF)."""
    sw, sh, frames = _parse(data)
    frame_idx = min(frame_idx, len(frames) - 1)
    screen = np.zeros((sh, sw, 4), dtype=np.uint8)
    for i in range(frame_idx + 1):
        f = frames[i]
        if f["disposal"] == 3:
            saved = screen[f["top"]:f["top"] + f["h"],
                           f["left"]:f["left"] + f["w"]].copy()
        rgb = f["table"][f["index"]]
        region = screen[f["top"]:f["top"] + f["h"],
                        f["left"]:f["left"] + f["w"]]
        if f["transparent"] is not None:
            opaque = f["index"] != f["transparent"]
            region[:, :, :3][opaque] = rgb[opaque]
            region[:, :, 3][opaque] = 255
        else:
            region[:, :, :3] = rgb
            region[:, :, 3] = 255
        if i == frame_idx:
            break
        # dispose before the NEXT frame draws
        if f["disposal"] == 2:
            screen[f["top"]:f["top"] + f["h"],
                   f["left"]:f["left"] + f["w"]] = 0
        elif f["disposal"] == 3:
            screen[f["top"]:f["top"] + f["h"],
                   f["left"]:f["left"] + f["w"]] = saved
    return screen


def gif_encode_frames(frames, disposal: int = 1,
                      transparent: int | None = None,
                      delay_cs: int = 10) -> bytes:
    """Multi-frame GIF89a for animation fixtures. `frames`: list of
    (rgb, left, top) patches — the first must cover the full screen at
    (0, 0); later patches may be sub-rects. One GLOBAL palette built
    over all patches (<= 256 colors total), the same disposal method and
    delay on every frame."""
    base, l0, t0 = frames[0]
    if (l0, t0) != (0, 0):
        raise ValueError("first frame must cover the screen at (0,0)")
    h, w = base.shape[:2]
    allpix = np.concatenate([f[0][:, :, :3].reshape(-1, 3)
                             for f in frames])
    colors = np.unique(allpix, axis=0)
    if len(colors) > 256:
        raise ValueError(f"gif_encode_frames: {len(colors)} colors > 256")
    bits = max(1, int(len(colors) - 1).bit_length())
    n_table = 1 << bits
    table = np.zeros((n_table, 3), dtype=np.uint8)
    table[:len(colors)] = colors
    lut = {tuple(c): i for i, c in enumerate(colors)}
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    for rgb, left, top in frames:
        fh, fw = rgb.shape[:2]
        gce_flags = ((disposal & 7) << 2) | (1 if transparent is not None
                                             else 0)
        out += bytes([0x21, 0xF9, 4, gce_flags,
                      delay_cs & 0xFF, (delay_cs >> 8) & 0xFF,
                      transparent or 0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHHB", left, top, fw, fh, 0)
        idx = np.array([lut[tuple(px)] for px in
                        rgb[:, :, :3].reshape(-1, 3)],
                       dtype=np.uint8)
        out += bytes([mcs])
        lzw = _lzw_encode(idx, mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)
