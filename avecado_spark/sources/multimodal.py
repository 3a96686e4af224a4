"""Multimodal columns: opaque binary payloads + typed metadata.

A 100 TB training pipeline carries image/audio/video as `binary` columns
with struct metadata; the Spark-side plumbing (schema, partitioning, Arrow
batch shape, UDF signatures) is real and tested here. PNG images decode
FOR REAL via the in-repo pure-numpy decoder (operators/raster.png_decode),
GIF via functions/gif.gif_decode, RIFF/WAVE PCM audio via wav_decode below,
and YUV4MPEG2 video via y4m_decode_frame. Remaining codecs (JPEG, WebP,
mp3/aac, mp4/webm, AVIF) are STUBBED — those
libraries are not in this container — and raise NotImplementedError unless
`deterministic_fake=True`, which produces a seeded fake decode so the
downstream plumbing (resize → feature-extract shape) is exercised end to
end without the codec.
"""

from __future__ import annotations

import hashlib
import io
import struct as _struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = ("media_id long, kind string, payload binary, "
                "meta struct<width:int, height:int, mime:string>")

FEATURE_DIM = 16


def synth_media_df(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic opaque payloads standing in for crawled media bytes."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.when(F.col("id") % 4 == 3, F.lit("video"))
         .when(F.col("id") % 2 == 0, F.lit("image"))
         .otherwise(F.lit("audio")).alias("kind"),
        F.encode(F.concat(F.lit("payload-"), F.md5(F.col("id").cast("string"))), "utf-8")
         .cast("binary").alias("payload"),
        F.struct((F.col("id") % 64 + 16).cast("int").alias("width"),
                 (F.col("id") % 48 + 16).cast("int").alias("height"),
                 F.lit("application/octet-stream").alias("mime")).alias("meta"))


def decode_image(payload: bytes, width: int, height: int,
                 deterministic_fake: bool = False) -> np.ndarray:
    """Image decode → (h, w, 3) uint8. PNG payloads decode FOR REAL via the
    in-repo pure-numpy decoder (operators/raster.png_decode — IHDR/IDAT,
    filters 0-4; grayscale expanded, alpha dropped; the PNG's own header
    dims win over the metadata). GIF (87a/89a incl. interlace + LZW)
    decodes for real via functions/gif.gif_decode — first frame composed,
    alpha dropped. Remaining formats (JPEG, WebP, AVIF, HEIC, ...) have no
    decoder: NotImplementedError unless deterministic_fake=True, which
    derives a shape-correct array from a sha256 keystream of the
    payload."""
    if bytes(payload[:8]) == b"\x89PNG\r\n\x1a\n":
        from ..operators.raster import png_decode
        img = png_decode(bytes(payload))
        if img.shape[2] == 1:        # gray → RGB
            return np.repeat(img, 3, axis=2)
        if img.shape[2] == 2:        # gray+alpha → RGB
            return np.repeat(img[:, :, :1], 3, axis=2)
        return img[:, :, :3]         # RGB / RGBA (alpha dropped)
    if bytes(payload[:6]) in (b"GIF87a", b"GIF89a"):
        from ..functions.gif import gif_decode
        return gif_decode(bytes(payload))[:, :, :3]  # alpha dropped
    if not deterministic_fake:
        raise NotImplementedError(
            "non-PNG/GIF image decode requires PIL/opencv "
            "(not installed); pass deterministic_fake=True for the "
            "seeded stand-in")
    need = width * height * 3
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.sha256(payload + _struct.pack("<I", counter)).digest()
        counter += 1
    return np.frombuffer(bytes(out[:need]), dtype=np.uint8).reshape(height, width, 3)


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy (the reference's scaling_method
    'near' default, python_module.cpp:208)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h)
    xs = (np.arange(out_w) * w // out_w)
    return img[ys][:, xs]


def extract_features(img: np.ndarray) -> np.ndarray:
    """Toy feature extractor: per-cell means over a 4x4 grid → 16-dim."""
    h, w = img.shape[:2]
    gy = np.linspace(0, h, 5, dtype=int)
    gx = np.linspace(0, w, 5, dtype=int)
    feats = [img[gy[i]:gy[i + 1], gx[j]:gx[j + 1]].mean()
             for i in range(4) for j in range(4)]
    return np.asarray(feats, dtype=np.float32)


def media_features(df: DataFrame, target: int = 32) -> DataFrame:
    """mapInPandas plumbing: decode (REAL for PNG/GIF payloads, seeded
    fake otherwise) → resize → features. Arrow batches in,
    (media_id, features array<float>) out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for r in pdf.itertuples(index=False):
                if r.kind != "image":
                    continue
                img = decode_image(bytes(r.payload), r.meta["width"],
                                   r.meta["height"], deterministic_fake=True)
                img = resize_nearest(img, target, target)
                feats.append(extract_features(img))
                ids.append(r.media_id)
            yield pd.DataFrame({"media_id": ids, "features": feats})

    return df.mapInPandas(run, schema="media_id long, features array<float>")


# ---------------------------------------------------------------------------
# video: frame sampling (the fourth charter op: decode / feature-extract /
# resize / FRAME-SAMPLE). YUV4MPEG2 decodes for real; compressed containers
# are STUBBED like decode_image. The Spark-side shape — one input row
# fanning out to k frame rows through mapInPandas, frame indices
# deterministic from the sampling stride — is real and tested.
# ---------------------------------------------------------------------------

def y4m_decode_frame(payload: bytes, frame_idx: int) -> np.ndarray:
    """YUV4MPEG2 (.y4m) frame extraction in pure numpy — the uncompressed
    video container (ffmpeg's raw interchange format) needs no codec:
    ASCII stream header (W/H/chroma tags), then per-frame `FRAME\\n` +
    planar YUV. Supports C420 (default, 4:2:0), C422 and C444. Returns
    the frame as (h, w, 3) uint8 RGB (BT.601 full-range)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = None
    chroma = "420"
    for tok in payload[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("C"):
            chroma = t[1:]
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    if chroma.startswith("420"):
        cw, chh = (w + 1) // 2, (h + 1) // 2
    elif chroma.startswith("422"):
        cw, chh = (w + 1) // 2, h
    elif chroma.startswith("444"):
        cw, chh = w, h
    else:
        raise NotImplementedError(f"y4m chroma mode C{chroma}")
    fsize = w * h + 2 * cw * chh
    pos = nl + 1
    for _ in range(frame_idx + 1):
        if not payload.startswith(b"FRAME", pos):
            raise ValueError(f"frame {frame_idx} beyond end of y4m stream")
        pos = payload.index(b"\n", pos) + 1
        start = pos
        pos += fsize
    buf = np.frombuffer(payload, dtype=np.uint8, count=fsize, offset=start)
    y = buf[:w * h].astype(np.float64).reshape(h, w)
    u = buf[w * h:w * h + cw * chh].astype(np.float64).reshape(chh, cw)
    v = buf[w * h + cw * chh:].astype(np.float64).reshape(chh, cw)
    u = np.repeat(np.repeat(u, -(-h // chh), axis=0),
                  -(-w // cw), axis=1)[:h, :w] - 128.0
    v = np.repeat(np.repeat(v, -(-h // chh), axis=0),
                  -(-w // cw), axis=1)[:h, :w] - 128.0
    r = y + 1.402 * v
    g = y - 0.344136 * u - 0.714136 * v
    b = y + 1.772 * u
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def y4m_encode(frames: np.ndarray, chroma: str = "444") -> bytes:
    """(n, h, w, 3) uint8 RGB → .y4m bytes (C444 or C420 via box
    downsample) — fixture builder for frame-extraction round-trips."""
    n, h, w = frames.shape[:3]
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F24:1 Ip A1:1 C{chroma}\n"
                    .encode("ascii"))
    for i in range(n):
        f = frames[i].astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        u = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        v = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if chroma == "420":
            hp, wp = h + (h & 1), w + (w & 1)
            u = np.pad(u, ((0, hp - h), (0, wp - w)), mode="edge")
            v = np.pad(v, ((0, hp - h), (0, wp - w)), mode="edge")
            u = (u[0::2, 0::2] + u[0::2, 1::2]
                 + u[1::2, 0::2] + u[1::2, 1::2]) / 4.0
            v = (v[0::2, 0::2] + v[0::2, 1::2]
                 + v[1::2, 0::2] + v[1::2, 1::2]) / 4.0
        elif chroma != "444":
            raise ValueError("y4m_encode supports C444 or C420")
        out += b"FRAME\n"
        for plane in (y, u, v):
            out += np.clip(plane, 0, 255).astype(np.uint8).tobytes()
    return bytes(out)


def decode_video_frame(payload: bytes, frame_idx: int, width: int, height: int,
                       deterministic_fake: bool = False) -> np.ndarray:
    """Video frame extraction → (h, w, 3) uint8. YUV4MPEG2 payloads
    decode FOR REAL (y4m_decode_frame — uncompressed planar YUV, no codec
    needed; the container's own dims win over the metadata); animated GIF
    decodes via functions/gif.gif_decode_frame. Compressed containers
    (mp4/webm/WebP/...) need libraries not in this container:
    NotImplementedError unless deterministic_fake=True (deterministic
    frame from the payload digest + frame index, so downstream plumbing —
    sampling stride, per-frame features — is exercised end to end)."""
    if bytes(payload[:9]) == b"YUV4MPEG2":
        return y4m_decode_frame(bytes(payload), frame_idx)
    if bytes(payload[:6]) in (b"GIF87a", b"GIF89a"):
        # animated GIF: disposal-composited frame (functions/gif.py)
        from ..functions.gif import gif_decode_frame
        return gif_decode_frame(bytes(payload), frame_idx)[:, :, :3]
    if not deterministic_fake:
        raise NotImplementedError(
            "compressed video codec not available in this container; "
            "YUV4MPEG2 (.y4m) and animated GIF decode natively — or pass "
            "deterministic_fake=True for the test path")
    import hashlib
    seed = int.from_bytes(
        hashlib.md5(payload + frame_idx.to_bytes(4, "little")).digest()[:8],
        "little")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


def sample_frames(df: DataFrame, stride_s: float = 2.0, fps: float = 24.0,
                  duration_s: float = 10.0, target: int = 32) -> DataFrame:
    """Frame sampling over video rows: every stride_s seconds of a
    duration_s clip → frame indices [0, fps*stride_s, 2*fps*stride_s, ...];
    each sampled frame is decoded (fake), resized, and feature-extracted.
    One input row → k output rows, all inside one Arrow batch pass —
    the partitioning story is identical to media_features (payload bytes
    never shuffle; the fan-out happens map-side)."""
    from typing import Iterator
    import pandas as pd
    idxs = [int(i * fps * stride_s)
            for i in range(int(duration_s / stride_s))]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "features": []}
            for r in pdf.itertuples(index=False):
                if r.kind != "video":
                    continue
                w, h = int(r.meta["width"]), int(r.meta["height"])
                for fi in idxs:
                    img = decode_video_frame(bytes(r.payload), fi, w, h,
                                             deterministic_fake=True)
                    img = resize_nearest(img, target, target)
                    out["media_id"].append(int(r.media_id))
                    out["frame_idx"].append(fi)
                    out["features"].append(
                        extract_features(img).astype(float).tolist())
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema="media_id long, frame_idx int, features array<double>")


# ---------------------------------------------------------------------------
# audio: decode (stubbed) + frame-energy features
# ---------------------------------------------------------------------------

def _g711_mulaw_table() -> np.ndarray:
    """ITU-T G.711 mu-law byte → linear int16 (the standard expansion:
    complement, unpack exponent/mantissa with bias 0x84)."""
    u = np.arange(256, dtype=np.int64) ^ 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _g711_alaw_table() -> np.ndarray:
    """ITU-T G.711 A-law byte → linear int16 (even-bit inversion 0x55,
    13-bit magnitude)."""
    a = np.arange(256, dtype=np.int64) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    # G.711 A-law sign convention: bit 7 SET (after the 0x55 inversion)
    # encodes a POSITIVE sample (the opposite of mu-law)
    return np.where(sign, mag, -mag).astype(np.int16)


_G711_TABLES = {6: _g711_alaw_table(), 7: _g711_mulaw_table()}

# IMA/DVI ADPCM (WAV format tag 0x11) — the standard published tables
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767],
    dtype=np.int64)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int64)


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM reconstruction step (identical in encoder and
    decoder — the lossy codec's exactness contract)."""
    step = int(_IMA_STEPS[index])
    vpdiff = step >> 3
    if nibble & 4:
        vpdiff += step
    if nibble & 2:
        vpdiff += step >> 1
    if nibble & 1:
        vpdiff += step >> 2
    pred = pred - vpdiff if nibble & 8 else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX[nibble])))
    return pred, index


def ima_adpcm_decode(data: bytes, channels: int,
                     block_align: int) -> np.ndarray:
    """WAV IMA ADPCM block stream → int16 samples [n, channels]. Block
    layout per the published format: a 4-byte per-channel header
    (predictor int16 = the block's sample 0, step index, reserved), then
    channel-interleaved 4-byte nibble groups (low nibble first)."""
    out: list[np.ndarray] = []
    for b0 in range(0, len(data) - block_align + 1, block_align):
        blk = data[b0:b0 + block_align]
        preds, idxs, ch_samples = [], [], []
        for c in range(channels):
            h = blk[4 * c:4 * c + 4]
            p = int.from_bytes(h[0:2], "little", signed=True)
            preds.append(p)
            idxs.append(min(88, h[2]))
            ch_samples.append([p])
        body = blk[4 * channels:]
        for g in range(0, len(body) - 4 * channels + 1, 4 * channels):
            for c in range(channels):
                word = body[g + 4 * c:g + 4 * c + 4]
                for byte in word:
                    for nib in (byte & 0x0F, byte >> 4):
                        preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                        ch_samples[c].append(preds[c])
        out.append(np.stack([np.array(s, dtype=np.int16)
                             for s in ch_samples], axis=1))
    return np.concatenate(out) if out else np.zeros((0, channels), np.int16)


def ima_adpcm_encode(samples: np.ndarray, rate: int,
                     samples_per_block: int = 505) -> bytes:
    """int16 samples [n] or [n, channels] → RIFF/WAVE format-0x11 bytes
    (fixture encoder). samples_per_block must be 8k+1 per the nibble
    grouping; input is zero-padded to whole blocks."""
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 8k+1")
    block_align = 4 * ch + (samples_per_block - 1) // 2 * ch
    pad = (-n) % samples_per_block
    if pad:
        x = np.vstack([x, np.zeros((pad, ch), dtype=np.int64)])
    idxs = [0] * ch
    body = io.BytesIO()
    for b0 in range(0, len(x), samples_per_block):
        blk = x[b0:b0 + samples_per_block]
        preds = [int(blk[0, c]) for c in range(ch)]
        for c in range(ch):
            body.write(int(preds[c]).to_bytes(2, "little", signed=True))
            body.write(bytes([idxs[c], 0]))
        nibs: list[list[int]] = [[] for _ in range(ch)]
        for i in range(1, samples_per_block):
            for c in range(ch):
                step = int(_IMA_STEPS[idxs[c]])
                diff = int(blk[i, c]) - preds[c]
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                nibs[c].append(nib)
        for g in range(0, len(nibs[0]), 8):
            for c in range(ch):
                grp = nibs[c][g:g + 8]
                for k in range(0, 8, 2):
                    body.write(bytes([grp[k] | (grp[k + 1] << 4)]))
    data = body.getvalue()
    fmt = (b"fmt " + (20).to_bytes(4, "little")
           + (0x11).to_bytes(2, "little") + ch.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block_align // samples_per_block)
           .to_bytes(4, "little")
           + block_align.to_bytes(2, "little") + (4).to_bytes(2, "little")
           + (2).to_bytes(2, "little")
           + samples_per_block.to_bytes(2, "little"))
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return (b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE"
            + chunks)


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE decode in pure numpy — no codec library needed: chunk
    walk (fmt/data, unknown chunks skipped per the RIFF padding rule),
    PCM formats 1 (8/16/24/32-bit integer), 3 (float32/64), and the
    G.711 telephony companders 6 (A-law) / 7 (mu-law) via the ITU-T
    expansion tables; channels downmixed to mono. Returns
    (int16 mono samples, sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    n = len(payload)
    while pos + 8 <= n:
        tag = payload[pos:pos + 4]
        sz = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)           # chunks are word-aligned
        if tag == b"fmt ":
            fmt = {
                "code": int.from_bytes(body[0:2], "little"),
                "channels": int.from_bytes(body[2:4], "little"),
                "rate": int.from_bytes(body[4:8], "little"),
                "block_align": int.from_bytes(body[12:14], "little"),
                "bits": int.from_bytes(body[14:16], "little"),
            }
        elif tag == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    code, ch, bits = fmt["code"], max(fmt["channels"], 1), fmt["bits"]
    if code == 1:                           # integer PCM
        if bits == 8:                       # unsigned 8-bit
            s = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
                 - 128.0) * 256.0
        elif bits == 16:
            s = np.frombuffer(data, dtype="<i2").astype(np.float64)
        elif bits == 24:
            raw = np.frombuffer(data, dtype=np.uint8)
            raw = raw[:len(raw) - len(raw) % 3].reshape(-1, 3)
            v = (raw[:, 0].astype(np.int64)
                 | (raw[:, 1].astype(np.int64) << 8)
                 | (raw[:, 2].astype(np.int64) << 16))
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            s = v.astype(np.float64) / 256.0
        elif bits == 32:
            s = np.frombuffer(data, dtype="<i4").astype(np.float64) / 65536.0
        else:
            raise NotImplementedError(f"{bits}-bit integer PCM")
    elif code == 3:                         # IEEE float
        dt = "<f4" if bits == 32 else "<f8"
        s = np.frombuffer(data, dtype=dt).astype(np.float64) * 32767.0
    elif code in (6, 7):                    # G.711 A-law / mu-law
        s = _G711_TABLES[code][np.frombuffer(data, dtype=np.uint8)] \
            .astype(np.float64)
    elif code == 0x11:                      # IMA/DVI ADPCM
        dec = ima_adpcm_decode(data, ch, fmt["block_align"])
        s = dec.astype(np.float64).reshape(-1)  # interleave, downmix below
    else:
        raise NotImplementedError(
            f"WAV format code {code} (compressed) needs a codec library")
    if ch > 1:
        s = s[:len(s) - len(s) % ch].reshape(-1, ch).mean(axis=1)
    return np.clip(s, -32768, 32767).astype(np.int16), fmt["rate"]


def wav_encode(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono → RIFF/WAVE PCM bytes (fixture builder for round-trips)."""
    s = np.asarray(samples, dtype="<i2").tobytes()
    hdr = (b"RIFF" + (36 + len(s)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
           + b"data" + len(s).to_bytes(4, "little"))
    return hdr + s


def decode_audio(payload: bytes, n_samples: int = 4096,
                 deterministic_fake: bool = False) -> np.ndarray:
    """Audio decode → int16 mono waveform. RIFF/WAVE PCM and FLAC
    payloads decode FOR REAL (wav_decode; functions/flac.py — the full
    RFC 9639 subframe set with exact lossless round-trip tests); the
    waveform is truncated/zero-padded to n_samples so the feature shape
    is stable. Remaining compressed codecs (mp3/aac/ogg) need libraries
    not present in this container: NotImplementedError unless
    deterministic_fake=True (deterministic int16 waveform from the
    payload digest)."""
    if bytes(payload[:4]) == b"RIFF":
        wave, _ = wav_decode(bytes(payload))
        if len(wave) >= n_samples:
            return wave[:n_samples]
        return np.pad(wave, (0, n_samples - len(wave)))
    if bytes(payload[:4]) == b"fLaC":
        from ..functions.flac import flac_decode
        samples, _ = flac_decode(bytes(payload))
        # mean-downmix multichannel, same convention as the wav path
        wave = np.clip(samples.astype(np.float64).mean(axis=1),
                       -32768, 32767).astype(np.int16)
        if len(wave) >= n_samples:
            return wave[:n_samples]
        return np.pad(wave, (0, n_samples - len(wave)))
    if not deterministic_fake:
        raise NotImplementedError(
            "compressed audio codec not available in this container; "
            "RIFF/WAVE PCM decodes natively — or pass "
            "deterministic_fake=True for the test path")
    import hashlib
    seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.integers(-32768, 32768, size=n_samples, dtype=np.int16)


def audio_features(df: DataFrame, n_frames: int = FEATURE_DIM) -> DataFrame:
    """Frame-energy features for audio rows: decode (REAL for RIFF/WAVE
    PCM, seeded fake otherwise) → split the waveform into n_frames
    windows → RMS energy per window. Same map-side Arrow shape as
    media_features; payload bytes never shuffle."""
    from typing import Iterator
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "features": []}
            for r in pdf.itertuples(index=False):
                if r.kind != "audio":
                    continue
                wave = decode_audio(bytes(r.payload),
                                    deterministic_fake=True).astype(np.float64)
                frames = wave.reshape(n_frames, -1)
                rms = np.sqrt((frames ** 2).mean(axis=1))
                out["media_id"].append(int(r.media_id))
                out["features"].append(rms.tolist())
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema="media_id long, features array<double>")
