"""Multimodal columns: opaque binary media + typed metadata, with REAL
decode / feature-extract / resize / frame-sample kernels.

A large-scale training-data pipeline carries image/audio/video as
binary columns decoded inside Arrow-batched kernels. This container has
no codec libraries, so the kernels implement the pure-numpy-decodable
formats for real:

- image: 24-bit uncompressed BMP (full header parse, bottom-up rows,
  BGR, 4-byte row padding) — encode + decode + nearest-neighbor resize
- audio: 16-bit PCM WAV (RIFF chunk walk) — encode + decode
- video: a minimal frame container ("PVTV": per-frame length-prefixed
  BMP frames + fps) — real frame sampling returns decodable bytes

Compressed formats (png/jpeg/mp4/ogg) still fall back to the
deterministic byte-histogram stand-in with ``decode_ok='stubbed'``
(swap in Pillow/ffmpeg in production; the Spark plumbing — schema,
mapInPandas batch shapes, output contract — is identical).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), False),
        StructField("data", BinaryType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("feat_dim", IntegerType(), False),
        StructField("features", ArrayType(FloatType()), False),
        StructField("decode_ok", StringType(), False),
    ]
)


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed) — real image codec, pure numpy
# ---------------------------------------------------------------------------


def encode_bmp(rgb: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> 24-bit BMP bytes (bottom-up, BGR, padded rows)."""
    h, w, _ = rgb.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + img_size, 0, 0, 54,
        40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0,
    )
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    bgr = rgb[::-1, :, ::-1]  # bottom-up, BGR
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit BMP bytes -> HxWx3 uint8 RGB. Raises ValueError otherwise."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    flip = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, np.uint8, row_bytes * h, offset).reshape(h, row_bytes)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    rgb = bgr[:, :, ::-1]
    return rgb[::-1] if flip else rgb


def resize_image_nn(rgb: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (pure index arithmetic)."""
    h, w, _ = rgb.shape
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return rgb[yi][:, xi]


# ---------------------------------------------------------------------------
# WAV (16-bit PCM) — real audio codec
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 mono samples -> RIFF/WAVE PCM bytes."""
    pcm = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 bytes -> (int16 samples, sample rate)."""
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    off = 12
    rate = None
    while off + 8 <= len(data):
        cid = data[off : off + 4]
        (ln,) = struct.unpack_from("<I", data, off + 4)
        if cid == b"fmt ":
            audio_fmt, _ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", data, off + 8
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError("unsupported WAV encoding")
        elif cid == b"data":
            if rate is None:
                raise ValueError("data before fmt")
            return np.frombuffer(data, "<i2", ln // 2, off + 8), rate
        off += 8 + ln + (ln & 1)
    raise ValueError("no data chunk")


# ---------------------------------------------------------------------------
# PVTV frame container — real frame sampling for "video"
# ---------------------------------------------------------------------------

_PVTV_MAGIC = b"PVTV"


def encode_video(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """List of HxWx3 frames -> length-prefixed BMP frame container."""
    parts = [_PVTV_MAGIC, struct.pack("<HH", len(frames), fps)]
    for f in frames:
        b = encode_bmp(f)
        parts.append(struct.pack("<I", len(b)))
        parts.append(b)
    return b"".join(parts)


def decode_video_frames(data: bytes) -> tuple[list[bytes], int]:
    """Container bytes -> (per-frame BMP bytes, fps)."""
    if data[:4] != _PVTV_MAGIC:
        raise ValueError("not a PVTV container")
    n, fps = struct.unpack_from("<HH", data, 4)
    off = 8
    frames = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", data, off)
        off += 4
        frames.append(data[off : off + ln])
        off += ln
    return frames, fps


# ---------------------------------------------------------------------------
# Feature extraction (real, content-derived) + stub fallback
# ---------------------------------------------------------------------------


def _image_features(rgb: np.ndarray, out_dim: int) -> np.ndarray:
    """Channel means + 4x4 grayscale block means, truncated/padded."""
    gray = rgb.astype(np.float32).mean(axis=2)
    blocks = resize_image_nn(gray[..., None].astype(np.uint8), 4, 4)[:, :, 0]
    v = np.concatenate(
        [rgb.reshape(-1, 3).mean(axis=0), blocks.reshape(-1).astype(np.float32)]
    )
    out = np.zeros(out_dim, dtype=np.float32)
    out[: min(out_dim, len(v))] = v[:out_dim]
    return out / 255.0


def _audio_features(samples: np.ndarray, rate: int, out_dim: int) -> np.ndarray:
    """RMS, zero-crossing rate, and 14 coarse block energies."""
    x = samples.astype(np.float32) / 32768.0
    if len(x) == 0:
        return np.zeros(out_dim, dtype=np.float32)
    rms = float(np.sqrt(np.mean(x * x)))
    zc = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
    nb = max(1, out_dim - 2)
    pad = np.resize(x * x, ((len(x) + nb - 1) // nb) * nb)
    energies = pad.reshape(nb, -1).mean(axis=1)
    v = np.concatenate([[rms, zc], np.sqrt(energies)])
    out = np.zeros(out_dim, dtype=np.float32)
    out[: min(out_dim, len(v))] = v[:out_dim]
    return out


def _decode_fake(data: bytes, out_dim: int) -> np.ndarray:
    """Deterministic stand-in for compressed formats: bytes -> pseudo-
    features via a rolling byte histogram (stable, content-dependent)."""
    arr = np.frombuffer(data, dtype=np.uint8)
    if len(arr) == 0:
        return np.zeros(out_dim, dtype=np.float32)
    hist = np.bincount(arr % out_dim, weights=arr.astype(np.float64), minlength=out_dim)
    norm = np.linalg.norm(hist)
    return (hist / norm if norm else hist).astype(np.float32)


def _featurize_one(kind: str, data: bytes, feat_dim: int) -> tuple[list, str]:
    try:
        if kind == "image":
            return [float(x) for x in _image_features(decode_bmp(data), feat_dim)], "ok"
        if kind == "audio":
            s, rate = decode_wav(data)
            return [float(x) for x in _audio_features(s, rate, feat_dim)], "ok"
        if kind == "video":
            frames, _fps = decode_video_frames(data)
            vecs = [_image_features(decode_bmp(f), feat_dim) for f in frames]
            mean = np.mean(vecs, axis=0) if vecs else np.zeros(feat_dim, np.float32)
            return [float(x) for x in mean], "ok"
        raise ValueError(f"unknown kind {kind}")
    except (ValueError, struct.error):
        return [float(x) for x in _decode_fake(data, feat_dim)], "stubbed"


def extract_media_features(media: DataFrame, feat_dim: int = 32) -> DataFrame:
    """media table -> per-item feature vectors via mapInPandas: real
    decode for BMP/WAV/PVTV, byte-histogram fallback (decode_ok =
    'stubbed') for compressed payloads."""

    def run(batches):
        for pdf in batches:
            feats, ok = [], []
            for kind, data in zip(pdf["kind"], pdf["data"]):
                v, status = _featurize_one(kind, bytes(data), feat_dim)
                feats.append(v)
                ok.append(status)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat_dim": feat_dim,
                    "features": feats,
                    "decode_ok": ok,
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize for decodable images: decode -> nearest-neighbor ->
    re-encode; non-image / compressed rows pass through untouched."""

    def run(batches):
        for pdf in batches:
            out_data, out_w, out_h = [], [], []
            for kind, data, w0, h0 in zip(
                pdf["kind"], pdf["data"], pdf["width"], pdf["height"]
            ):
                b = bytes(data)
                if kind == "image":
                    try:
                        rgb = decode_bmp(b)
                        b = encode_bmp(resize_image_nn(rgb, width, height))
                        w0, h0 = width, height
                    except (ValueError, struct.error):
                        pass
                out_data.append(bytearray(b))
                out_w.append(w0)
                out_h.append(h0)
            pdf = pdf.copy()
            pdf["data"] = out_data
            pdf["width"] = out_w
            pdf["height"] = out_h
            yield pdf

    return media.mapInPandas(run, MEDIA_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("frame_ts_ms", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video frame sampling: parse the container, emit one row per
    sampled timestamp with that frame's decodable image bytes."""

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, url, kind, data in zip(
                pdf["media_id"], pdf["url"], pdf["kind"], pdf["data"]
            ):
                if kind != "video":
                    continue
                try:
                    frames, fps = decode_video_frames(bytes(data))
                except (ValueError, struct.error):
                    continue
                frame_ms = 1000 // max(fps, 1)
                duration = frame_ms * len(frames)
                for ts in range(0, duration, every_ms):
                    idx = min(ts // frame_ms, len(frames) - 1)
                    rows.append((mid, url, ts, bytearray(frames[idx])))
            yield pd.DataFrame(
                rows, columns=["media_id", "url", "frame_ts_ms", "frame"]
            )

    return media.mapInPandas(run, FRAME_SCHEMA)


def synthesize_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL payloads: BMP gradients, WAV
    tones, PVTV frame sequences — plus every 10th row a compressed-format
    stand-in (random bytes, png/ogg/mp4 mime) to exercise the stub path."""
    rows = []
    rng = np.random.RandomState(seed)
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        fake = i % 10 == 9
        if fake:
            data = rng.bytes(64 + (i % 17) * 13)
            mime = {"image": "image/png", "audio": "audio/ogg", "video": "video/mp4"}[kind]
            w = h = dur = None
        elif kind == "image":
            w = h = 16 + (i % 4) * 8
            yy, xx = np.mgrid[0:h, 0:w]
            rgb = np.stack(
                [(xx * 255 // max(w - 1, 1)), (yy * 255 // max(h - 1, 1)),
                 np.full_like(xx, i % 256)], axis=2
            ).astype(np.uint8)
            data = encode_bmp(rgb)
            mime, dur = "image/bmp", None
        elif kind == "audio":
            t = np.arange(2000)
            freq = 200 + (i % 20) * 40
            samples = (np.sin(2 * np.pi * freq * t / 8000) * 12000).astype(np.int16)
            data = encode_wav(samples, 8000)
            mime, w, h, dur = "audio/wav", None, None, 250
        else:
            w = h = 16
            frames = []
            for f in range(3 + i % 3):
                yy, xx = np.mgrid[0:h, 0:w]
                frames.append(
                    np.stack([np.full_like(xx, (f * 50 + i) % 256), xx * 16 % 256,
                              yy * 16 % 256], axis=2).astype(np.uint8)
                )
            data = encode_video(frames, fps=10)
            mime, dur = "video/x-pvtv", len(frames) * 100
        rows.append(
            (i, f"https://example.org/media/{i}", kind, mime, bytearray(data), w, h, dur)
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)
