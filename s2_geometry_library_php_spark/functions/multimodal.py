"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Decode is REAL for self-contained formats expressible with stdlib +
numpy alone — WAV (RIFF PCM 8/16-bit), PPM (P6), BMP (24-bit
BI_RGB) — including decode → feature-extract and encode → decode
round trips.  Formats that genuinely require media
libraries absent from this environment (JPEG/PNG entropy coding,
MP4/H.264) stay behind ``DecoderUnavailable`` with a gated
try-import, so the same call sites light up when PIL/soundfile are
installed.

Pattern: ``mapInPandas`` with an iterator of batches so a single
executor thread never materializes more than one Arrow batch of
binary payloads (critical when payloads are MBs: tune
``spark.sql.execution.arrow.maxRecordsPerBatch`` down for media
tables)."""

from __future__ import annotations

import struct
from collections.abc import Iterator

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

from ..plans.session import local_relation

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 16


class DecoderUnavailable(NotImplementedError):
    """Raised by decode paths that need media libraries (PIL, ffmpeg,
    soundfile) not present in this environment."""


# ---------------------------------------------------------------------------
# Real codecs: WAV (RIFF PCM), PPM (P6), BMP (24-bit BI_RGB).
# ---------------------------------------------------------------------------


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM decode -> (sample_rate, float32 mono waveform in
    [-1, 1]).  Walks the chunk list (fmt / data may be preceded by
    LIST etc.), supports 8-bit unsigned and 16-bit signed PCM, and
    averages channels to mono."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, rate, _, _, bits = fmt
    if audio_format != 1:
        raise DecoderUnavailable(f"non-PCM WAV (format={audio_format})")
    if bits == 16:
        wave = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 8:
        wave = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise DecoderUnavailable(f"{bits}-bit PCM")
    if n_ch > 1:
        wave = wave[: len(wave) - len(wave) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return rate, wave


def encode_wav(wave: np.ndarray, rate: int) -> bytes:
    """float32 mono [-1,1] -> 16-bit PCM RIFF/WAVE bytes."""
    pcm = np.clip(
        np.round(np.asarray(wave, dtype=np.float64) * 32767.0), -32768, 32767
    )
    data = pcm.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """PPM P6 (binary RGB) -> uint8 array (h, w, 3)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # Header: "P6" <ws> width <ws> height <ws> maxval <single ws> raster
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise DecoderUnavailable("16-bit PPM")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP -> uint8 array (h, w, 3) RGB.
    Handles the bottom-up raster order and 4-byte row padding."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, w, h, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or compression != 0:
        raise DecoderUnavailable(f"BMP bpp={bpp} compression={compression}")
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * abs(h), offset=data_off
    ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:  # bottom-up
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


# ---------------------------------------------------------------------------
# Feature kernels (pure numpy; FEATURE_DIM-dim float32 each).
# ---------------------------------------------------------------------------


def image_feature(img: np.ndarray) -> np.ndarray:
    """3 channel means (scaled to [0,1]) + 13-bin luma histogram."""
    means = img.reshape(-1, 3).mean(axis=0) / 255.0
    luma = (
        0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    ).ravel()
    hist = np.histogram(luma, bins=FEATURE_DIM - 3, range=(0.0, 255.0))[0]
    hist = hist.astype(np.float64) / max(luma.size, 1)
    return np.concatenate([means, hist]).astype(np.float32)


def audio_feature(wave: np.ndarray, rate: int) -> np.ndarray:
    """RMS + zero-crossing rate + 14 log-power FFT band energies."""
    if wave.size == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    rms = float(np.sqrt(np.mean(wave.astype(np.float64) ** 2)))
    zcr = float(np.mean(np.signbit(wave[1:]) != np.signbit(wave[:-1])))
    spec = np.abs(np.fft.rfft(wave.astype(np.float64))) ** 2
    bands = np.array_split(spec, FEATURE_DIM - 2)
    energy = np.array([np.log1p(b.sum()) for b in bands])
    return np.concatenate([[rms, zcr], energy]).astype(np.float32)


def byte_histogram_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Fallback feature for opaque formats (video containers here):
    byte-histogram — a pure function of the payload, deterministic."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float32)
    return (hist / max(len(arr), 1)).astype(np.float32)


# Kept under its round-1/2 name: the driver oracle and older tests
# import `_fake_feature` for the opaque-payload twin.
_fake_feature = byte_histogram_feature


def decode_feature(payload: bytes, mime: str) -> np.ndarray:
    """Route a payload to its real decoder; raise DecoderUnavailable
    for formats that need absent media libraries."""
    if payload is None or len(payload) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    if mime in ("image/x-portable-pixmap", "image/ppm"):
        return image_feature(decode_ppm(payload))
    if mime == "image/bmp":
        return image_feature(decode_bmp(payload))
    if mime in ("audio/wav", "audio/x-wav"):
        return audio_feature(*decode_wav(payload)[::-1])
    if mime in ("image/png", "image/jpeg"):
        try:
            from PIL import Image  # noqa: F401  (gated: not in sandbox)
        except ImportError as exc:
            raise DecoderUnavailable(f"{mime} needs PIL") from exc
        import io

        img = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
        return image_feature(img)
    raise DecoderUnavailable(f"no decoder for {mime}")


def extract_features(
    media: DataFrame, deterministic_fake: bool = True, dim: int = FEATURE_DIM
) -> DataFrame:
    """media table -> per-item feature vector via ``mapInPandas``.

    ``deterministic_fake=True`` (the driver-oracle mode) uses the
    byte-histogram twin for every row; ``False`` runs the real
    decode-by-mime path (PPM/BMP/WAV decoded in-executor, opaque
    video containers fall back to the byte histogram).

    Batch shape: the iterator yields one output batch per input batch;
    payload column is dropped before return so the (large) binaries
    never travel further down the plan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, mime in zip(pdf["payload"], pdf["mime"]):
                if deterministic_fake:
                    feats.append(byte_histogram_feature(payload, dim).tolist())
                else:
                    # ValueError/struct.error: malformed or mislabeled
                    # payloads (truncated RIFF, odd-length 16-bit PCM,
                    # bad PPM header) must degrade to the histogram
                    # twin, not fail the whole job — one corrupt row
                    # out of 10^12 is a certainty at scale.
                    try:
                        feats.append(decode_feature(payload, mime).tolist())
                    except (ValueError, struct.error, DecoderUnavailable):
                        feats.append(
                            byte_histogram_feature(payload, dim).tolist()
                        )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def synth_image(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB gradient-plus-stripes test image."""
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    b = (((xx + yy + i) % 16) * 17).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def synth_wave(i: int, rate: int = 8000, ms: int = 50) -> np.ndarray:
    """Deterministic two-tone sine mix."""
    t = np.arange(int(rate * ms / 1000)) / rate
    f1, f2 = 220.0 + 20.0 * (i % 7), 440.0 + 35.0 * (i % 5)
    return (
        0.6 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t)
    ).astype(np.float32)


def synth_media_table(spark, n: int = 64, real_payloads: bool = False) -> DataFrame:
    """Deterministic synthetic media table (no external data).

    ``real_payloads=False`` keeps the round-1/2 opaque byte payloads
    (the driver oracle's fixture).  ``real_payloads=True`` emits VALID
    media files: P6 PPM images and 16-bit PCM WAV audio built from
    ``media_id`` alone; video rows stay opaque deterministic bytes
    (MP4 muxing is the honest stub)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        w, h = 64 + i % 16, 48 + i % 9
        dur = (i % 10) * 1000 + 500
        if not real_payloads:
            payload = bytes(((i * 7 + j * 13) % 251) for j in range(128 + i))
            mime = {
                "image": "image/png",
                "audio": "audio/wav",
                "video": "video/mp4",
            }[kind]
        elif kind == "image":
            payload, mime = encode_ppm(synth_image(i, w, h)), "image/x-portable-pixmap"
        elif kind == "audio":
            payload, mime = encode_wav(synth_wave(i), 8000), "audio/wav"
        else:
            payload = bytes(((i * 7 + j * 13) % 251) for j in range(128 + i))
            mime = "video/mp4"
        rows.append((i, kind, payload, mime, w, h, dur))
    return local_relation(spark, rows, MEDIA_SCHEMA)
