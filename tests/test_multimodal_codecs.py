"""Real multimodal decode kernels: WAV/PPM/BMP round trips, the
decode->feature Spark path, and batch-shape edge cases.

The reference pipeline treats media as opaque binaries; these kernels
are the graft's training-data-pipeline extension (task spec): decode
is real for formats expressible with stdlib+numpy, stubbed behind
DecoderUnavailable only where media libraries are genuinely needed."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.multimodal import (
    DecoderUnavailable,
    audio_feature,
    byte_histogram_feature,
    decode_bmp,
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    extract_features,
    image_feature,
    synth_image,
    synth_media_table,
    synth_wave,
)


def test_wav_roundtrip_exact():
    wave = synth_wave(3)
    rate, back = decode_wav(encode_wav(wave, 8000))
    assert rate == 8000
    assert back.shape == wave.shape
    # 16-bit quantization + the *32767 / /32768 scale asymmetry:
    # max error 1.5 LSB
    assert np.max(np.abs(back - wave)) <= 1.5 / 32768.0 + 1e-9


def test_wav_stereo_downmix_and_8bit():
    # hand-built stereo 16-bit: L=+0.5, R=-0.5 -> mono 0
    pcm = np.array([16384, -16384] * 10, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    payload = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        b"fmt " + struct.pack("<I", 16) + fmt + b"data"
        + struct.pack("<I", len(pcm)) + pcm
    )
    rate, mono = decode_wav(payload)
    assert rate == 8000 and mono.shape == (10,)
    assert np.allclose(mono, 0.0)

    # 8-bit unsigned: 128 -> 0.0, 255 -> ~+1, 0 -> -1
    pcm8 = bytes([128, 255, 0])
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    payload8 = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm8)) + b"WAVE"
        b"fmt " + struct.pack("<I", 16) + fmt8 + b"data"
        + struct.pack("<I", len(pcm8)) + pcm8
    )
    _, w8 = decode_wav(payload8)
    assert np.allclose(w8, [0.0, 127 / 128.0, -1.0])


def test_wav_rejects_and_stubs():
    with pytest.raises(ValueError):
        decode_wav(b"nope")
    # float PCM (format 3) is the honest stub
    fmtf = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    payload = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        b"fmt " + struct.pack("<I", 16) + fmtf + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(DecoderUnavailable):
        decode_wav(payload)


def test_ppm_roundtrip_and_comments():
    img = synth_image(5, 17, 11)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    # header comments are legal PPM
    raw = b"P6\n# a comment\n2 1\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    assert decode_ppm(raw).tolist() == [[[1, 2, 3], [4, 5, 6]]]


def test_bmp_decode_bottom_up_padding():
    # 2x2 24-bit BMP, bottom-up, stride padded 6->8 bytes.
    # rows on disk: bottom row first, BGR order.
    px = {
        "tl": (255, 0, 0),  # red
        "tr": (0, 255, 0),  # green
        "bl": (0, 0, 255),  # blue
        "br": (255, 255, 255),
    }
    def bgr(p):
        return bytes([p[2], p[1], p[0]])
    raster = (
        bgr(px["bl"]) + bgr(px["br"]) + b"\x00\x00"
        + bgr(px["tl"]) + bgr(px["tr"]) + b"\x00\x00"
    )
    header = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(raster), 0, 0, 0, 0)
    img = decode_bmp(header + info + raster)
    assert img.shape == (2, 2, 3)
    assert tuple(img[0, 0]) == px["tl"] and tuple(img[0, 1]) == px["tr"]
    assert tuple(img[1, 0]) == px["bl"] and tuple(img[1, 1]) == px["br"]


def test_feature_kernels_shapes():
    assert image_feature(synth_image(1, 8, 8)).shape == (16,)
    assert audio_feature(synth_wave(1), 8000).shape == (16,)
    assert audio_feature(np.array([], dtype=np.float32), 8000).shape == (16,)
    assert byte_histogram_feature(b"").tolist() == [0.0] * 16
    hist = byte_histogram_feature(bytes(range(64)))
    assert abs(sum(hist) - 1.0) < 1e-6


def test_extract_features_real_decode_matches_numpy_twin(spark):
    media = synth_media_table(spark, 30, real_payloads=True)
    out = {
        r.media_id: r
        for r in extract_features(media, deterministic_fake=False).collect()
    }
    assert len(out) == 30
    for i in range(30):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w, h = 64 + i % 16, 48 + i % 9
            expect = image_feature(synth_image(i, w, h))
        elif kind == "audio":
            # twin goes through the same 16-bit PCM quantization
            rate, wave = decode_wav(encode_wav(synth_wave(i), 8000))
            expect = audio_feature(wave, rate)
        else:  # opaque video container -> byte-histogram fallback
            payload = bytes(((i * 7 + j * 13) % 251) for j in range(128 + i))
            expect = byte_histogram_feature(payload)
        got = np.array(out[i].feature, dtype=np.float32)
        assert np.array_equal(got, expect), f"media {i} ({kind})"


def test_multimodal_zero_row_and_null_payload(spark):
    media = synth_media_table(spark, 6, real_payloads=True)
    empty = media.where(F.col("media_id") < 0)
    assert extract_features(empty, deterministic_fake=False).count() == 0
    nulled = media.withColumn(
        "payload", F.when(F.col("media_id") % 2 == 0, F.col("payload"))
    )
    rows = extract_features(nulled, deterministic_fake=False).collect()
    for r in rows:
        if r.media_id % 2 == 1:
            assert r.n_bytes == 0 and r.feature == [0.0] * 16


def test_extract_features_corrupt_payload_falls_back(spark):
    """ADVICE r3 (low): a corrupt or mislabeled payload (truncated
    WAV, garbage bytes under an image mime, odd-length 16-bit PCM)
    must fall back to the byte-histogram feature, not fail the job."""
    wav = encode_wav(synth_wave(3), 8000)
    rows = [
        (0, "audio", "audio/wav", b"P6 2 2 255 junkjunkjunk"),  # mislabeled
        (1, "audio", "audio/wav", wav[:-1]),                   # odd 16-bit data
        (2, "image", "image/x-portable-pixmap", b"nonsense"),  # bad PPM header
        (3, "image", "image/bmp", b"BMtiny"),                  # truncated BMP
        (4, "audio", "audio/wav", wav),                        # healthy control
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, payload binary"
    )
    out = {
        r.media_id: r
        for r in extract_features(media, deterministic_fake=False).collect()
    }
    assert len(out) == 5
    for i, (_mid, _kind, _mime, payload) in enumerate(rows[:4]):
        expect = byte_histogram_feature(payload)
        assert np.allclose(
            np.array(out[i].feature, dtype=np.float32), expect
        ), f"row {i} did not fall back"
    rate, wave = decode_wav(wav)
    assert np.array_equal(
        np.array(out[4].feature, dtype=np.float32), audio_feature(wave, rate)
    )
