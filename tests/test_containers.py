"""WAV (RIFF PCM) and MJPEG-AVI container codecs + their Spark operator
paths: real WAV containers through audio_features, the AVI writer read
back chunk by chunk and through its header probe."""

import numpy as np
import pytest

from granulate_char_ocr_spark.functions.avi import avi_info, encode_avi_mjpeg
from granulate_char_ocr_spark.functions.jpeg import decode_jpeg
from granulate_char_ocr_spark.functions.wav import decode_wav, encode_wav


def _tone(n=4410, seed=3):
    rng = np.random.default_rng(seed)
    return rng.normal(0, 8000, n).astype(np.int16)


def test_wav_16bit_roundtrip_exact():
    mono = _tone()
    out, rate = decode_wav(encode_wav(mono, 44100))
    assert rate == 44100
    assert np.array_equal(out, mono)


def test_wav_8_and_float32_rescale():
    mono = _tone()
    out8, _ = decode_wav(encode_wav(mono, 8000, bits=8))
    assert np.abs(out8.astype(int) - mono.astype(int)).max() < 256  # 8-bit step
    out32, _ = decode_wav(encode_wav(mono, 8000, bits=32))
    assert np.array_equal(out32, mono)  # float32 holds int16 exactly


def test_wav_stereo_downmix():
    mono = _tone()
    stereo = np.stack([mono, -(mono // 2)], axis=1)
    out, rate = decode_wav(encode_wav(stereo, 22050))
    want = np.clip(
        np.round((mono.astype(float) + (-(mono // 2)).astype(float)) / 2),
        -32768, 32767,
    ).astype(np.int16)
    assert rate == 22050
    assert np.array_equal(out, want)


def test_wav_rejects_garbage_and_compressed():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not a wav at all")
    data = bytearray(encode_wav(_tone(64), 8000))
    i = data.find(b"fmt ")
    data[i + 8] = 85  # wFormatTag -> 0x55 (MP3)
    with pytest.raises(ValueError, match="unsupported"):
        decode_wav(bytes(data))


def _frame_payloads(avi: bytes) -> list[bytes]:
    """The ``00dc`` chunk payloads of the writer's ``movi`` list."""
    out, i = [], avi.find(b"movi")
    while (i := avi.find(b"00dc", i)) >= 0:
        size = int.from_bytes(avi[i + 4 : i + 8], "little")
        out.append(avi[i + 8 : i + 8 + size])
        i += 8 + size
    return out


def test_avi_mjpeg_roundtrip_gray_and_color():
    rng = np.random.default_rng(5)
    gray = [rng.integers(0, 256, (48, 64), dtype=np.uint8) for _ in range(4)]
    avi = encode_avi_mjpeg(gray, fps=10, quality=95)
    assert avi_info(avi) == (64, 48, 4, 0.4)
    dec = [decode_jpeg(p) for p in _frame_payloads(avi)]
    assert len(dec) == 4
    for a, b in zip(gray, dec):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        assert 10 * np.log10(255**2 / mse) > 35
    color = [rng.integers(0, 256, (32, 40, 3), dtype=np.uint8) for _ in range(2)]
    avi = encode_avi_mjpeg(color, quality=90)
    assert avi_info(avi)[:3] == (40, 32, 2)
    assert decode_jpeg(_frame_payloads(avi)[0]).shape == (32, 40, 3)


def test_avi_payloads_are_standalone_jpegs():
    frames = [np.full((16, 16), 90, np.uint8)] * 3
    payloads = _frame_payloads(encode_avi_mjpeg(frames))
    assert len(payloads) == 3
    for p in payloads:
        assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert avi_info(b"RIFFxxxxWAVE") is None


def test_audio_features_wav_matches_raw(spark):
    """A WAV container through audio_features equals the raw-PCM twin
    (same samples, the container's own sample rate)."""
    import pandas as pd

    from granulate_char_ocr_spark.operators import multimodal

    mono = _tone(8000)
    pdf = pd.DataFrame(
        [
            ("raw", "audio", "raw", 0, 0, 1, 16000, mono.tobytes()),
            ("wav", "audio", "auto", 0, 0, 1, 0, encode_wav(mono, 16000)),
        ],
        columns=[
            "media_ref", "modality", "codec", "width", "height",
            "n_frames", "sample_rate", "payload",
        ],
    )
    df = spark.createDataFrame(pdf, schema=multimodal.MULTIMODAL_SCHEMA)
    rows = {
        r["media_ref"]: r
        for r in multimodal.audio_features(df).collect()
    }
    assert rows["wav"]["duration_sec"] == rows["raw"]["duration_sec"] == 0.5
    assert rows["wav"]["features"] == rows["raw"]["features"]


def test_wav_invalid_rate_and_partial_sample():
    """Review fix: rate 0 raises with WAV context; a trailing partial
    sample is trimmed instead of surfacing a numpy reshape error."""
    import struct

    data = bytearray(encode_wav(_tone(64), 8000))
    i = data.find(b"fmt ")
    data[i + 12 : i + 16] = struct.pack("<I", 0)  # nSamplesPerSec = 0
    with pytest.raises(ValueError, match="sample rate"):
        decode_wav(bytes(data))
    good = bytearray(encode_wav(_tone(64), 8000))
    j = good.find(b"data")
    # grow the declared data size by one byte and append a stray byte
    (sz,) = struct.unpack("<I", good[j + 4 : j + 8])
    good[j + 4 : j + 8] = struct.pack("<I", sz + 1)
    good.append(0x7F)
    out, rate = decode_wav(bytes(good))
    assert rate == 8000 and len(out) == 64


def test_decode_media_store_raw_fallback(spark):
    """Review fix: raw pixel payloads (no container signature) pass
    through decode_media_store unchanged when size matches w*h."""
    import pandas as pd

    from granulate_char_ocr_spark.operators.multimodal import (
        MEDIA_STORE_SCHEMA,
        decode_media_store,
    )
    from granulate_char_ocr_spark.sources.synthetic import render_word

    img = render_word("WE", 1)
    pdf = pd.DataFrame(
        [("r", "WE", img.shape[1], img.shape[0], img.tobytes())],
        columns=["media_ref", "word", "width", "height", "pixels"],
    )
    store = spark.createDataFrame(pdf, schema=MEDIA_STORE_SCHEMA)
    row = decode_media_store(store).collect()[0]
    assert bytes(row["pixels"]) == img.tobytes()
    assert (row["width"], row["height"]) == (img.shape[1], img.shape[0])
