"""Multimodal plumbing tests: image decode/feature extraction through a
real mapInPandas stage, and the audio decode routes (real WAV codec,
raw-PCM fallback)."""

import numpy as np
import pytest

from datasketches_rust_spark.multimodal import _decode_audio, image_features
from datasketches_rust_spark.sources.images import images_spark_df


@pytest.fixture(scope="module")
def images(spark):
    df, _ = images_spark_df(spark, 60, seed=5, partitions=4)
    return df.localCheckpoint()


def test_image_features(spark, images):
    feats = image_features(images).collect()
    assert len(feats) == 60
    for r in feats[:5]:
        assert r["w"] == r["h"] == 32
        assert 0 <= r["mean_r"] <= 255
        assert r["std_gray"] > 0
    # phash recomputed from bytes matches the stored column
    stored = {r["image_id"]: r["phash"] for r in images.collect()}
    for r in feats:
        assert r["phash"] == stored[r["image_id"]]


def test_audio_features_stub():
    """Headerless payloads fall back to raw int16 PCM at 16 kHz."""
    pcm = (np.sin(np.linspace(0, 100, 16000)) * 20000).astype("<i2")
    x, sr = _decode_audio(pcm.tobytes())
    assert sr == 16000
    assert x.size == 16000
    assert 0.3 < np.sqrt(np.mean(x ** 2)) < 0.7


class TestWavCodec:
    """Real WAV/RIFF PCM codec (multimodal.decode_wav / encode_wav)."""

    def test_roundtrip_pcm16(self):
        from datasketches_rust_spark.multimodal import decode_wav, encode_wav
        sr = 22050
        t = np.linspace(0, 1, sr, endpoint=False)
        x = 0.5 * np.sin(2 * np.pi * 440 * t)
        back, sr_back = decode_wav(encode_wav(x, sr))
        assert sr_back == sr and back.size == sr
        # PCM16 quantization error bound: 1/32767 per sample
        assert np.abs(back - x).max() < 1.0 / 32000

    def test_stereo_mixdown_and_float32(self):
        from datasketches_rust_spark.multimodal import decode_wav
        # hand-assemble a stereo float32 WAV: L = 0.5, R = -0.5 -> mono 0
        data = np.zeros(200, dtype="<f4")
        data[0::2], data[1::2] = 0.5, -0.5
        body = data.tobytes()
        fmt = (np.array([3, 2], "<u2").tobytes()
               + np.uint32(8000).astype("<u4").tobytes()
               + np.uint32(8000 * 8).astype("<u4").tobytes()
               + np.array([8, 32], "<u2").tobytes())
        buf = (b"RIFF" + np.uint32(36 + len(body)).astype("<u4").tobytes()
               + b"WAVEfmt " + np.uint32(16).astype("<u4").tobytes() + fmt
               + b"data" + np.uint32(len(body)).astype("<u4").tobytes()
               + body)
        x, sr = decode_wav(buf)
        assert sr == 8000 and x.size == 100
        assert np.abs(x).max() == 0.0

    def test_skips_unknown_chunks(self):
        from datasketches_rust_spark.multimodal import decode_wav, encode_wav
        wav = encode_wav(np.zeros(10), 8000)
        # splice a LIST metadata chunk between fmt and data
        head, data_chunk = wav[:36], wav[36:]
        extra = b"LIST" + np.uint32(4).astype("<u4").tobytes() + b"INFO"
        x, sr = decode_wav(head + extra + data_chunk)
        assert sr == 8000 and x.size == 10

    def test_malformed_rejected(self):
        from datasketches_rust_spark.multimodal import decode_wav
        import pytest as _pytest
        for bad in (b"", b"RIFFxxxxWAVE", b"nope" * 10,
                    b"RIFF\x00\x00\x00\x00WAVEdata\x04\x00\x00\x00abcd"):
            with _pytest.raises(ValueError):
                decode_wav(bad)

    def test_resample_preserves_duration_and_tone(self):
        from datasketches_rust_spark.multimodal import resample_audio
        sr_in, sr_out = 16000, 8000
        t = np.linspace(0, 1, sr_in, endpoint=False)
        x = np.sin(2 * np.pi * 100 * t)
        y = resample_audio(x, sr_in, sr_out)
        assert y.size == sr_out
        # same RMS for a tone far below both Nyquists
        assert abs(np.sqrt((y ** 2).mean()) - np.sqrt((x ** 2).mean())) < 0.01


def test_audio_features_real_wav():
    """_decode_audio must route RIFF payloads through the REAL decoder:
    sample_rate comes from the wav header, not the 16 kHz raw fallback."""
    from datasketches_rust_spark.multimodal import encode_wav
    sr = 44100
    t = np.linspace(0, 0.5, sr // 2, endpoint=False)
    wav = encode_wav(0.5 * np.sin(2 * np.pi * 440 * t), sr)
    x, sr_got = _decode_audio(wav)
    assert sr_got == sr
    assert x.size == sr // 2
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert abs(np.sqrt(np.mean(x ** 2)) - 0.5 / np.sqrt(2)) < 0.01
