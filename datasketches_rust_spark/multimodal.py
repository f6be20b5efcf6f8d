"""Multimodal binary-column operators (image/audio/video as opaque
``binary`` columns + typed metadata; decode and feature extraction as
one ``mapInArrow`` pass, scan.sketch_pass).

What is REAL here: schemas, partitioning, UDF signatures, batch shapes,
the PNG decode path (sources/codec.py), and the WAV/RIFF PCM audio codec
(decode_wav/encode_wav/resample_audio — pure numpy, no codec library
needed). What is STUBBED (clearly marked): JPEG and compressed
audio/video codecs — the sandbox has no imaging/ffmpeg libraries; each
stub raises NotImplementedError or applies a deterministic fake, and the
surrounding Spark plumbing is tested either way.

Batch-shape discipline for large binaries: callers should set
spark.sql.execution.arrow.maxRecordsPerBatch so that
(records x avg_blob_size) stays well under worker memory (config.py
defaults to 10k records; at 1 MB images use ~256).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from datasketches_rust_spark.sources.codec import decode_image

IMAGE_FEATURES = ("w int, h int, fmt string, mean_r double, mean_g double, "
                  "mean_b double, std_gray double, phash bigint")


def decode_images(batch) -> list[np.ndarray]:
    """The pixels of every (``bytes``, ``fmt``) row of an Arrow batch,
    decoded per row (compressed buffers have no batch form)."""
    return [decode_image(b, f) for b, f in zip(
        batch.column("bytes").to_pylist(), batch.column("fmt").to_pylist())]


def _image_features_kernel(batch):
    """scan.sketch_pass kernel: decoded ``bytes`` -> IMAGE_FEATURES."""
    from datasketches_rust_spark.sources.phash import phash_batch

    pix = decode_images(batch)
    stats = np.array([(px[..., 0].mean(), px[..., 1].mean(),
                       px[..., 2].mean(), px.mean(axis=2).std())
                      for px in pix])
    return None, {
        "w": pa.array([px.shape[1] for px in pix], pa.int32()),
        "h": pa.array([px.shape[0] for px in pix], pa.int32()),
        "fmt": batch.column("fmt"),
        **{c: pa.array(stats[:, i]) for i, c in
           enumerate(("mean_r", "mean_g", "mean_b", "std_gray"))},
        "phash": pa.array(phash_batch(pix), pa.int64())}


def image_features(images: DataFrame) -> DataFrame:
    """Decode + per-channel feature extraction, one Arrow batch at a time.
    Input needs (image_id, bytes, fmt); output image_id + IMAGE_FEATURES."""
    from datasketches_rust_spark.scan import sketch_pass

    return sketch_pass(images, "image_id", ["bytes", "fmt"],
                       _image_features_kernel, IMAGE_FEATURES)


# ---------------------------------------------------------------------------
# audio — REAL WAV (RIFF/PCM) codec, pure numpy
# ---------------------------------------------------------------------------

def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """REAL WAV decoder (RIFF little-endian, PCM16/PCM8/float32; mono or
    multichannel mixed down to mono float64 in [-1, 1]). Pure numpy —
    WAV is a trivial chunked container, no codec library needed. Raises
    ValueError on malformed input.

    Returns (samples: float64 (n,), sample_rate).
    """
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        ln = int(np.frombuffer(buf, "<u4", 1, pos + 4)[0])
        body = buf[pos + 8:pos + 8 + ln]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            audio_fmt, channels = np.frombuffer(body, "<u2", 2, 0)
            sample_rate = int(np.frombuffer(body, "<u4", 1, 4)[0])
            bits = int(np.frombuffer(body, "<u2", 1, 14)[0])
            fmt = (int(audio_fmt), int(channels), sample_rate, bits)
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, channels, sample_rate, bits = fmt
    if channels < 1:
        raise ValueError("zero channels")
    if audio_fmt == 1 and bits == 16:
        x = np.frombuffer(data[:len(data) // 2 * 2], "<i2") \
            .astype(np.float64) / 32768.0
    elif audio_fmt == 1 and bits == 8:  # PCM8 is unsigned, 128-centered
        x = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_fmt == 3 and bits == 32:
        x = np.frombuffer(data[:len(data) // 4 * 4], "<f4") \
            .astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV format {audio_fmt}/{bits}-bit")
    n = len(x) // channels * channels
    return x[:n].reshape(-1, channels).mean(axis=1), sample_rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """REAL WAV encoder: mono float in [-1, 1] -> PCM16 RIFF bytes."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm = np.round(pcm * 32767.0).astype("<i2")
    data = pcm.tobytes()
    hdr = (b"RIFF"
           + np.uint32(36 + len(data)).astype("<u4").tobytes()
           + b"WAVEfmt "
           + np.uint32(16).astype("<u4").tobytes()
           + np.array([1, 1], "<u2").tobytes()          # PCM, mono
           + np.uint32(sample_rate).astype("<u4").tobytes()
           + np.uint32(sample_rate * 2).astype("<u4").tobytes()
           + np.array([2, 16], "<u2").tobytes()          # block, bits
           + b"data"
           + np.uint32(len(data)).astype("<u4").tobytes())
    return hdr + data


def resample_audio(samples: np.ndarray, sr_in: int, sr_out: int
                   ) -> np.ndarray:
    """Linear-interpolation resample (the feature-extraction-grade
    resampler; swap for polyphase in a real deployment)."""
    if sr_in == sr_out or samples.size == 0:
        return np.asarray(samples, dtype=np.float64)
    n_out = max(int(round(samples.size * sr_out / sr_in)), 1)
    xp = np.arange(samples.size, dtype=np.float64)
    xq = np.linspace(0.0, samples.size - 1.0, n_out)
    return np.interp(xq, xp, np.asarray(samples, dtype=np.float64))


def _decode_audio_stub(buf: bytes) -> tuple[np.ndarray, int]:
    """Fallback for headerless payloads: interpret the bytes as raw int16
    PCM at 16 kHz (deterministic; compressed formats like mp3/ogg would
    need ffmpeg — not in this sandbox)."""
    n = (len(buf) // 2) * 2
    pcm = np.frombuffer(buf[:n], dtype="<i2").astype(np.float64) / 32768.0
    return pcm, 16000


def _decode_audio(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE payloads go through the REAL decoder; anything else
    falls back to the raw-PCM interpretation."""
    if buf[:4] == b"RIFF":
        return decode_wav(buf)
    return _decode_audio_stub(buf)


def decode_clips(batch) -> list[tuple[np.ndarray, int]]:
    """(samples, sample rate) of every ``bytes`` row of an Arrow batch."""
    return [_decode_audio(b) for b in batch.column("bytes").to_pylist()]
