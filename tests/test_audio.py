"""Audio axis: fingerprint invariances, Spark-vs-numpy kernel parity,
and the pipeline recall/precision gate vs planted ground truth, which
gates the audio_dedup_clusters query class."""

from collections import defaultdict

import numpy as np

from datasketches_rust_spark.multimodal import (
    decode_wav,
    encode_wav,
    resample_audio,
)
from datasketches_rust_spark.sketches.audiofp import (
    audio_fingerprint64,
    audio_sketch,
    band_energies,
)
from datasketches_rust_spark.sources.audio import (
    BASE_SR,
    _base_pcm,
    audio_spark_df,
    generate_clips,
)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_fingerprint_invariances():
    pcm = _base_pcm(42, 7)
    f0, ft0 = audio_sketch(pcm, BASE_SR)
    # gain: EXACT invariance (band means scale together)
    fg, ftg = audio_sketch(pcm * 0.3, BASE_SR)
    assert _ham(f0, fg) == 0
    assert float(ft0 @ ftg) > 0.9999
    # WAV PCM16 round-trip
    dec, sr = decode_wav(encode_wav(pcm, BASE_SR))
    fw, _ = audio_sketch(dec, sr)
    assert _ham(f0, fw) <= 1
    # resample 2x: absolute-Hz bands keep the code close
    rs = resample_audio(pcm, BASE_SR, 16000)
    fr, ftr = audio_sketch(rs, 16000)
    assert _ham(f0, fr) <= 8
    assert float(ft0 @ ftr) > 0.99
    # noise within fixture sigma
    noisy = pcm + np.random.default_rng(1).normal(0, 0.016, pcm.size)
    fn, ftn = audio_sketch(noisy, BASE_SR)
    assert _ham(f0, fn) <= 8
    assert float(ft0 @ ftn) > 0.99


def test_feature_is_gain_and_envelope_free():
    pcm = _base_pcm(42, 3)
    env = np.linspace(0.2, 1.0, pcm.size)  # strong ramp
    _, a = audio_sketch(pcm, BASE_SR)
    _, b = audio_sketch(pcm * env * 0.5, BASE_SR)
    assert float(a @ b) > 0.999


def test_distinct_clips_separate():
    fps = [audio_fingerprint64(_base_pcm(42, i), BASE_SR)
           for i in range(30)]
    ds = [_ham(fps[i], fps[j])
          for i in range(30) for j in range(i + 1, 30)]
    assert min(ds) >= 10  # melodic fixture: distinct sit ~25-32 bits


def test_empty_and_silent_clips():
    assert audio_fingerprint64(np.zeros(0), BASE_SR) == 0
    f, ft = audio_sketch(np.zeros(4000), BASE_SR)
    assert f == 0 and not np.any(np.isnan(ft))


def test_fingerprint_matches_bit_loop():
    """The packed code is the segment-major sign matrix with bit i =
    cell i: the values a 64-step shift loop gives."""
    from datasketches_rust_spark.multimodal import _decode_audio
    fps = []
    for r in generate_clips(50, seed=42)[0].itertuples():
        pcm, sr = _decode_audio(bytes(r.bytes))
        e = band_energies(pcm, sr)
        bits = (e > e.mean(axis=0, keepdims=True)).reshape(-1)
        v = np.uint64(0)
        for i in range(64):
            if bits[i]:
                v |= np.uint64(1) << np.uint64(i)
        fps.append(audio_fingerprint64(pcm, sr))
        assert fps[-1] == int(v.astype(np.int64))
    assert min(fps) < 0 < max(fps)  # the sign bit is exercised


def test_pipeline_recall_precision_and_kernel_parity(spark):
    from datasketches_rust_spark.multimodal import _decode_audio
    from datasketches_rust_spark.pipeline_audio import (
        audio_cluster_assignments,
        audio_sketch_table,
    )

    clips, truth = audio_spark_df(spark, 2000, seed=42)

    # Spark sketch table == driver-side kernel on the same bytes
    local = generate_clips(50, seed=42)[0]
    sk = {r.clip_id: r.afp for r in
          audio_sketch_table(clips.limit(0).unionByName(
              spark.createDataFrame(
                  local, schema="clip_id string, bytes binary, "
                                "sr int, n_samples long"))).collect()}
    for r in local.itertuples():
        pcm, sr = _decode_audio(bytes(r.bytes))
        assert sk[r.clip_id] == audio_fingerprint64(pcm, sr)

    got = audio_cluster_assignments(clips).collect()
    t = {r.clip_id: r.cluster_id for r in truth.collect()}
    g = {r.clip_id: r.cluster_id for r in got}
    assert set(t) == set(g)
    tc, gc = defaultdict(set), defaultdict(set)
    for k, v in t.items():
        tc[v].add(k)
    for k, v in g.items():
        gc[v].add(k)
    tp = {frozenset((a, b)) for m in tc.values()
          for a in m for b in m if a < b}
    gp = {frozenset((a, b)) for m in gc.values()
          for a in m for b in m if a < b}
    inter = len(tp & gp)
    assert inter / len(tp) >= 0.99       # pair recall
    assert inter / max(len(gp), 1) >= 0.99   # pair precision
