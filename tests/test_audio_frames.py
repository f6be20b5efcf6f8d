"""Frame-level audio sub-fingerprints (the Haitsma-Kalker design that
removes the clip-level pipeline's two documented limits): kernel
alignment/invariance, the CAPABILITY pin (frame pipeline finds trimmed
copies that clip-level edges provably miss), the shared-intro
temporal-vote non-link, and the recall=precision gate on the planted
2k frame-axis fixture, which gates the audio_frame_dedup_clusters query
class."""

from collections import defaultdict

import numpy as np

from datasketches_rust_spark.sketches.audiofp import (
    audio_frame_codes,
    audio_sketch,
)
from datasketches_rust_spark.sources.audio import (
    AUDIO_FRAME_HOP_SAMPLES,
    BASE_SR,
    _base_pcm,
    _base_pcm_shared_intro,
    audio_frames_spark_df,
)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_frame_codes_shape_and_determinism():
    pcm = _base_pcm(42, 7)
    c1 = audio_frame_codes(pcm, BASE_SR)
    c2 = audio_frame_codes(pcm, BASE_SR)
    assert len(c1) == 12  # (4000 - 1024) // 256 + 1
    assert (c1 == c2).all()
    # frames see different content -> codes differ across the clip
    assert len(set(c1.tolist())) > 6


def test_trim_aligns_at_hop_granularity():
    """The fixture contract: dropping k hops leaves frames k.. matching
    the base BIT-FOR-BIT (same samples, same FFT)."""
    pcm = _base_pcm(42, 3)
    base = audio_frame_codes(pcm, BASE_SR)
    for k in (1, 2, 4):
        trimmed = audio_frame_codes(
            pcm[k * AUDIO_FRAME_HOP_SAMPLES:], BASE_SR)
        assert (base[k:k + len(trimmed)] == trimmed).all()
        assert len(trimmed) >= 8  # enough matches for the >= 4 vote


def test_trim_scrambles_clip_code_but_not_frame_codes():
    """WHY frame-level exists: the trimmed copy's CLIP code is far from
    the base's (time segments slide across different content, past any
    candidate gate), while >= 8 frame codes still match exactly."""
    pcm = _base_pcm(42, 11)
    k = 4
    trimmed = pcm[k * AUDIO_FRAME_HOP_SAMPLES:]
    clip_d = _ham(audio_sketch(pcm, BASE_SR)[0],
                  audio_sketch(trimmed, BASE_SR)[0])
    assert clip_d > 12  # past AUDIO_PREFILTER_HAMMING — clip axis blind
    base_f = audio_frame_codes(pcm, BASE_SR)
    trim_f = audio_frame_codes(trimmed, BASE_SR)
    matched = sum(int(a == b) for a, b in zip(base_f[k:], trim_f))
    assert matched >= 8


def test_gain_invariance_per_frame():
    pcm = _base_pcm(42, 5)
    a = audio_frame_codes(pcm, BASE_SR)
    b = audio_frame_codes(pcm * 0.3, BASE_SR)
    assert (a == b).all()


def test_shared_intro_matches_few_frames():
    """The temporal-vote margin: a 3-note shared intro matches at most
    ~2 leading frames — safely under AUDIO_MIN_FRAME_MATCHES=4, while
    trimmed dups match >= 8."""
    base = audio_frame_codes(_base_pcm(42, 2), BASE_SR)
    neg = audio_frame_codes(
        _base_pcm_shared_intro(42, 999, 2), BASE_SR)
    near = sum(1 for a in base for b in neg if _ham(int(a), int(b)) <= 3)
    assert near <= 3


def test_frame_pipeline_recall_precision(spark):
    from datasketches_rust_spark.pipeline_audio import (
        audio_frame_cluster_assignments)

    clips, truth = audio_frames_spark_df(spark, 2000, seed=42)
    got = audio_frame_cluster_assignments(clips).collect()
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
    assert inter / len(tp) >= 0.99        # pair recall
    assert inter / max(len(gp), 1) >= 0.99    # pair precision


def test_clip_pipeline_misses_trimmed_dups(spark):
    """The capability delta, pinned end-to-end: on the frame-axis
    fixture the CLIP-level pipeline loses the trimmed ('caption' role)
    dups that the frame pipeline recovers."""
    from datasketches_rust_spark.pipeline_audio import (
        audio_cluster_assignments,
        audio_frame_cluster_assignments,
    )
    from datasketches_rust_spark.sources.audio import (
        materialize_clips_frameset)
    from datasketches_rust_spark.sources.images import plan_clusters

    n = 300
    plan = plan_clusters(n, 42, 0.30)
    pdf = materialize_clips_frameset(range(n), plan, 42)
    trimmed = {f"clip_{i:010d}" for i, (kind, _) in enumerate(plan)
               if kind == "caption"}
    assert trimmed  # fixture must exercise the role
    clips = spark.createDataFrame(
        pdf.drop(columns="cluster_id"),
        schema="clip_id string, bytes binary, sr int, n_samples long")
    truth = {r.clip_id: r.cluster_id for r in spark.createDataFrame(
        pdf[["clip_id", "cluster_id"]]).collect()}

    def dup_hit_rate(assign_rows):
        g = {r.clip_id: r.cluster_id for r in assign_rows}
        hits = sum(
            1 for c in trimmed
            if any(g[c] == g[o] for o, cl in truth.items()
                   if o != c and cl == truth[c]))
        return hits / len(trimmed)

    frame_rate = dup_hit_rate(audio_frame_cluster_assignments(clips)
                              .collect())
    clip_rate = dup_hit_rate(audio_cluster_assignments(clips).collect())
    assert frame_rate >= 0.99
    # clip codes lose most trimmed copies (the smallest 1-hop trims —
    # a 6.4% shift — sometimes stay inside the clip Hamming gate;
    # anything larger scrambles the fixed time segments): measured
    # ~0.26 here vs 1.0 for the frame pipeline
    assert clip_rate <= 0.5
    assert frame_rate - clip_rate >= 0.5
