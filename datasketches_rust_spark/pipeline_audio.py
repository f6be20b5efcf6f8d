"""Audio-axis near-dup pipeline: WAV decode -> (64-bit sign code +
8x8 spectral-shape feature) in ONE pass (sketches/audiofp.py) ->
slice-triple banding on the code (operators/visual.simhash_pairs, the
one Hamming-code pair operator: one band exchange, one Arrow bucket
pass, JVM Hamming gate, pair dedup) -> JVM dot-product verify on
the features -> connected components. Completes the modality set next to
text (MinHash/LSH), image (phash), and embedding (cosine-LSH/IVF)
dedup.

Scale discipline, inherited from the image/text axes:
- decode + FFT run ONCE per clip in one mapInArrow pass at the scan
  (scan.sketch_pass); the bytes column never travels past it.
- candidate generation shuffles (id, band_key, afp) rows — 24 bytes —
  through ONE band_key exchange (the triple-slice keyspace: see
  AUDIO_SLICE_TRIPLES for the measured entropy ladder that chose it)
  into the one bucket pass of operators/lsh.py, with hot buckets
  star-degraded (simhash_pairs with AUDIO_BAND_LAYOUT).
- the 256-byte feature vectors do NOT ride the band shuffle: the
  Hamming prefilter (bit_count(xor) <= 12, whole-stage codegen) and
  pair-distinct run on 16-byte id pairs first, and features join back
  once for the survivors (the ANN id-only/vectors-rejoin-once
  pattern). Verify = F.aggregate(zip_with(...)) dot product, all-JVM.
- candidate recall: a dup pair collides when all THREE slices of some
  ring combo are flip-free — with dup distance <= ~8 bits spread over
  8 slices, measured truth-pair coverage is 0.9974 direct / 0.9977
  after closure at 60k, 0.9981 at 240k, 1.0 at 2k; pair recall AND
  precision after closure are 1.0 at the 2k gate (verify margin dup
  >= 0.9997 vs colliding-distinct <= 0.876, threshold 0.95).
- CC is two jobs (driver finish); string clip ids ride as xxhash64 longs
  through the shuffle-heavy middle (connected_components.assign_clusters,
  the one cluster-assignment path of every modality).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from datasketches_rust_spark.multimodal import decode_clips
from datasketches_rust_spark.scan import fixed_lists, sketch_pass

AUDIO_PREFILTER_HAMMING = 12  # cheap candidate cut; verify decides
AUDIO_VERIFY_COSINE = 0.95    # dup >= 0.9997, distinct <= 0.876

# Candidate keys are TRIPLES of 8-bit code slices (24-bit keys, 24
# ring combos at strides 1/2/3), arrived at by measurement up the
# entropy ladder:
# - single 8-bit slices (one segment's band bits) carry ~6 effective
#   bits: buckets hit 4.6k members at 60k clips and 573M pair events.
#   That OOMed the JVM pair shape of the time, which built a bucket's
#   ~size^2/2 pair structs in one array; the bucket pass now emits
#   pairs in Arrow batches, but 573M events is still the volume wall.
# - PAIR keys (16-bit) fix 60k (max bucket 499, 26M events at hot-cap
#   256) but the cap must scale with n to hold recall — measured at
#   240k: cap 256 drops coverage to 0.9229 (pipeline recall 0.926),
#   and the cap (937) that restores 0.9993 costs 385M cold events.
#   That's the n^2 wall arriving at 10^5.5.
# - TRIPLE keys (~18 effective bits) push the wall out: at 240k,
#   coverage 0.9981 with 61M events and ZERO star-degraded buckets at
#   cap 256; at 60k, 0.9974 direct / 0.9977 after closure with 4.2M
#   events (6x cheaper than pairs). 24 ring combos are the knee (all
#   56 triples: 0.9997 for 2.3x the volume and rows).
# Honest scale note: clip-LEVEL codes cap out around ~30 bits of
# entropy, so candidate volume still grows ~n^2/2^18 — web-scale
# audio matching wants frame-level sub-fingerprints with an inverted
# index (Haitsma-Kalker's original design); the clip-dedup axis here
# targets corpus dedup through the 10^6-10^7 clip range.
AUDIO_SLICE_TRIPLES = (
    [(i, (i + 1) % 8, (i + 2) % 8) for i in range(8)]
    + [(i, (i + 2) % 8, (i + 4) % 8) for i in range(8)]
    + [(i, (i + 3) % 8, (i + 6) % 8) for i in range(8)])
# 8-bit slices of the code, keyed in triples (operators/visual
# simhash_bands: combo index in bits 24+)
AUDIO_BAND_LAYOUT = (8, AUDIO_SLICE_TRIPLES)

# Hot-bucket cap: with triple keys no 240k bucket reaches it (max
# bucket < 256 measured); it guards pathological skew (e.g. a corpus
# of near-identical clips, where star degrade + verify is the right
# collapse) rather than shaping routine volume.
AUDIO_MAX_BUCKET = 256

def _clip_sketch_kernel(batch):
    """scan.sketch_pass kernel: clip bytes -> (afp, feat)."""
    from datasketches_rust_spark.sketches.audiofp import audio_sketch
    sk = [audio_sketch(pcm, sr) for pcm, sr in decode_clips(batch)]
    return None, {"afp": pa.array([fp for fp, _ in sk], pa.int64()),
                  "feat": fixed_lists(np.stack([ft for _, ft in sk]))}


def audio_sketch_table(clips: DataFrame, id_col: str = "clip_id"
                       ) -> DataFrame:
    """DataFrame[id_col, afp, feat] — decode + FFT once per clip in one
    Arrow pass, tracked-persisted and materialized with one count():
    three plans read it (the band exchange's codes and both feature
    rejoins of the verify), and without the eager single-job
    materialization concurrent AQE leaf stages serialize on
    per-partition cache locks while holding task slots."""
    from datasketches_rust_spark.cache import track

    sk = track(sketch_pass(clips, id_col, ["bytes"], _clip_sketch_kernel,
                           "afp bigint, feat array<float>"))
    sk.count()
    return sk


def audio_edges(sk: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """DataFrame[id_a, id_b] — verified near-dup clip pairs from a
    sketch table (audio_sketch_table output)."""
    from datasketches_rust_spark.operators.visual import simhash_pairs

    pairs = simhash_pairs(sk, id_col, "afp", AUDIO_PREFILTER_HAMMING,
                          AUDIO_MAX_BUCKET, layout=AUDIO_BAND_LAYOUT)
    fa = sk.select(F.col(id_col).alias("id_a"),
                   F.col("feat").alias("__fa"))
    fb = sk.select(F.col(id_col).alias("id_b"),
                   F.col("feat").alias("__fb"))
    dot = F.aggregate(
        F.zip_with("__fa", "__fb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"))
    return (pairs.join(fa, "id_a").join(fb, "id_b")
            .where(dot >= AUDIO_VERIFY_COSINE)
            .select("id_a", "id_b"))


def audio_cluster_assignments(clips: DataFrame,
                              id_col: str = "clip_id") -> DataFrame:
    """DataFrame[clip_id, cluster_id] — cluster_id = min member
    clip_id; singletons map to themselves (never enter the iteration)."""
    from datasketches_rust_spark.operators.connected_components import \
        assign_clusters

    return assign_clusters(
        clips, lambda df, c: audio_edges(audio_sketch_table(df, c), c),
        id_col)


# ---------------------------------------------------------------------------
# Frame-level sub-fingerprint pipeline (round 4)
# ---------------------------------------------------------------------------
# The clip-level pipeline above honestly documents its two limits:
# ~30 bits of clip-code entropy (candidate volume ~n^2/2^18 past
# 10^6-10^7 clips) and zero time-shift invariance. This is the
# Haitsma-Kalker frame-level design that removes both, wired through
# the VIDEO pipeline's exact machinery (per-frame 64-bit code ->
# simhash banding -> temporal vote >= k distinct matched frames ->
# CC):
#   - candidate volume is LINEAR-BOUNDED by construction (the ladder
#     of tools/scaling.py --axis audio_frames measures it): matching is
#     two-tier over CODES, not frames. The exact tier is an inverted
#     index on the full 64-bit code restricted to INFORMATIVE codes
#     (clip-df <= AUDIO_FRAME_CODE_DF_CAP — the text LSH's hot-gram
#     df-cap: a code shared by hundreds of clips identifies nothing
#     and would be the volume). The near tier (noise dups whose
#     frames flip a few bits) bands only the DISTINCT informative
#     code table with the clip pipeline's measured triple-slice
#     24-bit keys and a hard star cap, so its event count is
#     <= n_distinct_codes x cap x combos — linear, with the star
#     recall tax measured end-to-end, not assumed. (A first draft
#     banded raw FRAME rows with 16-bit slices, the video shape
#     verbatim — measured ~5.5 effective bits/slice on this content
#     and 20M pair events at just 4k clips, a quadratic curve; codes,
#     not frames, are the right candidate universe.)
#   - a trimmed/shifted copy aligns at hop granularity (32 ms) and
#     matches most surviving frames bit-for-bit, which the clip code
#     cannot (tests pin that clip-level edges MISS the trimmed dups
#     this pipeline finds);
#   - a shared intro (the fixture's 3-note hard negative) stays under
#     the fractional quorum, exactly like the video pipeline's
#     shared-intro-frame discipline — see the quorum constants below
#     for the measured margins that forced a FRACTION, not a flat
#     count.
# Frame rows are (xxhash64(clip, idx), code) 16-byte shuffle rows; the
# vote aggregates distinct matched frame indices of the SMALLER clip
# (a frame matching several frames of the other clip is ONE match —
# the 75% overlap makes neighbor frames of a dup pair collide too,
# which must not inflate the vote).

AUDIO_FRAME_HAMMING = 3      # per-frame near-dup gate
# The vote is a FRACTIONAL QUORUM, not a flat count: a pair links when
# the distinct matched frames of the vote-side clip reach
# max(AUDIO_MIN_FRAME_MATCHES, ceil(AUDIO_FRAME_QUORUM * its frame
# count)). A flat >= 4 is not enough: two DISTINCT clips that both
# copy the same 3-note intro (the fixture's hard-negative pairs with a
# shared base) share an IDENTICAL leading 1500 samples with each other
# and measure up to exactly 4 matched frames — while real dups match
# >= 8 of 8-12. "Half the shorter clip's content matches" is also the
# honest dup semantics (containment), where "some intro matches" is
# not. Measured margins: shared-intro pairs <= 4 votes vs quorum 6 (12
# frames); trimmed dups 8-11 matches vs quorum 4-6.


def _frame_code_kernel(batch):
    """scan.sketch_pass kernel: clip bytes -> (frame_idx, fcode) rows,
    one per frame."""
    from datasketches_rust_spark.sketches.audiofp import audio_frame_codes
    codes = [audio_frame_codes(pcm, sr) for pcm, sr in decode_clips(batch)]
    return (pa.array(np.repeat(np.arange(len(codes)), list(map(len, codes)))),
            {"frame_idx": pa.array(np.concatenate(
                [np.arange(len(c), dtype=np.int32) for c in codes])),
             "fcode": pa.array(np.concatenate(codes))})


def audio_frame_sketches(clips: DataFrame,
                         id_col: str = "clip_id") -> DataFrame:
    """DataFrame[id_col, frame_idx, fcode] — decode + framed FFT in ONE
    Arrow pass; bytes never travel past the scan (the video
    frame-sketch discipline)."""
    return sketch_pass(clips, id_col, ["bytes"], _frame_code_kernel,
                       "frame_idx int, fcode bigint")


AUDIO_MIN_FRAME_MATCHES = 4   # quorum floor (very short clips)
AUDIO_FRAME_QUORUM = 0.5      # fraction of the vote-side clip's frames
AUDIO_FRAME_CODE_DF_CAP = 64  # max clips per code to stay informative
AUDIO_FRAME_BUCKET_CAP = 32   # near-tier star cap (per band bucket)
# The frame near tier uses only the 8 STRIDE-1 ring triples (the clip
# pipeline keeps all 24): per-frame candidate recall is allowed to dip
# because the QUORUM gives each clip pair ~12 independent frame
# chances and needs only half — measured end-to-end on the ladder
# (AUDIO_FRAMES_LADDER_r04.json): recall 1.0 / 1.0 / 0.9994 / 0.99622
# at 4k/15k/60k/240k (target >= 0.99) for 3.2x less band volume and
# 2.5x lower wall at 240k; the 24-combo form (AUDIO_BAND_LAYOUT) buys
# 0.9996 at 240k for that cost.
# Adversarial 3-flip placements that defeat all 8 consecutive triples
# exist (flips at slice distance 3) but are rare under the measured
# 0-5 random flips, and a single frame miss costs 1 vote, not the
# pair.
AUDIO_FRAME_BAND_LAYOUT = (8, AUDIO_SLICE_TRIPLES[:8])


def _code_match_table(frames: DataFrame) -> DataFrame:
    """DataFrame[c1, c2] — the symmetric code-match relation over
    INFORMATIVE codes: identity (exact tier) plus Hamming <=
    AUDIO_FRAME_HAMMING pairs from triple-slice banding of the
    DISTINCT code table (near tier). ``frames`` must have columns
    (__c clip, fcode)."""
    from datasketches_rust_spark.operators.connected_components import \
        symmetric_edges
    from datasketches_rust_spark.operators.visual import simhash_pairs

    clip_df = (frames.select("__c", "fcode").distinct()
               .groupBy("fcode").agg(F.count("*").alias("__ncl")))
    info = (clip_df.where(F.col("__ncl") <= AUDIO_FRAME_CODE_DF_CAP)
            .select("fcode"))
    # near tier: distinct informative codes (each its own id), banded
    # with the clip ladder's triple keys
    near = simhash_pairs(info, "fcode", "fcode", AUDIO_FRAME_HAMMING,
                         AUDIO_FRAME_BUCKET_CAP,
                         layout=AUDIO_FRAME_BAND_LAYOUT)
    ident = info.select(F.col("fcode").alias("c1"),
                        F.col("fcode").alias("c2"))
    return symmetric_edges(near).toDF("c1", "c2").unionAll(ident)


def audio_frame_edges(clips: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """DataFrame[id_a, id_b] — clip pairs whose distinct matched
    INFORMATIVE frames reach the fractional quorum (see the constants'
    comment; id_col must be LONG — assign_clusters maps string ids to
    longs first). The vote side is the least-id
    clip and the quorum scales with ITS informative-frame count, so
    trimming the copy lowers its own bar; clips made entirely of
    over-popular codes produce no votes (nothing about them is
    identifying — documented df-cap semantics, the idf limit)."""
    from datasketches_rust_spark.cache import track

    fr = audio_frame_sketches(clips, id_col)
    frames = fr.select(F.col(id_col).alias("__c"),
                       F.col("frame_idx").alias("__k"), "fcode")
    frames = track(frames)
    frames.count()  # materialize before the two-tier fan-out
    m = _code_match_table(frames)
    # informative frames of the vote side + their per-clip counts
    fin = frames.join(m.select(F.col("c1").alias("fcode")).distinct(),
                      "fcode")
    nf = fin.groupBy(F.col("__c").alias("__cn")).agg(
        F.count_distinct("__k").alias("__nf"))
    # vote join: a frame (clip A, k, code) matches clip B when some
    # code of B relates to it in m — volume is frames x matched codes
    # x clips-per-code, every factor df-capped
    right = (frames.select(F.col("__c").alias("__cb"), "fcode")
             .distinct()
             .select(F.col("__cb"), F.col("fcode").alias("c2")))
    votes = (fin.join(m, fin["fcode"] == m["c1"])
             .join(right, "c2")
             .where(F.col("__c") < F.col("__cb"))
             .groupBy(F.col("__c").alias("id_a"),
                      F.col("__cb").alias("id_b"))
             .agg(F.count_distinct("__k").alias("__n")))
    need = F.greatest(F.lit(AUDIO_MIN_FRAME_MATCHES),
                      F.ceil(F.col("__nf") * AUDIO_FRAME_QUORUM))
    return (votes.join(nf, votes["id_a"] == nf["__cn"])
            .where(F.col("__n") >= need)
            .select("id_a", "id_b"))


def audio_frame_cluster_assignments(clips: DataFrame,
                                    id_col: str = "clip_id") -> DataFrame:
    """DataFrame[clip_id, cluster_id] — min member clip_id;
    singletons map to themselves (the video pipeline's id plumbing)."""
    from datasketches_rust_spark.operators.connected_components import \
        assign_clusters

    return assign_clusters(clips, audio_frame_edges, id_col)
