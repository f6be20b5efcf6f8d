"""Visual / fingerprint-space near-dup operators: the one Hamming-code
pair operator.

SimHash pair detection via pigeonhole Hamming bands: fingerprints within
``max_hamming`` bit flips agree exactly on at least one of
(max_hamming + 1) bands (sketches/simhash.py:hamming_bands), so the
candidate generation is the equality bucketing on the packed band key —
the same one-exchange bucket pass as the MinHash LSH — followed by an
exact popcount verify. With the default pigeonhole layout, recall in cold
buckets is exactly 1.0 by the pigeonhole argument; a coarser layout (the
audio slice triples) or a star-degraded hot bucket can miss pairs.

Every 64-bit code modality pairs through ``simhash_pairs``: image phashes
(pipeline_images), caption SimHashes (q_simhash_near_docs), video frame
phashes with their (video, frame) payload (pipeline_video), and audio
clip and frame codes with their 8-bit slice-triple layout
(pipeline_audio).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

# (slice width in bits, combos): a band key packs the slices a combo
# names, the combo index in the high bits
BandLayout = tuple[int, Sequence[tuple[int, ...]]]


def pigeonhole_layout(max_hamming: int) -> BandLayout:
    """max_hamming + 1 single-slice bands, rounded up to a divisor of 64
    (recall stays 1.0, a few more candidates get verified): codes within
    max_hamming bits agree exactly on at least one slice."""
    num_bands = next(b for b in (1, 2, 4, 8, 16, 32, 64)
                     if b > max_hamming)
    return 64 // num_bands, tuple((i,) for i in range(num_bands))


def simhash_bands(df: DataFrame, id_col: str, fp_col: str,
                  layout: BandLayout, payload: Sequence[str] = ()
                  ) -> DataFrame:
    """Explode a 64-bit code into single-long band keys — JVM-side bit
    slicing (shiftright + mask), no Python. Slice s is bits
    [s * width, (s + 1) * width); combo ``ci`` packs its slices low to
    high and puts ``ci`` above them, ``(ci << (width * len(combo))) |
    slices``, injective since the slices fit below. One long is the
    whole bucket key, so band rows carry 16 bytes plus the code and
    ``payload`` through the band exchange."""
    width, combos = layout
    fp = F.col(fp_col)
    # all 64 bits are -1 as a long: (1 << 64) - 1 is no long literal
    mask = (1 << width) - 1 if width < 64 else -1
    # a shift by 0 is the bare column: no no-op term per row
    slices = [(F.shiftrightunsigned(fp, s * width) if s else fp)
              .bitwiseAND(mask) for s in range(64 // width)]
    keys = [sum((F.shiftleft(slices[s], width * j) if j else slices[s]
                 for j, s in enumerate(combo)),
                F.lit(ci << (width * len(combo))))
            for ci, combo in enumerate(combos)]
    return df.select(F.col(id_col).alias("__id"), fp, *payload,
                     F.explode(F.array(*keys)).alias("band_key"))


def simhash_pairs(df: DataFrame, id_col: str, fp_col: str,
                  max_hamming: int = 3, max_bucket_size: int = 4096,
                  payload: Sequence[str] = (),
                  layout: BandLayout | None = None) -> DataFrame:
    """DataFrame[id_a, id_b, hamming, (p_a, p_b for p in payload)] —
    every pair of codes within max_hamming bits that shares a band
    bucket, deduped across bands; id_a < id_b.

    ``payload`` columns ride the band exchange with the code, so callers
    read each side's attributes off the pair rows instead of joining
    them back by id. ``layout`` is the band layout (see simhash_bands);
    the default, pigeonhole_layout(max_hamming), gives exact recall for
    cold buckets. A coarser layout (audio's 8-bit slice triples) trades
    recall for fewer, more selective buckets.

    Hot buckets (> max_bucket_size members) degrade to a star topology
    around their min-id representative — the same guard as the text LSH
    (operators/lsh.py): at crawl scale, exact-duplicate images share an
    identical fingerprint, so EVERY band bucket is the whole cluster and
    the self-join would be O(cluster^2). The star keeps such a cluster
    connected with O(size) verified edges (identical fingerprints have
    hamming 0 to the representative, so the exact verify keeps them all);
    only pairwise recall between *distinct* fingerprints that co-bucket
    exclusively in hot bands degrades. Set max_bucket_size=0 to disable
    (restores unconditional exact pairwise recall)."""
    from datasketches_rust_spark.operators.lsh import bucketed_pair_events

    # Single-exchange bucketed candidate generation shared with the text
    # LSH (operators/lsh.bucketed_pair_events). This matters doubly here:
    # the band keyspace is only 2^(64/num_bands) x num_bands keys (262144
    # at 4 bands), so a groupBy-sizes hot guard emits up to |keyspace|
    # MAP-SIDE partial rows PER TASK — measured 470 MB of partials for
    # 79 MB of raw band rows at 1M images x 64 tasks. The one exchange
    # carries the raw band rows, and one Arrow pass per partition
    # finds sizes, stars and pairs from a single sort.
    ex = simhash_bands(df, id_col, fp_col,
                       layout or pigeonhole_layout(max_hamming), payload)
    cand = bucketed_pair_events(ex, max_bucket_size,
                                payload=(fp_col, *payload))
    # Hamming filter FIRST, distinct second: with w-bit band keys the band
    # buckets yield ~n^2/2^w birthday collisions (tens of millions at
    # 10^6 rows), so (a) the popcount must be JVM-side bit_count(xor) in
    # whole-stage codegen, not a Python UDF, and (b) the distinct shuffle
    # must run on the tiny post-filter survivor set, not the full
    # candidate stream. A pair colliding in several bands just evaluates
    # the cheap popcount that many times.
    ham = F.bit_count(F.col(f"{fp_col}_a").bitwiseXOR(F.col(f"{fp_col}_b")))
    return (cand
            .withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming",
                    *[f"{p}_{s}" for p in payload for s in "ab"])
            .distinct())
