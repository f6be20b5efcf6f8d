"""Visual / fingerprint-space near-dup operators.

SimHash pair detection via pigeonhole Hamming bands: fingerprints within
``max_hamming`` bit flips agree exactly on at least one of
(max_hamming + 1) bands (sketches/simhash.py:hamming_bands), so the
candidate join is an equality self-join on the packed band key — the
same shuffle shape as the MinHash LSH join — followed by an exact popcount
verify. Recall is exactly 1.0 by the pigeonhole argument; no probabilistic
misses.

The image pipeline feeds phash-derived fingerprints through this; the text
pipeline can feed caption SimHashes (q_simhash_near_docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def simhash_bands(df: DataFrame, id_col: str, fp_col: str,
                  num_bands: int) -> DataFrame:
    """Explode a 64-bit fingerprint into single-long band keys —
    JVM-side bit slicing (shiftright + mask), no Python. The band index
    is packed into the key's high bits ((idx << width) | slice, injective
    since slice < 2^width), so one long is the whole join key and band
    rows carry 16 bytes of payload through the self-join shuffle."""
    width = 64 // num_bands
    mask = (1 << width) - 1
    bands = F.array(*[
        F.shiftrightunsigned(F.col(fp_col), i * width).bitwiseAND(mask)
        + F.lit(i << width if num_bands > 1 else 0)
        for i in range(num_bands)])
    return (df.select(F.col(id_col).alias("__id"), F.col(fp_col),
                      F.explode(bands).alias("band_key")))


def simhash_pairs(df: DataFrame, id_col: str, fp_col: str,
                  max_hamming: int = 3,
                  max_bucket_size: int = 4096) -> DataFrame:
    """DataFrame[id_a, id_b, hamming] — all pairs within max_hamming bits.
    Exact recall via pigeonhole banding (num_bands = max_hamming + 1 must
    divide 64) for cold buckets.

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

    num_bands = max_hamming + 1
    if 64 % num_bands:
        # round up to the next divisor of 64 — recall stays 1.0, a few
        # more candidates get verified
        num_bands = next(b for b in (4, 8, 16, 32, 64)
                         if b >= num_bands)
    # Single-exchange bucketed candidate generation shared with the text
    # LSH (operators/lsh.bucketed_pair_events). This matters doubly here:
    # the band keyspace is only 2^(64/num_bands) x num_bands keys (262144
    # at 4 bands), so a groupBy-sizes hot guard emits up to |keyspace|
    # MAP-SIDE partial rows PER TASK — measured 470 MB of partials for
    # 79 MB of raw band rows at 1M images x 64 tasks. The one exchange
    # carries the raw 24-byte rows, and one Arrow pass per partition
    # finds sizes, stars and pairs from a single sort.
    ex = simhash_bands(df, id_col, fp_col, num_bands)
    cand = bucketed_pair_events(ex, max_bucket_size, payload=fp_col)
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
            .select("id_a", "id_b", "hamming")
            .distinct())
