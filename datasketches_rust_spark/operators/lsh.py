"""LSH candidate-pair generation — the one big shuffle of the dedup
pipeline, so everything here is shaped around shuffle hygiene.

ONE formulation serves every banded modality: MinHash text and caption
bands (``candidate_pairs``), every 64-bit code through the one
Hamming-code pair operator operators/visual.simhash_pairs (pigeonhole
slices of image and video phashes and caption SimHashes, slice triples
of audio clip codes and the audio-frame near tier), hyperplane bands of
embeddings and IVF cells of ``semantic_dedup`` (operators/similarity.py):

  repartition(band_key)    -- THE one band exchange: only (__id,
                              band_key, *payload) rows, 16 bytes plus
                              the payload
  mapInArrow bucket pass   -- per partition, in numpy: drop rows whose
                              id or key is null, lexsort by (band_key,
                              __id), find the bucket bounds, then emit
    hot bucket  (> max_bucket_size ids) -> star events around its min id
    cold bucket (2 .. max_bucket_size)  -> every i < j pair
                              in Arrow batches of at most
                              spark.sql.execution.arrow.maxRecordsPerBatch
                              rows (Python holds one partition's band rows,
                              never its whole pair set)
  groupBy (id_a, id_b)     -- callers dedup pairs across bands; the
                              ``pair_candidates`` dedup also evaluates the
                              >= min_band_matches prefilter via one folded
                              weight column (star edges = _STAR_W), and
                              ``simhash_pairs`` gates on Hamming distance
                              before its distinct

A bucket is a set of ids: duplicate (__id, band_key) rows count once.
``max_bucket_size`` 0 makes every bucket cold (exact pairwise candidates).

Why one Python pass and not a JVM plan: two JVM shapes came before it,
one per band-keyspace regime, each avoiding a measured failure. A
standalone sizes groupBy shuffles data-sized partials when keys are
near-unique (~900 MB per 2M-image trial) and emits up to |keyspace|
map-side partial rows per task on small keyspaces (470 MB of partials
for 79 MB of band data); a co-located sizes JOIN on near-unique keys
builds data-sized hash maps (7.4 GB of spill at 2M images). So MinHash
bands ran a WINDOW shape (count/min over partition by band_key on one
exchange, read twice through ReusedExchange, then collect_list +
array_sort + a JVM pair expression per bucket) and small keyspaces ran a
sizes-JOIN shape. Both sort or hash every band row at least twice. The
bucket pass needs no sizes at all — one partition-local lexsort yields
sizes, representatives and pairs — and it has neither failure mode: it
adds no shuffle and builds nothing keyspace- or data-sized beyond the
partition's own rows. Measured on the benchmark's text_dedup_skewed
workload (seed 901, local[4] on a 4-core VM, 230,400 band rows, 4,292
candidates), one traced run each: the LSH layer's task time fell from
4.43 s (window shape) to 1.30 s, its shuffle read from 2.95 to 1.51 MB;
video_dedup's phash banding layer fell from 3.03 to 1.32 task-s
(sizes-JOIN shape). Candidate sets are identical.

Hot-bucket degrade (star topology): a bucket larger than
``max_bucket_size`` would contribute O(size^2) pairs — and for a near-dup
cluster of 10k+ members (boilerplate duplicated across a crawl) EVERY band
bucket is that cluster, so dropping hot buckets would drop the cluster
entirely. Star edges keep the component connected through the
representative with O(size) pairs, while the downstream exact verify still
rejects dissimilar hash collisions. Star edges bypass the
>= min_band_matches prefilter (a pair whose buckets are hot in every band
has zero cold collisions to count — the prefilter only applies to
cold-bucket evidence).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from datasketches_rust_spark.config import DedupConfig

# star-edge weight in pair_candidates' folded prefilter column: must
# exceed any possible cold-collision count (<= num_bands, typically 32)
# and any sane min_band_matches; sums of it stay far from i64 overflow
_STAR_W = 1 << 30

# Spark's default spark.sql.execution.arrow.maxRecordsPerBatch, used when
# the session sets no limit: a partition's pair set must never be one batch
_DEFAULT_BATCH_ROWS = 10_000


def explode_bands(df: DataFrame, id_col: str, bands_col: str) -> DataFrame:
    """(__id, band_key) rows. The band index is already mixed into the key
    by sketches/minhash.band_hashes, so the single long IS the whole
    bucket key — band rows stay 16 bytes of payload through the band
    exchange."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.col(bands_col)).alias("band_key"))


def _triangle_root(t: np.ndarray) -> np.ndarray:
    """j with j(j-1)/2 <= t < j(j+1)/2: the column of pair index ``t``
    when a bucket's pairs are numbered (0,1), (0,2), (1,2), (0,3), ...
    Float sqrt, then one exact integer correction each way."""
    j = ((1 + np.sqrt(8 * t.astype(np.float64) + 1)) // 2).astype(np.int64)
    j -= j * (j - 1) // 2 > t
    j += (j + 1) * j // 2 <= t
    return j


def _event_positions(keys: np.ndarray, cap: int, batch_rows: int
                     ) -> Iterator[tuple[np.ndarray, np.ndarray, int]]:
    """(positions a, positions b, hot flag) chunks of at most
    ``batch_rows`` events over rows sorted by (key, id) with no duplicate
    (key, id). Hot buckets (cap > 0 and more than ``cap`` rows) give
    (first, other) per member after the first; cold buckets of 2+ rows
    give every (i, j), i < j."""
    n = len(keys)
    if n < 2:
        return
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    sizes = np.diff(np.r_[starts, n])
    hot = sizes > cap if cap > 0 else np.zeros(len(sizes), bool)

    if hot.any():
        first = np.zeros(n, bool)
        first[starts] = True
        b = np.flatnonzero(np.repeat(hot, sizes) & ~first)
        a = np.repeat(starts, sizes)[b]
        for lo in range(0, len(b), batch_rows):
            yield a[lo:lo + batch_rows], b[lo:lo + batch_rows], 1

    cold = ~hot & (sizes >= 2)
    cs, cz = starts[cold], sizes[cold]
    off = np.r_[0, np.cumsum(cz * (cz - 1) // 2)]
    for lo in range(0, int(off[-1]), batch_rows):
        p = np.arange(lo, min(lo + batch_rows, off[-1]), dtype=np.int64)
        bk = np.searchsorted(off, p, side="right") - 1
        t = p - off[bk]
        j = _triangle_root(t)
        yield cs[bk] + t - j * (j - 1) // 2, cs[bk] + j, 0


def _bucket_pass(batches: Iterator[pa.RecordBatch], cap: int,
                 batch_rows: int, payload: tuple[str, ...]
                 ) -> Iterator[pa.RecordBatch]:
    """The bucket kernel over one partition's (__id, band_key, *payload)
    rows: [id_a, id_b, __hot, (p_a, p_b for p in payload)] event
    batches."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    keep = pc.and_(pc.is_valid(tbl.column("__id")),
                   pc.is_valid(tbl.column("band_key")))
    if not pc.all(keep).as_py():
        tbl = tbl.filter(keep)
    ids = tbl.column("__id").to_numpy()
    keys = tbl.column("band_key").to_numpy()
    pays = []  # (values with nulls as 0, null mask or None, Arrow type)
    for p in payload:
        c = tbl.column(p)
        pays.append((c.fill_null(0).to_numpy(),
                     c.is_null().to_numpy() if c.null_count else None,
                     c.type))
    # the lowest payload tuple is the one a duplicate (id, key) keeps
    order = np.lexsort(tuple(v for v, _, _ in reversed(pays)) + (ids, keys))
    ids, keys = ids[order], keys[order]
    uniq = np.r_[True, (keys[1:] != keys[:-1]) | (ids[1:] != ids[:-1])]
    if not uniq.all():
        order, ids, keys = order[uniq], ids[uniq], keys[uniq]
    pays = [(v[order], None if m is None else m[order], t)
            for v, m, t in pays]
    id_type = tbl.schema.field("__id").type
    names = ["id_a", "id_b", "__hot"] + [f"{p}_{s}" for p in payload
                                         for s in "ab"]

    for a, b, flag in _event_positions(keys, cap, batch_rows):
        cols = [pa.array(ids[a], type=id_type),
                pa.array(ids[b], type=id_type),
                pa.array(np.full(len(a), flag, np.int32))]
        cols += [pa.array(v[p], type=t, mask=None if m is None else m[p])
                 for v, m, t in pays for p in (a, b)]
        yield pa.RecordBatch.from_arrays(cols, names=names)


def bucketed_pair_events(ex: DataFrame, max_bucket_size: int,
                         payload: tuple[str, ...] = ()) -> DataFrame:
    """Candidate events over (__id, band_key, *payload) rows: one band
    exchange and one Arrow bucket pass (see the module docstring).

    Returns [id_a, id_b, __hot, (p_a, p_b for p in payload)] — one row
    per band collision (NOT deduped across bands; callers aggregate),
    with hot buckets degraded to star edges around their min-id member
    (``__hot`` 1; cold pairs 0). id_a < id_b always. Rows whose id or
    band key is null never pair. Of duplicate (__id, band_key) rows the
    one with the lowest payload tuple stays.
    """
    fields = [StructField("id_a", ex.schema["__id"].dataType, False),
              StructField("id_b", ex.schema["__id"].dataType, False),
              StructField("__hot", IntegerType(), False)]
    for p in payload:
        pf = ex.schema[p]
        fields += [StructField(f"{p}_{s}", pf.dataType, pf.nullable)
                   for s in "ab"]
    batch_rows = int(ex.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(_DEFAULT_BATCH_ROWS)))
    if batch_rows <= 0:
        batch_rows = _DEFAULT_BATCH_ROWS

    def bucket_pass(batches):
        return _bucket_pass(batches, max_bucket_size, batch_rows, payload)

    return (ex.select("__id", "band_key", *payload).repartition("band_key")
            .mapInArrow(bucket_pass, StructType(fields)))


# pair_candidates reaches the kernel through its own name: a caller may
# swap the public attribute (a tracing wrapper that materializes the
# events it returns), and the text path must not run through that swap
_pair_events = bucketed_pair_events


def candidate_pairs(df: DataFrame, cfg: DedupConfig, id_col: str
                    ) -> DataFrame:
    """DataFrame[id_a, id_b] — unordered candidate pairs (id_a < id_b),
    distinct across bands.

    Cold buckets pair quadratically (bounded by max_bucket_size); hot
    buckets degrade to star edges around their min-id representative.
    A pair qualifies with >= cfg.min_band_matches cold-band collisions OR
    any star edge (see module docstring for why the prefilter must not
    count capped bands).
    """
    ex = explode_bands(df, id_col, "bands")
    return pair_candidates(ex, cfg.max_bucket_size, cfg.min_band_matches)


def pair_candidates(ex: DataFrame, max_bucket_size: int,
                    min_band_matches: int = 1) -> DataFrame:
    """DataFrame[id_a, id_b] — the bucket pass's events over an already-
    exploded ``(__id, band_key)`` table, deduped across bands by ONE
    (id_a, id_b) aggregate that also evaluates the prefilter: a true pair
    at the jaccard threshold co-buckets in many cold bands, a false
    candidate in ~1. Star edges and cold collisions fold into one weight
    column (star weight _STAR_W >> any possible cold band count), so the
    dedup shuffle carries a single aggregate column."""
    w = F.when(F.col("__hot") == 1, F.lit(_STAR_W)).otherwise(F.lit(1))
    return (_pair_events(ex, max_bucket_size)
            .groupBy("id_a", "id_b")
            .agg(F.sum(w).alias("__w"))
            .where(F.col("__w") >= max(min_band_matches, 1))
            .select("id_a", "id_b"))


def hot_bucket_stats(df: DataFrame, cfg: DedupConfig, id_col: str
                     ) -> DataFrame:
    """Metrics: per-band bucket-size distribution + number of capped
    (star-degraded) buckets. Feeds the pipeline's lineage/metrics
    checkpoint."""
    ex = explode_bands(df, id_col, "bands")
    sizes = ex.groupBy("band_key").count()
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("count").alias("max_bucket"),
        F.expr("percentile(count, 0.999)").alias("p999_bucket"),
        F.sum(F.when(F.col("count") > cfg.max_bucket_size, 1)
              .otherwise(0)).alias("capped_buckets"))
