"""The UDAF layer: sketch kernels as distributed Spark aggregates.

The reference's lifecycle — build(config) -> update(v)* -> serialize ->
merge* -> estimate (SURVEY.md §1) — is isomorphic to Spark's partial/final
aggregation, and merge legality rests on the same property the reference
exploits: register-max / bitwise-OR / counter-add / k-smallest-union are
commutative + associative (hll/union.rs:449, bloom/sketch.rs:174,
countmin/sketch.rs:246).

Execution shape (scale rationale):
  1. PARTIAL — one ``mapInArrow`` pass over the scan's own partitions:
     each partition is reduced to one serialized sketch per group key
     **before any shuffle** (map-side combine). Nulls are dropped in
     Arrow and the kernels get a typed column, so an integer column stays
     integer when a batch holds a null. What travels onward is
     O(#groups x #partitions) sketch blobs, never raw rows — the same
     serialize/move/deserialize seam the reference acknowledges as its
     only process boundary (SURVEY.md §3.2 step 1).
  2. A GLOBAL BLOB (``sketch_blob``, no group key) is ``RDD.aggregate``'s
     shape: one job runs the partial pass, its <= P blobs are collected,
     and the driver folds them and serializes once. Above
     ``DRIVER_FAN_IN`` partitions the partials first merge in that many
     salted partitions, so at most ``DRIVER_FAN_IN`` blobs reach the
     driver. Query classes answering from whole-table sketches finish
     on the driver from that blob.
  3. LAZY FINAL (``merge_sketch_col``, grouped or a global frame that
     stays in the plan, as streaming and composite plans need) — one
     exchange (``repartition(*key_cols)``, or ``repartition(1)`` for a
     global merge, after an optional ``salt_buckets`` level), then one
     ``mapInArrow`` pass that folds every partial of each key the
     partition holds and emits the serialized union. Finishers
     (``estimate_udf`` and friends) run on that one row per key.

One way in, one way out. Every writer — the partial pass, the SQL
builders of ``register_sql_udfs`` and the streaming state operators —
updates a sketch through ``_Kind.update_arrow``: the column's non-null
values, typed by ``column_values``. Every reader is an Arrow UDF on
``sketch_udf``, which needs only the sketch kind and the seed (the config
travels in the blob) and deserializes each distinct blob once per batch.
Probes (``bloom_contains_udf``, ``countmin_estimate_udf``) close over one
collected sketch blob instead of joining it onto every probe row: the
blob ships once per task inside the UDF.

All sketch configs are fixed at plan time and closed over by the UDFs, so
every executor builds byte-compatible states (seed-hash checked at merge,
as theta/intersection.rs:81-87 demands).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StructField,
                               StructType)

from datasketches_rust_spark.hashing import (DEFAULT_SEED, encode_values,
                                             key_groups,
                                             murmur3_x64_128_matrix)
from datasketches_rust_spark.sketches.bloom import BloomFilter
from datasketches_rust_spark.sketches.countmin import CountMinSketch
from datasketches_rust_spark.sketches.cpc import CpcSketch
from datasketches_rust_spark.sketches.frequencies import FrequentItemsSketch
from datasketches_rust_spark.sketches.hll import HllSketch
from datasketches_rust_spark.sketches.tdigest import TDigest
from datasketches_rust_spark.sketches.theta import ThetaSketch
from datasketches_rust_spark.sketches.util import clz64

SKETCH_COL = "sketch"


# ---------------------------------------------------------------------------
# per-kind (build, update, deserialize) drivers. ``update`` takes a
# null-free array of values: a numpy array of the column's own dtype for
# numeric columns (see ``column_values``), Python objects otherwise.
# ---------------------------------------------------------------------------

class _Kind:
    def __init__(self, build: Callable, update: Callable,
                 deserialize: Callable):
        self.build = build
        self.update = update
        self.deserialize = deserialize

    def update_arrow(self, sk, arr: pa.Array) -> None:
        """Update ``sk`` with the non-null values of ``arr``."""
        self.update(sk, column_values(arr.drop_null()))


def column_values(arr: pa.Array):
    """A null-free Arrow column as the values the update kernels take:
    integer, bool and float columns as numpy arrays of their own dtype,
    anything else as the Python objects ``mapInPandas`` would hand over
    (tz-aware timestamps as wall-clock time in their zone)."""
    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or \
            pa.types.is_boolean(t):
        return arr.to_numpy(zero_copy_only=False)
    s = arr.to_pandas()
    if pa.types.is_timestamp(t) and t.tz is not None:
        s = s.dt.tz_localize(None)
    return s.to_numpy(dtype=object)


def _murmur128(values, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) of every value, in input order."""
    h1 = np.empty(len(values), dtype=np.uint64)
    h2 = np.empty(len(values), dtype=np.uint64)
    for grp, mat in key_groups(values):
        h1[grp], h2[grp] = murmur3_x64_128_matrix(mat, seed)
    return h1, h2


def _theta_update(sk: ThetaSketch, values) -> None:
    if len(values):
        h1, _ = _murmur128(values, sk.seed)
        sk.update_hashes(h1 >> np.uint64(1))


def _cpc_update(sk: CpcSketch, values) -> None:
    if len(values):
        sk.update_hashes(*_murmur128(values, sk.seed))


def _hll_update(sk: HllSketch, values) -> None:
    if not len(values):
        return
    h1, h2 = _murmur128(values, sk.seed)
    slots = (h1 & np.uint64(sk.k - 1)).astype(np.int64)
    v = np.minimum(clz64(h2), 62).astype(np.uint8) + np.uint8(1)
    sk.update_coupons(slots, v)


def _bloom_update(sk: BloomFilter, values) -> None:
    for _, mat in key_groups(values):
        sk.insert_keys(mat)


def _countmin_update(sk: CountMinSketch, values) -> None:
    if len(values):
        # raw byte items, NOT a pre-hash: the sketch hashes them with its
        # per-row murmur seeds, so the state is bit-identical to a
        # reference sketch updated with the same items
        sk.update_keys(encode_values(values))


def _freq_update(sk: FrequentItemsSketch, values) -> None:
    counts = pd.Series(values).value_counts()  # batch pre-reduction
    if len(counts):
        sk.update_counts(list(counts.index), counts.to_numpy())


def _tdigest_update(sk: TDigest, values) -> None:
    sk.update_values(np.asarray(values, dtype=np.float64))


_FAMILIES = {"theta": (ThetaSketch, _theta_update),
             "hll": (HllSketch, _hll_update),
             "cpc": (CpcSketch, _cpc_update),
             "bloom": (BloomFilter, _bloom_update),
             "countmin": (CountMinSketch, _countmin_update),
             "freqitems": (FrequentItemsSketch, _freq_update),
             "tdigest": (TDigest, _tdigest_update)}


def sketch_reader(kind: str, seed: int = DEFAULT_SEED) -> Callable:
    """blob -> sketch of ``kind``. The sketch's config travels in the
    blob; the hashed families check ``seed`` against it."""
    if kind not in _FAMILIES:
        raise ValueError(f"unknown sketch kind {kind!r}")
    cls = _FAMILIES[kind][0]
    if kind in ("freqitems", "tdigest"):
        return cls.deserialize
    return lambda b: cls.deserialize(b, seed)


def sketch_kind(kind: str, **kw) -> _Kind:
    """The build/update/deserialize driver of ``kind``. Options: ``seed``;
    ``lg_k`` (theta, hll: 12; cpc: 11); ``num_bits`` and ``num_hashes``
    (bloom); ``num_hashes`` and ``num_buckets`` (countmin);
    ``max_map_size`` (freqitems: 256); ``k`` (tdigest: 200). Any other
    option raises TypeError."""
    seed = kw.pop("seed", DEFAULT_SEED)
    read = sketch_reader(kind, seed)
    if kind in ("theta", "hll", "cpc"):
        lg_k = kw.pop("lg_k", 11 if kind == "cpc" else 12)
        cls = _FAMILIES[kind][0]
        build = lambda: cls(lg_k=lg_k, seed=seed)  # noqa: E731
    elif kind == "bloom":
        num_bits, num_hashes = kw.pop("num_bits"), kw.pop("num_hashes")
        build = lambda: BloomFilter(num_bits, num_hashes, seed)  # noqa: E731
    elif kind == "countmin":
        nh, nb = kw.pop("num_hashes"), kw.pop("num_buckets")
        build = lambda: CountMinSketch(nh, nb, seed)  # noqa: E731
    elif kind == "freqitems":
        m = kw.pop("max_map_size", 256)
        build = lambda: FrequentItemsSketch(m)  # noqa: E731
    else:
        k = kw.pop("k", 200)
        build = lambda: TDigest(k=k)  # noqa: E731
    if kw:
        raise TypeError(f"unknown {kind} sketch option(s): "
                        f"{', '.join(sorted(kw))}")
    return _Kind(build, _FAMILIES[kind][1], read)


def _merge_two(kind_name: str, a, b):
    if kind_name in ("theta", "hll", "bloom", "cpc"):
        return a.union(b)
    return a.merge(b)


# ---------------------------------------------------------------------------
# distributed aggregation
# ---------------------------------------------------------------------------

_NAN = float("nan")


def _fold_key(key: tuple) -> tuple:
    """A group key as Spark groups it, usable as a dict key: -0.0 becomes
    0.0, and every NaN becomes the one object ``_NAN``. Containers compare
    identity before equality, so NaN keys meet although NaN != NaN."""
    return tuple(_NAN if v != v else v + 0.0 if isinstance(v, float) else v
                 for v in key)


def _emit(slots: dict, key_fields: list[pa.Field],
          sketch_col: str) -> pa.RecordBatch:
    """One row per (key, sketch) slot; a None slot is a null blob."""
    cols = [pa.array([key[i] for key in slots], type=f.type)
            for i, f in enumerate(key_fields)]
    cols.append(pa.array([None if sk is None else bytes(sk.serialize())
                          for sk in slots.values()], type=pa.binary()))
    return pa.RecordBatch.from_arrays(
        cols, names=[f.name for f in key_fields] + [sketch_col])


def row_groups(batch: pa.RecordBatch, key_cols: list[str]):
    """(key tuple, row indices) for every distinct key of ``batch``'s
    ``key_cols``, null keys included (an Acero hash group-by)."""
    groups = (pa.Table.from_batches([batch.select(key_cols)])
              .append_column("__row", pa.array(np.arange(batch.num_rows)))
              .group_by(key_cols, use_threads=False)
              .aggregate([("__row", "list")]))
    rows = groups.column("__row_list").combine_chunks()
    offsets = rows.offsets.to_numpy()
    flat = rows.values.to_numpy()
    keys = zip(*(groups.column(c).to_pylist() for c in key_cols))
    for j, key in enumerate(keys):
        yield key, flat[offsets[j]:offsets[j + 1]]


def _blob_schema(df: DataFrame, key_cols: list[str], sketch_col: str,
                 nullable: bool = False) -> StructType:
    return StructType([df.schema[c] for c in key_cols]
                      + [StructField(sketch_col, BinaryType(), nullable)])


def _partials(df: DataFrame, key_cols: list[str], value_col: str,
              knd: _Kind) -> DataFrame:
    """The partial pass: one serialized sketch per key per partition,
    DataFrame[key_cols..., sketch: binary]."""
    keyed = df.select(*key_cols, F.col(value_col).alias("__v"))

    def partial_pass(batches):
        slots: dict = {}
        for batch in batches:
            if not batch.num_rows:
                continue
            key_fields = list(batch.schema)[:len(key_cols)]
            v = batch.column(len(key_cols))
            if not key_cols:
                if () not in slots:
                    slots[()] = knd.build()
                knd.update_arrow(slots[()], v)
                continue
            valid = v.is_valid().to_numpy(zero_copy_only=False)
            vals = column_values(v.drop_null())
            rank = np.cumsum(valid) - 1  # row -> position in ``vals``
            for key, idx in row_groups(batch, key_cols):
                key = _fold_key(key)
                if key not in slots:
                    slots[key] = knd.build()
                knd.update(slots[key], vals[rank[idx[valid[idx]]]])
        if slots:
            yield _emit(slots, key_fields, SKETCH_COL)

    return keyed.mapInArrow(partial_pass,
                            _blob_schema(keyed, key_cols, SKETCH_COL))


def sketch_agg(df: DataFrame, key_cols: list[str], value_col: str,
               kind: str, salt_buckets: int = 0, **sketch_kw) -> DataFrame:
    """GroupBy-aggregate ``value_col`` into one sketch per key.

    Returns DataFrame[key_cols..., sketch: binary]. ``key_cols`` may be
    empty for a global aggregate that stays in the plan (``sketch_blob``
    fetches one to the driver in one job). ``salt_buckets`` > 0 inserts
    the treeReduce intermediate level. Null values are skipped; a key
    whose values are all null gets an empty sketch.
    """
    partials = _partials(df, key_cols, value_col,
                         sketch_kind(kind, **dict(sketch_kw)))
    return merge_sketch_col(partials, key_cols, kind,
                            salt_buckets=salt_buckets,
                            seed=sketch_kw.get("seed", DEFAULT_SEED))


def _merger(blobs: DataFrame, key_cols: list[str], kind: str,
            sketch_col: str, seed: int) -> Callable:
    """frame of ``blobs``' columns -> one ``mapInArrow`` pass that folds
    every blob of each key its partition holds into one serialized
    union. Null blobs are skipped; a key whose blobs are all null merges
    to a null blob."""
    read = sketch_reader(kind, seed)
    schema = _blob_schema(blobs, key_cols, sketch_col,
                          blobs.schema[sketch_col].nullable)

    def merge_pass(batches):
        slots: dict = {}
        for batch in batches:
            key_fields = list(batch.schema)[:len(key_cols)]
            for *key, blob in zip(*(c.to_pylist() for c in batch.columns)):
                key = _fold_key(key)
                prev = slots.get(key)
                sk = None if blob is None else read(blob)
                if prev is None:
                    slots[key] = sk
                elif sk is not None:
                    slots[key] = _merge_two(kind, prev, sk)
        if slots:
            yield _emit(slots, key_fields, sketch_col)

    return lambda frame: frame.mapInArrow(merge_pass, schema)


def _salted(blobs: DataFrame, salt_buckets: int, merge: Callable
            ) -> DataFrame:
    """The salted intermediate level of a global merge: the blobs of
    partition p merge in partition ``p % salt_buckets``, so at most
    ``salt_buckets`` blobs come out."""
    return merge(blobs.withColumn("__salt",
                                  F.spark_partition_id() % salt_buckets)
                 .repartition(salt_buckets, "__salt").drop("__salt"))


def merge_sketch_col(df: DataFrame, key_cols: list[str], kind: str,
                     sketch_col: str = SKETCH_COL, salt_buckets: int = 0,
                     seed: int = DEFAULT_SEED) -> DataFrame:
    """Merge a binary sketch column down to one sketch per key: one
    exchange (by key; to a single partition for a global merge), then one
    Python pass that folds every partial of each key its partition holds.
    ``salt_buckets`` > 1 puts a salted merge level before a global one.
    Null blobs are skipped, as ``sketch_udf`` skips them: a key whose
    blobs are all null merges to a null blob."""
    blobs = df.select(*key_cols, sketch_col)
    merge = _merger(blobs, key_cols, kind, sketch_col, seed)
    if key_cols:
        return merge(blobs.repartition(*key_cols))
    if salt_buckets > 1:
        blobs = _salted(blobs, salt_buckets, merge)
    return merge(blobs.repartition(1))


# at most this many partial blobs reach the driver in ``sketch_blob``:
# 64 theta sketches at lg_k 16 are well under 100 MB
DRIVER_FAN_IN = 64


def _num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan. It plans ``df``'s own
    query execution, which a later ``df.collect()`` reuses, so no second
    planning and no job (an adaptive plan runs the stages below its
    last exchange here instead of in the collect)."""
    return df._jdf.queryExecution().executedPlan().execute() \
        .getNumPartitions()


def sketch_blob(df: DataFrame, value_col: str, kind: str,
                **sketch_kw) -> bytes:
    """The global sketch of ``value_col`` as bytes on the driver; an empty
    sketch when ``df`` has no rows. One Spark job: the partial pass's
    blobs are collected and folded on the driver, in partition order.
    Above ``DRIVER_FAN_IN`` partitions they first merge in that many
    salted partitions. Fetched with ``collect()``, never a limit
    (``first``/``head``/``take``): a limit stops reading the Python pass
    before its output ends, and Spark kills that worker."""
    knd = sketch_kind(kind, **dict(sketch_kw))
    blobs = _partials(df, [], value_col, knd)
    if _num_partitions(blobs) > DRIVER_FAN_IN:
        blobs = _salted(blobs, DRIVER_FAN_IN, _merger(
            blobs, [], kind, SKETCH_COL, sketch_kw.get("seed", DEFAULT_SEED)))
    sk = None
    for (blob,) in blobs.collect():
        part = knd.deserialize(blob)
        sk = part if sk is None else _merge_two(kind, sk, part)
    return bytes((knd.build() if sk is None else sk).serialize())


# ---------------------------------------------------------------------------
# readers (sketch bytes -> values), as Arrow UDFs. The config travels in
# the blob, so a reader needs only the kind and the seed.
# ---------------------------------------------------------------------------

def _sketch_groups(reads: list, blobs: list, valid: np.ndarray):
    """(row indices, sketches) for every distinct tuple of ``blobs`` (one
    Arrow column per reader in ``reads``) over the rows where ``valid``;
    each distinct blob is deserialized once."""
    names = [f"b{j}" for j in range(len(blobs))]
    cache: dict = {}
    for key, idx in row_groups(pa.record_batch(blobs, names), names):
        idx = idx[valid[idx]]
        if not len(idx):
            continue
        for j, b in enumerate(key):
            if (j, b) not in cache:
                cache[j, b] = reads[j](b)
        yield idx, [cache[j, b] for j, b in enumerate(key)]


def sketch_udf(ret, fn: Callable, *kinds: str, seed: int = DEFAULT_SEED):
    """arrow UDF: (one blob column per ``kinds`` entry, then argument
    columns) -> ``fn(sketches..., argument values...)``.

    Each distinct blob of an Arrow batch is deserialized once, and ``fn``
    gets the null-free argument values (``column_values``) of all rows
    holding the same blobs, so a probe hashes them in one call; it
    returns one result per value, or one result for all those rows when
    there are no arguments. A null blob or a null argument gives null."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type

    reads = [sketch_reader(k, seed) for k in kinds]
    out_type = to_arrow_type(ret)

    @arrow_udf(ret)
    def _udf(*cols: pa.Array) -> pa.Array:
        args = cols[len(reads):]
        valid = np.logical_and.reduce(
            [c.is_valid().to_numpy(zero_copy_only=False) for c in cols])
        out = [None] * len(valid)
        for idx, sks in _sketch_groups(reads, list(cols[:len(reads)]),
                                       valid):
            res = fn(*sks, *(column_values(a.take(idx)) for a in args))
            for i, r in zip(idx, res if args else [res] * len(idx)):
                out[i] = r
        return pa.array(out, type=out_type)

    return _udf


def _estimate_finish(as_long: bool):
    """(return type, estimate -> value): bigint rounded, else double."""
    if as_long:
        return LongType(), lambda e: int(round(e))
    return DoubleType(), float


def estimate_udf(kind: str, as_long: bool = False, seed: int = DEFAULT_SEED):
    """arrow UDF: sketch bytes -> cardinality estimate.

    ``as_long=True`` rounds to bigint — used for exact-mode parity queries
    (theta is exact until >k retained, tests/theta_sketch_test.rs:24-36,
    so at k > NDV the rounded estimate equals COUNT(DISTINCT))."""
    ret, finish = _estimate_finish(as_long)
    return sketch_udf(ret, lambda sk: finish(sk.estimate()), kind,
                      seed=seed)


_THETA_SET_OPS = ("union", "intersect", "a_not_b")


def theta_set_op_udf(op: str, seed: int = DEFAULT_SEED, as_long: bool = False):
    """arrow UDF: (sketch_a, sketch_b) -> estimate of union/intersection/
    a_not_b (theta/intersection.rs:64-196 semantics; a_not_b per the
    sibling DataSketches AnotB operator)."""
    if op not in _THETA_SET_OPS:
        raise ValueError(f"theta set op {op!r} is not one of "
                         f"{', '.join(_THETA_SET_OPS)}")
    ret, finish = _estimate_finish(as_long)
    return sketch_udf(ret, lambda a, b: finish(getattr(a, op)(b).estimate()),
                      "theta", "theta", seed=seed)


def _probe_udf(ret, dtype, probe):
    """arrow UDF: item -> ``probe(null-free item values)`` per Arrow batch;
    a null item probes as null, never as the '' item (``encode_values``
    maps None to b'', the empty string's encoding)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(ret)
    def _udf(items: pa.Array) -> pa.Array:
        valid = items.is_valid().to_numpy(zero_copy_only=False)
        out = np.zeros(len(items), dtype=dtype)
        out[valid] = probe(column_values(items.drop_null()))
        return pa.array(out, mask=~valid)

    return _udf


def _countmin_probe(cm: CountMinSketch, values) -> np.ndarray:
    return cm.estimate_keys(encode_values(values)) if len(values) else []


def _bloom_probe(bf: BloomFilter, values) -> np.ndarray:
    hits = np.zeros(len(values), dtype=bool)
    for grp, mat in key_groups(values):
        hits[grp] = bf.contains_keys(mat)
    return hits


def countmin_estimate_udf(blob: bytes, seed: int = DEFAULT_SEED):
    """arrow UDF: item -> frequency estimate (long) in the count-min
    sketch ``blob``. The blob is closed over (shipped once per task) and
    deserialized once per Arrow batch."""
    read = sketch_reader("countmin", seed)
    return _probe_udf(LongType(), np.int64,
                      lambda values: _countmin_probe(read(blob), values))


def bloom_contains_udf(blob: bytes, seed: int = DEFAULT_SEED):
    """arrow UDF: item -> bool membership probe of the bloom filter
    ``blob`` (no false negatives, bloom/sketch.rs:71-78). Typical use:
    collect one bloom blob and pre-filter a huge fact table before an
    exact semi-join kills the false positives. The blob is closed over
    (shipped once per task) and deserialized once per Arrow batch.

    Marked nondeterministic so that the optimizer never copies the probe:
    constraint inference would otherwise carry ``probe(k)`` across the
    semi-join's ``k = key`` onto the build side, probing the keys the
    filter was built from."""
    from pyspark.sql.types import BooleanType
    read = sketch_reader("bloom", seed)
    return _probe_udf(BooleanType(), bool,
                      lambda values: _bloom_probe(read(blob), values)
                      ).asNondeterministic()


def tdigest_quantile_udf(quantile: float):
    """arrow UDF: tdigest bytes -> the ``quantile`` estimate."""
    return sketch_udf(DoubleType(), lambda td: float(td.quantile(quantile)),
                      "tdigest")


def tdigest_stats_udf():
    """arrow UDF: tdigest bytes -> struct(min, max, total_weight) — these
    three are exact (tdigest tracks true min/max/weight), hence
    oracle-checkable against SQL MIN/MAX/COUNT."""
    schema = StructType([StructField("min_val", DoubleType()),
                         StructField("max_val", DoubleType()),
                         StructField("total_w", LongType())])
    return sketch_udf(schema, lambda td: (td.min_val, td.max_val,
                                          int(td.total_weight())),
                      "tdigest")


def freq_topk_explode(df: DataFrame, key_cols: list[str], k: int,
                      sketch_col: str = SKETCH_COL) -> DataFrame:
    """Explode a frequent-items sketch column into top-k rows per key:
    DataFrame[key..., item string, est long, lb long, ub long]. One
    ``mapInArrow`` pass over the rows where they are (each row already
    holds one key); a null sketch gives no rows."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType
    reads = [sketch_reader("freqitems")]
    schema = StructType([df.schema[c] for c in key_cols] + [
        StructField("item", StringType()), StructField("est", LongType()),
        StructField("lb", LongType()), StructField("ub", LongType())])
    arrow_schema = to_arrow_schema(schema)

    def explode(batches):
        for batch in batches:
            blobs = batch.column(len(key_cols))
            src, top = [], []
            for idx, (fs,) in _sketch_groups(
                    reads, [blobs],
                    blobs.is_valid().to_numpy(zero_copy_only=False)):
                items = fs.frequent_items()[:k]
                src += [i for i in idx for _ in items]
                top += [t for _ in idx for t in items]
            rows = pa.array(src, type=pa.int64())
            cols = [batch.column(j).take(rows) for j in range(len(key_cols))]
            cols.append(pa.array([str(t[0]) for t in top], type=pa.string()))
            cols += [pa.array([int(t[j]) for t in top], type=pa.int64())
                     for j in (1, 2, 3)]
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return df.select(*key_cols, sketch_col).mapInArrow(explode, schema)


def register_sql_udfs(spark, lg_k: int = 16, seed: int = DEFAULT_SEED) -> None:
    """Expose the sketch surface to plain ``spark.sql()`` users:

    - ``theta/hll/cpc/tdigest/freq/countmin/bloom_sketch_agg`` —
      grouped-agg Arrow UDFs (values -> serialized sketch bytes), usable
      directly in SQL ``GROUP BY``. Each updates its sketch exactly as
      ``sketch_agg`` does, so the blobs are byte-identical. Convenience
      surface ONLY: a grouped-agg UDF materializes each group on one
      worker with no partial aggregation, so the SCALE path for
      10^12-row tables remains ``sketch_agg``'s map-side-combine partials
      + salted treeReduce. For bounded-group dashboards and ad-hoc SQL
      this is the ergonomic form. theta/hll/cpc take ``lg_k``; the
      others are fixed: tdigest k=200, freq max map 256, countmin 5
      hashes x 1024 buckets, bloom 2^16 bits x 7 hashes.
    - ``theta_estimate / hll_estimate / cpc_estimate`` (bytes -> double)
      and ``theta_estimate_long`` (rounded bigint for exact-mode parity)
      — the sketch config travels inside the serialized blob, so the
      estimators need no parameters.
    - blob consumers for the value families: ``tdigest_quantile(blob,
      rank) -> double``, ``freq_estimate(blob, item) -> bigint``,
      ``countmin_estimate(blob, item) -> bigint``, ``bloom_contains(
      blob, item) -> boolean``, on the same probe kernels as
      ``countmin_estimate_udf`` / ``bloom_contains_udf``. Each Arrow
      batch deserializes each distinct blob once — the common shape is
      one merged sketch probed by many items. A null blob or item gives
      null, never the '' item's answer.

    Idempotent: re-registration overwrites (Spark keeps the latest).
    """
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import BooleanType

    def _builder(kd):
        @arrow_udf(BinaryType())
        def _agg(v: pa.Array) -> bytes:
            sk = kd.build()
            kd.update_arrow(sk, v)
            return bytes(sk.serialize())

        return _agg

    builders = {
        "theta": sketch_kind("theta", lg_k=lg_k, seed=seed),
        "hll": sketch_kind("hll", lg_k=lg_k, seed=seed),
        "cpc": sketch_kind("cpc", lg_k=lg_k, seed=seed),
        "tdigest": sketch_kind("tdigest"),
        "freq": sketch_kind("freqitems"),
        "countmin": sketch_kind("countmin", num_hashes=5, num_buckets=1024,
                                seed=seed),
        "bloom": sketch_kind("bloom", num_bits=1 << 16, num_hashes=7,
                             seed=seed),
    }
    for name, kd in builders.items():
        spark.udf.register(f"{name}_sketch_agg", _builder(kd))
    for kind in ("theta", "hll", "cpc"):
        spark.udf.register(f"{kind}_estimate", estimate_udf(kind, seed=seed))
    spark.udf.register("theta_estimate_long",
                       estimate_udf("theta", as_long=True, seed=seed))

    readers = {
        "tdigest_quantile": (DoubleType(), "tdigest", lambda td, qs: [
            float(td.quantile(float(q))) for q in qs]),
        "freq_estimate": (LongType(), "freqitems", lambda fs, items: [
            int(fs.estimate(i)) for i in items]),
        "countmin_estimate": (LongType(), "countmin", _countmin_probe),
        "bloom_contains": (BooleanType(), "bloom", _bloom_probe),
    }
    for name, (ret, kind, fn) in readers.items():
        spark.udf.register(name, sketch_udf(ret, fn, kind, seed=seed))
