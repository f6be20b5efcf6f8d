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
     integer when a batch holds a null. What travels through the exchange
     is O(#groups x #partitions) sketch blobs, never raw rows — the same
     serialize/move/deserialize seam the reference acknowledges as its
     only process boundary (SURVEY.md §3.2 step 1).
  2. (optional) SALTED INTERMEDIATE — for a global aggregate at very high
     partition counts, the partials first merge in ``salt_buckets``
     partitions, so no single reducer deserializes every partial.
  3. FINAL — one exchange (``repartition(1)`` for a global aggregate,
     ``repartition(*key_cols)`` for a grouped one), then one
     ``mapInArrow`` pass that folds every partial of each key the
     partition holds and emits the serialized union. Finishers
     (``estimate_udf`` and friends) run on that one row per key.

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


def sketch_kind(kind: str, **kw) -> _Kind:
    seed = kw.pop("seed", DEFAULT_SEED)
    if kind == "theta":
        lg_k = kw.pop("lg_k", 12)
        return _Kind(lambda: ThetaSketch(lg_k=lg_k, seed=seed),
                     _theta_update,
                     lambda b: ThetaSketch.deserialize(b, seed))
    if kind == "hll":
        lg_k = kw.pop("lg_k", 12)
        return _Kind(lambda: HllSketch(lg_k=lg_k, seed=seed),
                     _hll_update,
                     lambda b: HllSketch.deserialize(b, seed))
    if kind == "cpc":
        lg_k = kw.pop("lg_k", 11)
        return _Kind(lambda: CpcSketch(lg_k=lg_k, seed=seed),
                     _cpc_update,
                     lambda b: CpcSketch.deserialize(b, seed))
    if kind == "bloom":
        num_bits = kw.pop("num_bits")
        num_hashes = kw.pop("num_hashes")
        return _Kind(lambda: BloomFilter(num_bits, num_hashes, seed),
                     _bloom_update,
                     lambda b: BloomFilter.deserialize(b, seed))
    if kind == "countmin":
        nh, nb = kw.pop("num_hashes"), kw.pop("num_buckets")
        return _Kind(lambda: CountMinSketch(nh, nb, seed),
                     _countmin_update,
                     lambda b: CountMinSketch.deserialize(b, seed))
    if kind == "freqitems":
        m = kw.pop("max_map_size", 256)
        return _Kind(lambda: FrequentItemsSketch(m),
                     _freq_update,
                     FrequentItemsSketch.deserialize)
    if kind == "tdigest":
        k = kw.pop("k", 200)
        return _Kind(lambda: TDigest(k=k),
                     _tdigest_update,
                     TDigest.deserialize)
    raise ValueError(f"unknown sketch kind {kind!r}")


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
    """One row per (key, sketch) slot."""
    cols = [pa.array([key[i] for key in slots], type=f.type)
            for i, f in enumerate(key_fields)]
    cols.append(pa.array([bytes(sk.serialize()) for sk in slots.values()],
                         type=pa.binary()))
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


def _blob_schema(df: DataFrame, key_cols: list[str],
                 sketch_col: str) -> StructType:
    return StructType([df.schema[c] for c in key_cols]
                      + [StructField(sketch_col, BinaryType(), False)])


def sketch_agg(df: DataFrame, key_cols: list[str], value_col: str,
               kind: str, salt_buckets: int = 0, **sketch_kw) -> DataFrame:
    """GroupBy-aggregate ``value_col`` into one sketch per key.

    Returns DataFrame[key_cols..., sketch: binary]. ``key_cols`` may be
    empty for a global aggregate. ``salt_buckets`` > 0 inserts the
    treeReduce intermediate level. Null values are skipped; a key whose
    values are all null gets an empty sketch.
    """
    knd = sketch_kind(kind, **dict(sketch_kw))
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
                knd.update(slots[()], column_values(v.drop_null()))
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

    partials = keyed.mapInArrow(
        partial_pass, _blob_schema(keyed, key_cols, SKETCH_COL))
    return merge_sketch_col(partials, key_cols, kind,
                            salt_buckets=salt_buckets, **sketch_kw)


def merge_sketch_col(df: DataFrame, key_cols: list[str], kind: str,
                     sketch_col: str = SKETCH_COL, salt_buckets: int = 0,
                     **sketch_kw) -> DataFrame:
    """Merge a binary sketch column down to one sketch per key: one
    exchange (by key; to a single partition for a global merge), then one
    Python pass that folds every partial of each key its partition holds.
    ``salt_buckets`` > 1 puts a salted merge level before a global one."""
    knd = sketch_kind(kind, **dict(sketch_kw))
    blobs = df.select(*key_cols, sketch_col)
    schema = _blob_schema(blobs, key_cols, sketch_col)

    def merge_pass(batches):
        slots: dict = {}
        for batch in batches:
            key_fields = list(batch.schema)[:len(key_cols)]
            for *key, blob in zip(*(c.to_pylist() for c in batch.columns)):
                sk = knd.deserialize(blob)
                key = _fold_key(key)
                prev = slots.get(key)
                slots[key] = sk if prev is None else \
                    _merge_two(kind, prev, sk)
        if slots:
            yield _emit(slots, key_fields, sketch_col)

    if key_cols:
        return blobs.repartition(*key_cols).mapInArrow(merge_pass, schema)
    if salt_buckets > 1:
        blobs = (blobs.withColumn("__salt",
                                  F.spark_partition_id() % salt_buckets)
                 .repartition(salt_buckets, "__salt").drop("__salt")
                 .mapInArrow(merge_pass, schema))
    return blobs.repartition(1).mapInArrow(merge_pass, schema)


def sketch_blob(df: DataFrame, value_col: str, kind: str,
                **sketch_kw) -> bytes:
    """The global sketch of ``value_col`` as bytes on the driver; an empty
    sketch when ``df`` has no rows. Fetched with ``collect()``, never a
    limit (``first``/``head``/``take``): a limit stops reading the Python
    merge pass before its output ends, and Spark kills that worker."""
    rows = sketch_agg(df, [], value_col, kind, **sketch_kw).collect()
    if rows:
        return bytes(rows[0][0])
    return bytes(sketch_kind(kind, **sketch_kw).build().serialize())


# ---------------------------------------------------------------------------
# finishers (sketch bytes -> scalars), as vectorized pandas UDFs
# ---------------------------------------------------------------------------

def estimate_udf(kind: str, as_long: bool = False, **sketch_kw):
    """pandas UDF: sketch bytes -> cardinality estimate.

    ``as_long=True`` rounds to bigint — used for exact-mode parity queries
    (theta is exact until >k retained, tests/theta_sketch_test.rs:24-36,
    so at k > NDV the rounded estimate equals COUNT(DISTINCT))."""
    from pyspark.sql.functions import pandas_udf
    knd = sketch_kind(kind, **dict(sketch_kw))

    ret = LongType() if as_long else DoubleType()

    @pandas_udf(ret)
    def _udf(blobs: pd.Series) -> pd.Series:
        ests = [knd.deserialize(bytes(b)).estimate() for b in blobs]
        if as_long:
            return pd.Series([int(round(e)) for e in ests], dtype="int64")
        return pd.Series(ests, dtype="float64")

    return _udf


def theta_set_op_udf(op: str, seed: int = DEFAULT_SEED, as_long: bool = False):
    """pandas UDF: (sketch_a, sketch_b) -> estimate of union/intersection/
    a_not_b (theta/intersection.rs:64-196 semantics; a_not_b per the
    sibling DataSketches AnotB operator)."""
    from pyspark.sql.functions import pandas_udf

    ret = LongType() if as_long else DoubleType()

    @pandas_udf(ret)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            sa = ThetaSketch.deserialize(bytes(ba), seed)
            sb = ThetaSketch.deserialize(bytes(bb), seed)
            res = getattr(sa, "union" if op == "union" else
                          "intersect" if op == "intersect" else "a_not_b")(sb)
            e = res.estimate()
            out.append(int(round(e)) if as_long else e)
        return pd.Series(out, dtype="int64" if as_long else "float64")

    return _udf


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


def countmin_estimate_udf(blob: bytes, seed: int = DEFAULT_SEED):
    """arrow UDF: item -> frequency estimate (long) in the count-min
    sketch ``blob``. The blob is closed over (shipped once per task) and
    deserialized once per Arrow batch."""
    def probe(values):
        cm = CountMinSketch.deserialize(blob, seed)
        return cm.estimate_keys(encode_values(values)) if len(values) \
            else []
    return _probe_udf(LongType(), np.int64, probe)


def bloom_contains_udf(blob: bytes, seed: int = DEFAULT_SEED):
    """arrow UDF: item -> bool membership probe of the bloom filter
    ``blob`` (no false negatives, bloom/sketch.rs:71-78). Typical use:
    collect one bloom blob and pre-filter a huge fact table before an
    exact semi-join kills the false positives. The blob is closed over
    (shipped once per task) and deserialized once per Arrow batch."""
    from pyspark.sql.types import BooleanType

    def probe(values):
        bf = BloomFilter.deserialize(blob, seed)
        hits = np.zeros(len(values), dtype=bool)
        for grp, mat in key_groups(values):
            hits[grp] = bf.contains_keys(mat)
        return hits
    return _probe_udf(BooleanType(), bool, probe)


def tdigest_quantile_udf(quantile: float, k: int = 200):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def _udf(blobs: pd.Series) -> pd.Series:
        return pd.Series([TDigest.deserialize(bytes(b)).quantile(quantile)
                          for b in blobs])

    return _udf


def tdigest_stats_udf():
    """pandas UDF: tdigest bytes -> struct(min, max, total_weight) — these
    three are exact (tdigest tracks true min/max/weight), hence
    oracle-checkable against SQL MIN/MAX/COUNT."""
    from pyspark.sql.functions import pandas_udf
    schema = StructType([StructField("min_val", DoubleType()),
                         StructField("max_val", DoubleType()),
                         StructField("total_w", LongType())])

    @pandas_udf(schema)
    def _udf(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            td = TDigest.deserialize(bytes(b))
            rows.append((td.min_val, td.max_val, int(td.total_weight())))
        return pd.DataFrame(rows, columns=["min_val", "max_val", "total_w"])

    return _udf


def freq_topk_explode(df: DataFrame, key_cols: list[str], k: int,
                      sketch_col: str = SKETCH_COL,
                      max_map_size: int = 256) -> DataFrame:
    """Explode a frequent-items sketch column into top-k rows per key:
    DataFrame[key..., item string, est long, lb long, ub long]."""
    from pyspark.sql.types import StringType
    fields = [df.schema[c] for c in key_cols] if key_cols else []
    schema = StructType(fields + [
        StructField("item", StringType()), StructField("est", LongType()),
        StructField("lb", LongType()), StructField("ub", LongType())])

    def explode_group(pdf: pd.DataFrame):
        out = []
        for _, row in pdf.iterrows():
            fs = FrequentItemsSketch.deserialize(bytes(row[sketch_col]))
            for item, est, lb, ub in fs.frequent_items()[:k]:
                out.append((*[row[c] for c in key_cols], str(item),
                            int(est), int(lb), int(ub)))
        return pd.DataFrame(out, columns=[*key_cols, "item", "est", "lb", "ub"])

    if key_cols:
        return df.groupBy(*key_cols).applyInPandas(explode_group, schema)
    # global: the merged sketch column has exactly one row; mapInPandas
    # explodes it without another shuffle
    return df.mapInPandas(lambda it: (explode_group(pdf) for pdf in it
                                      if not pdf.empty), schema)


def register_sql_udfs(spark, lg_k: int = 16, seed: int = DEFAULT_SEED,
                      tdigest_k: int = 200, freq_max_map_size: int = 256,
                      countmin_hashes: int = 5, countmin_buckets: int = 1024,
                      bloom_bits: int = 1 << 16,
                      bloom_hashes: int = 7) -> None:
    """Expose the sketch surface to plain ``spark.sql()`` users:

    - ``theta/hll/cpc/tdigest/freq/countmin/bloom_sketch_agg`` —
      grouped-agg pandas UDAFs (values -> serialized sketch bytes),
      usable directly in SQL ``GROUP BY``. Convenience surface ONLY: a
      grouped-agg UDAF materializes each group on one worker with no
      partial aggregation, so the SCALE path for 10^12-row tables
      remains ``sketch_agg``'s map-side-combine partials + salted
      treeReduce. For bounded-group dashboards and ad-hoc SQL this is
      the ergonomic form.
    - ``theta_estimate / hll_estimate / cpc_estimate`` (bytes -> double)
      and ``theta_estimate_long`` (rounded bigint for exact-mode parity)
      — the sketch config travels inside the serialized blob, so the
      estimators need no parameters.
    - blob consumers for the value families: ``tdigest_quantile(blob,
      rank) -> double``, ``freq_estimate(blob, item) -> bigint``,
      ``countmin_estimate(blob, item) -> bigint``, ``bloom_contains(
      blob, item) -> boolean``. Each Arrow batch deserializes a blob
      once (cached per distinct blob within the batch) — the common
      shape is one merged sketch probed by many items.

    Idempotent: re-registration overwrites (Spark keeps the latest).
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import BinaryType, BooleanType

    def _builder(kd):
        @pandas_udf(BinaryType(), PandasUDFType.GROUPED_AGG)
        def _agg(v: pd.Series) -> bytes:
            sk = kd.build()
            kd.update(sk, v.dropna())
            return bytes(sk.serialize())

        return _agg

    for kind in ("theta", "hll", "cpc"):
        spark.udf.register(f"{kind}_sketch_agg",
                           _builder(sketch_kind(kind, lg_k=lg_k, seed=seed)))
        spark.udf.register(f"{kind}_estimate",
                           estimate_udf(kind, seed=seed))
    spark.udf.register("theta_estimate_long",
                       estimate_udf("theta", as_long=True, seed=seed))

    value_kinds = {
        "tdigest": sketch_kind("tdigest", k=tdigest_k),
        "freq": sketch_kind("freqitems", max_map_size=freq_max_map_size),
        "countmin": sketch_kind("countmin", num_hashes=countmin_hashes,
                                num_buckets=countmin_buckets, seed=seed),
        "bloom": sketch_kind("bloom", num_bits=bloom_bits,
                             num_hashes=bloom_hashes, seed=seed),
    }
    for name, kd in value_kinds.items():
        spark.udf.register(f"{name}_sketch_agg", _builder(kd))

    def _blob_cache(deser):
        cache: dict[bytes, object] = {}

        def get(b):
            key = bytes(b)
            sk = cache.get(key)
            if sk is None:
                sk = cache[key] = deser(key)
            return sk

        return get

    # NULL semantics match Spark builtins: NULL in -> NULL out. A NULL
    # item must be checked BEFORE encoding — encode_values maps None to
    # b'', which is also the empty string's encoding, so skipping the
    # check would silently return the '' item's value. Nullable results
    # travel as pandas extension dtypes (Float64/Int64/boolean).

    @pandas_udf(DoubleType())
    def _tdigest_quantile(blobs: pd.Series, ranks: pd.Series) -> pd.Series:
        get = _blob_cache(value_kinds["tdigest"].deserialize)
        return pd.Series(
            [None if b is None or pd.isna(q) else get(b).quantile(float(q))
             for b, q in zip(blobs, ranks)], dtype="Float64")

    @pandas_udf(LongType())
    def _freq_estimate(blobs: pd.Series, items: pd.Series) -> pd.Series:
        get = _blob_cache(value_kinds["freq"].deserialize)
        return pd.Series(
            [None if b is None or pd.isna(i) else int(get(b).estimate(i))
             for b, i in zip(blobs, items)], dtype="Int64")

    def _probe_by_blob(blobs, items, probe, out):
        """Group row indices by blob, vectorize the probe per blob;
        NULL blob/item rows stay None in ``out``."""
        keys = encode_values(items)
        by_blob: dict[bytes, list[int]] = {}
        for i, b in enumerate(blobs):
            # pd.isna, not `is None`: a NULL numeric item arrives as NaN
            # through Arrow, a NULL string as None
            if b is not None and not pd.isna(items.iloc[i]):
                by_blob.setdefault(bytes(b), []).append(i)
        for key, idxs in by_blob.items():
            vals = probe(key, [keys[i] for i in idxs])
            for j, i in enumerate(idxs):
                out[i] = vals[j]
        return out

    @pandas_udf(LongType())
    def _countmin_estimate(blobs: pd.Series, items: pd.Series) -> pd.Series:
        get = _blob_cache(value_kinds["countmin"].deserialize)
        out = _probe_by_blob(
            blobs, items,
            lambda key, ks: [int(v) for v in get(key).estimate_keys(ks)],
            [None] * len(blobs))
        return pd.Series(out, dtype="Int64")

    @pandas_udf(BooleanType())
    def _bloom_contains(blobs: pd.Series, items: pd.Series) -> pd.Series:
        from datasketches_rust_spark.hashing import _grouped_by_length

        get = _blob_cache(value_kinds["bloom"].deserialize)

        def probe(key, ks):
            sk = get(key)
            vals = [None] * len(ks)
            for grp, mat in _grouped_by_length(ks):
                hits = sk.contains_keys(mat)
                for j, g in enumerate(grp):
                    vals[int(g)] = bool(hits[j])
            return vals

        out = _probe_by_blob(blobs, items, probe, [None] * len(blobs))
        return pd.Series(out, dtype="boolean")

    spark.udf.register("tdigest_quantile", _tdigest_quantile)
    spark.udf.register("freq_estimate", _freq_estimate)
    spark.udf.register("countmin_estimate", _countmin_estimate)
    spark.udf.register("bloom_contains", _bloom_contains)
