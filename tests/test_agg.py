"""Distributed sketch aggregates vs exact Spark answers on the driver
testdata — the partial/merge/estimate lifecycle end-to-end on real data."""

import pyspark.sql.functions as F
import pytest

from datasketches_rust_spark import agg


@pytest.fixture(scope="module")
def lineitem(spark, sf_smoke_dir):
    return spark.read.parquet(f"{sf_smoke_dir}/lineitem.parquet")


def test_theta_exact_mode_global(spark, lineitem):
    exact = lineitem.select(F.countDistinct("l_partkey")).first()[0]
    sk = agg.sketch_agg(lineitem, [], "l_partkey", "theta", lg_k=16)
    est = sk.select(agg.estimate_udf("theta", as_long=True)(
        "sketch").alias("e")).first()["e"]
    assert est == exact


def test_theta_grouped_and_salted(spark, lineitem):
    exact = {r["l_returnflag"]: r["d"] for r in lineitem.groupBy(
        "l_returnflag").agg(F.countDistinct("l_partkey").alias("d")).collect()}
    sk = agg.sketch_agg(lineitem, ["l_returnflag"], "l_partkey", "theta",
                        lg_k=16)
    got = {r["l_returnflag"]: r["e"] for r in sk.select(
        "l_returnflag", agg.estimate_udf("theta", as_long=True)(
            "sketch").alias("e")).collect()}
    assert got == exact
    # salted global tree-reduce gives the same answer
    sk2 = agg.sketch_agg(lineitem, [], "l_partkey", "theta", lg_k=16,
                         salt_buckets=4)
    est2 = sk2.select(agg.estimate_udf("theta", as_long=True)(
        "sketch").alias("e")).first()["e"]
    assert est2 == lineitem.select(F.countDistinct("l_partkey")).first()[0]


def test_hll_estimation_accuracy(spark, lineitem):
    exact = lineitem.select(F.countDistinct("l_orderkey")).first()[0]
    sk = agg.sketch_agg(lineitem, [], "l_orderkey", "hll", lg_k=12)
    est = sk.select(agg.estimate_udf("hll")("sketch").alias(
        "e")).first()["e"]
    assert abs(est - exact) / exact < 0.05


def test_freqitems_exact_topk(spark, sf_smoke_dir):
    events = spark.read.parquet(f"{sf_smoke_dir}/events.parquet")
    exact = events.groupBy("event_type").count().orderBy(
        F.desc("count"), "event_type").collect()
    sk = agg.sketch_agg(events, [], "event_type", "freqitems",
                        max_map_size=256)
    got = agg.freq_topk_explode(sk, [], k=10).collect()
    # distinct event types << 0.75*256 => sketch is exact
    assert {(r["item"], r["est"]) for r in got} == \
        {(r["event_type"], r["count"]) for r in exact[:10]}


def test_tdigest_stats_exact(spark, lineitem):
    row = lineitem.select(F.min("l_extendedprice"), F.max("l_extendedprice"),
                          F.count("l_extendedprice")).first()
    sk = agg.sketch_agg(lineitem, [], "l_extendedprice", "tdigest")
    got = sk.select(agg.tdigest_stats_udf()("sketch").alias("s")).select(
        "s.*").first()
    assert got["min_val"] == row[0]
    assert got["max_val"] == row[1]
    assert got["total_w"] == row[2]


def test_tdigest_quantile_tolerance(spark, lineitem):
    sk = agg.sketch_agg(lineitem, [], "l_extendedprice", "tdigest")
    q50 = sk.select(agg.tdigest_quantile_udf(0.5)("sketch").alias(
        "q")).first()["q"]
    exact = lineitem.selectExpr(
        "percentile(l_extendedprice, 0.5) as q").first()["q"]
    rng = lineitem.select(F.max("l_extendedprice")
                          - F.min("l_extendedprice")).first()[0]
    assert abs(q50 - exact) / rng < 0.02


def test_countmin_upper_bounds(spark, sf_smoke_dir):
    events = spark.read.parquet(f"{sf_smoke_dir}/events.parquet")
    sk = agg.sketch_agg(events, [], "event_type", "countmin",
                        num_hashes=3, num_buckets=2048)
    blob = bytes(sk.first()["sketch"])
    from datasketches_rust_spark.hashing import encode_values
    from datasketches_rust_spark.sketches.countmin import CountMinSketch
    cm = CountMinSketch.deserialize(blob)
    exact = {r["event_type"]: r["count"]
             for r in events.groupBy("event_type").count().collect()}
    keys = list(exact)
    est = cm.estimate_keys(encode_values(keys))
    for k, e in zip(keys, est):
        assert e >= exact[k]
        assert e <= exact[k] + cm.relative_error() * cm.total_weight


def test_bloom_membership(spark, lineitem):
    sk = agg.sketch_agg(lineitem.limit(2000), [], "l_partkey", "bloom",
                        num_bits=1 << 16, num_hashes=7)
    blob = bytes(sk.first()["sketch"])
    from datasketches_rust_spark.hashing import _grouped_by_length, encode_values
    from datasketches_rust_spark.sketches.bloom import BloomFilter
    bf = BloomFilter.deserialize(blob)
    present = [r["l_partkey"] for r in lineitem.limit(2000).select(
        "l_partkey").distinct().collect()]
    for grp, mat in _grouped_by_length(encode_values(present)):
        assert bf.contains_keys(mat).all()  # no false negatives


def test_register_sql_udfs_all_kinds(spark, lineitem):
    """The spark.sql() registration surface: every registered builder +
    estimator pair runs from a raw SQL string; theta (exact mode) equals
    COUNT(DISTINCT) exactly, HLL/CPC within their error bands."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark, lg_k=14)
    lineitem.createOrReplaceTempView("li_sql_udf")
    exact = lineitem.select(F.countDistinct("l_partkey")).first()[0]
    row = spark.sql(
        "SELECT theta_estimate_long(theta_sketch_agg(l_partkey)) AS t, "
        "hll_estimate(hll_sketch_agg(l_partkey)) AS h, "
        "cpc_estimate(cpc_sketch_agg(l_partkey)) AS c "
        "FROM li_sql_udf").first()
    assert row["t"] == exact
    assert abs(row["h"] - exact) / exact < 0.05
    assert abs(row["c"] - exact) / exact < 0.05


def test_register_sql_udfs_value_families(spark, lineitem):
    """The value-sketch SQL surface: tdigest quantiles, frequent-items /
    countmin estimates, and bloom membership all driven from raw SQL
    strings against pandas-computed truth on the same rows."""
    import numpy as np

    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark)
    li = lineitem.limit(4000)
    li.createOrReplaceTempView("li_sql_vf")
    pdf = li.select("l_quantity", "l_returnflag", "l_partkey").toPandas()

    # t-digest median/p90 within a loose band of the exact quantiles
    row = spark.sql(
        "SELECT tdigest_quantile(s, 0.5) AS p50, "
        "       tdigest_quantile(s, 0.9) AS p90 FROM ("
        "  SELECT tdigest_sketch_agg(l_quantity) AS s FROM li_sql_vf)"
    ).first()
    q = pdf["l_quantity"].to_numpy(dtype=float)
    assert abs(row["p50"] - np.quantile(q, 0.5)) <= 2.0
    assert abs(row["p90"] - np.quantile(q, 0.9)) <= 2.0

    # frequent-items + countmin: estimates bracket/cover the true count
    # of the most common return flag (both sketches never underestimate
    # by more than their documented error; countmin never underestimates)
    top_flag, top_n = pdf["l_returnflag"].value_counts().index[0], \
        int(pdf["l_returnflag"].value_counts().iloc[0])
    row = spark.sql(
        f"SELECT freq_estimate(f, '{top_flag}') AS fe, "
        f"       countmin_estimate(c, '{top_flag}') AS ce FROM ("
        "  SELECT freq_sketch_agg(l_returnflag) AS f, "
        "         countmin_sketch_agg(l_returnflag) AS c FROM li_sql_vf)"
    ).first()
    assert row["fe"] == top_n      # 3 distinct flags << map size: exact
    assert row["ce"] >= top_n      # CM never underestimates

    # bloom: every present key found (no false negatives from SQL)
    missing = spark.sql(
        "SELECT count(*) AS n FROM ("
        "  SELECT bloom_contains(b.s, li.l_partkey) AS hit "
        "  FROM li_sql_vf li CROSS JOIN ("
        "    SELECT bloom_sketch_agg(l_partkey) AS s FROM li_sql_vf) b)"
        " WHERE NOT hit").first()["n"]
    assert missing == 0


def test_sql_udf_blob_consumers_null_semantics(spark):
    """NULL in -> NULL out, like Spark builtins — and a NULL item must
    NOT alias the empty string (both encode to b'' downstream, so the
    check has to happen before encoding)."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark)
    spark.createDataFrame(
        [("",), ("",), ("x",)], "v string").createOrReplaceTempView(
        "nulls_vf")
    row = spark.sql(
        "SELECT freq_estimate(f, CAST(NULL AS STRING)) AS fe_null, "
        "       freq_estimate(f, '') AS fe_empty, "
        "       countmin_estimate(c, CAST(NULL AS STRING)) AS ce_null, "
        "       countmin_estimate(c, '') AS ce_empty, "
        "       bloom_contains(b, CAST(NULL AS STRING)) AS bc_null, "
        "       bloom_contains(b, '') AS bc_empty, "
        "       tdigest_quantile(t, CAST(NULL AS DOUBLE)) AS tq_null "
        "FROM (SELECT freq_sketch_agg(v) AS f, "
        "             countmin_sketch_agg(v) AS c, "
        "             bloom_sketch_agg(v) AS b, "
        "             tdigest_sketch_agg(length(v)) AS t FROM nulls_vf)"
    ).first()
    assert row["fe_null"] is None and row["ce_null"] is None
    assert row["bc_null"] is None and row["tq_null"] is None
    # the empty string is a REAL item with count 2 — NULL must not see it
    assert row["fe_empty"] == 2 and row["ce_empty"] >= 2
    assert row["bc_empty"] is True
    # NULL blob (empty group never happens; fake it with a literal)
    row2 = spark.sql(
        "SELECT freq_estimate(CAST(NULL AS BINARY), 'x') AS fe, "
        "       bloom_contains(CAST(NULL AS BINARY), 'x') AS bc, "
        "       tdigest_quantile(CAST(NULL AS BINARY), 0.5) AS tq"
    ).first()
    assert row2["fe"] is None and row2["bc"] is None and row2["tq"] is None


def test_null_keeps_integer_column_integer(spark):
    """One null in an Arrow batch must not turn a bigint column into
    doubles: the doubles hash differently, so every partition that holds
    the null would count its values a second time."""
    df = spark.range(0, 20000, numPartitions=4).select(
        F.when(F.col("id") == 5, None).otherwise(F.col("id") % 1000)
        .alias("v"))
    sk = agg.sketch_agg(df, [], "v", "theta", lg_k=12)
    est = sk.select(agg.estimate_udf("theta", as_long=True)(
        "sketch").alias("e")).collect()[0]["e"]
    assert est == df.select(F.countDistinct("v")).collect()[0][0] == 1000


def test_probes_with_null_items(spark):
    """A null item in the probe batch leaves every other key found (no
    false negatives) and probes as null itself, never as the '' item."""
    keys = spark.range(1, 100, numPartitions=1).select(
        F.col("id").alias("k"))
    bloom = agg.sketch_blob(keys, "k", "bloom", num_bits=1 << 12,
                            num_hashes=5)
    cm = agg.sketch_blob(keys, "k", "countmin", num_hashes=3,
                         num_buckets=256)
    probe = keys.select("k").union(spark.sql("SELECT CAST(NULL AS BIGINT)")) \
        .coalesce(1)
    rows = probe.select(
        "k", agg.bloom_contains_udf(bloom)("k").alias("hit"),
        agg.countmin_estimate_udf(cm)("k").alias("n")).collect()
    assert len(rows) == 100
    for r in rows:
        if r["k"] is None:
            assert r["hit"] is None and r["n"] is None
        else:
            assert r["hit"] is True and r["n"] >= 1
    strs = spark.createDataFrame([("",), ("x",)], "s string")
    bloom = agg.sketch_blob(strs, "s", "bloom", num_bits=1 << 12,
                            num_hashes=5)
    got = spark.createDataFrame([(None,), ("y",)], "s string").coalesce(1) \
        .select(agg.bloom_contains_udf(bloom)("s").alias("hit")).collect()
    assert got[0]["hit"] is None


def _reference_sketch(kind, values):
    """The per-value path: encode every non-null value to bytes, hash the
    byte keys, update one sketch."""
    from datasketches_rust_spark.hashing import (_grouped_by_length,
                                                 encode_values,
                                                 hash_bytes_list,
                                                 murmur128_bytes_list)
    from datasketches_rust_spark.sketches.util import clz64
    import numpy as np
    sk = agg.sketch_kind(kind, **_PARITY_KW[kind]).build()
    keys = encode_values(v for v in values if v is not None)
    if kind == "theta":
        sk.update_hashes(hash_bytes_list(keys, sk.seed))
    elif kind == "cpc":
        sk.update_hashes(*murmur128_bytes_list(keys, sk.seed))
    elif kind == "hll":
        h1, h2 = murmur128_bytes_list(keys, sk.seed)
        sk.update_coupons((h1 & np.uint64(sk.k - 1)).astype(np.int64),
                          np.minimum(clz64(h2), 62).astype(np.uint8)
                          + np.uint8(1))
    else:
        for _, mat in _grouped_by_length(keys):
            sk.insert_keys(mat)
    return bytes(sk.serialize())


_PARITY_KW = {"theta": {"lg_k": 12}, "hll": {"lg_k": 10},
              "cpc": {"lg_k": 10},
              "bloom": {"num_bits": 1 << 12, "num_hashes": 5}}


@pytest.mark.parametrize("kind", sorted(_PARITY_KW))
def test_sketch_agg_matches_per_value_encoding(spark, kind):
    """Sketches built through sketch_agg (typed Arrow columns, the numeric
    fast path) serialize byte-identically to sketches built from the
    per-value byte encodings of the same rows."""
    import struct
    payload_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8DEADBEEF0001))[0]
    n = 3000
    rows = [(i * 7 - 5000 if i % 11 else None,
             [0.0, -0.0, float("nan"), payload_nan, i / 8][i % 5],
             None if i % 13 == 0 else f"s{i % 911}")
            for i in range(n)]
    df = spark.createDataFrame(rows, "i long, f double, s string") \
        .coalesce(1)
    for col, idx in (("i", 0), ("f", 1), ("s", 2)):
        got = agg.sketch_blob(df, col, kind, **_PARITY_KW[kind])
        assert got == _reference_sketch(kind, [r[idx] for r in rows]), col


def test_grouped_null_and_nan_keys(spark):
    """A null key and a NaN key are one group each, as in groupBy, however
    many partitions and partials hold them."""
    rows = ([(None, i) for i in range(40)]
            + [(float("nan"), i % 25) for i in range(60)]
            + [(1.0, i) for i in range(20)])
    df = spark.createDataFrame(rows, "k double, v long").repartition(4)
    sk = agg.sketch_agg(df, ["k"], "v", "theta", lg_k=12)
    got = sk.select("k", agg.estimate_udf("theta", as_long=True)(
        "sketch").alias("e")).collect()
    want = df.groupBy("k").agg(F.countDistinct("v").alias("e")).collect()

    assert len(got) == len(want) == 3
    assert {str(r["k"]): r["e"] for r in got} == \
        {str(r["k"]): r["e"] for r in want} == \
        {"None": 40, "nan": 25, "1.0": 20}


def test_row_groups_one_group_per_key():
    """``row_groups`` puts every row of a batch in exactly one group per
    distinct key tuple, null keys included."""
    import pyarrow as pa
    batch = pa.record_batch({"k": ["a", None, "b", "a", None],
                             "j": [1, 1, 1, 1, 2]})
    got = {key: sorted(idx.tolist())
           for key, idx in agg.row_groups(batch, ["k", "j"])}
    assert got == {("a", 1): [0, 3], (None, 1): [1], ("b", 1): [2],
                   (None, 2): [4]}


def test_sketch_kind_rejects_unknown_options(spark):
    """A misspelled option raises instead of silently building the
    default config (``lgk=16`` used to build lg_k 12)."""
    with pytest.raises(TypeError, match="lgk"):
        agg.sketch_kind("theta", lgk=16)
    with pytest.raises(TypeError, match="lgk"):
        agg.sketch_agg(spark.range(10), [], "id", "theta", lgk=16)


def test_theta_set_op_rejects_unknown_op():
    """Any op other than union/intersect/a_not_b fails at plan time
    instead of computing a_not_b."""
    with pytest.raises(ValueError, match="a_not_b"):
        agg.theta_set_op_udf("union_all")


_WRITER_KW = {"theta": {"lg_k": 12}, "hll": {"lg_k": 12},
              "cpc": {"lg_k": 12},
              "bloom": {"num_bits": 1 << 16, "num_hashes": 7},
              "countmin": {"num_hashes": 5, "num_buckets": 1024}}


@pytest.fixture(scope="module")
def nullable_cols(spark):
    """1000 distinct keys in each of a bigint, a double and a string
    column, plus one all-null row, in one partition (one Arrow batch)."""
    rows = [(k * 7 - 3000, k / 8 - 40.0, f"s{k}") for k in range(1000)]
    rows.insert(500, (None, None, None))
    return spark.createDataFrame(rows, "i bigint, f double, s string") \
        .coalesce(1)


def _streamed_blob(spark, df, col, kind, tmp_path):
    """The theta/hll/cpc blob ``stateful_sketch_estimates`` emits for
    ``df[col]`` read as a one-file stream."""
    from datasketches_rust_spark.streaming import stateful_sketch_estimates
    src, sink = str(tmp_path / f"{kind}_{col}_src"), []
    rows = df.select(F.lit(1).alias("g"), col)
    rows.write.parquet(src)
    stream = spark.readStream.schema(rows.schema).parquet(src)
    out = stateful_sketch_estimates(stream, ["g"], col, kind=kind,
                                    emit_sketch=True, **_WRITER_KW[kind])
    q = (out.writeStream.outputMode("update")
         .foreachBatch(lambda b, _: sink.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / f"{kind}_{col}_ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    (row,) = sink
    return bytes(row["sketch"])


@pytest.mark.parametrize("kind", sorted(_WRITER_KW))
def test_sql_builders_match_sketch_agg(spark, nullable_cols, kind):
    """The SQL ``*_sketch_agg`` builders write the blob ``sketch_agg``
    writes, byte for byte, over nullable bigint, double and string
    columns: a null in an integer batch must not turn its values into
    doubles."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark, lg_k=12)
    nullable_cols.createOrReplaceTempView("writers_v")
    for col in ("i", "f", "s"):
        want = agg.sketch_blob(nullable_cols, col, kind, **_WRITER_KW[kind])
        got = spark.sql(f"SELECT {kind}_sketch_agg({col}) AS b "
                        "FROM writers_v").collect()[0]["b"]
        assert bytes(got) == want, col


@pytest.mark.parametrize("kind", ["cpc", "hll", "theta"])
def test_stateful_operator_matches_sketch_agg(spark, nullable_cols, kind,
                                              tmp_path):
    """``stateful_sketch_estimates(..., emit_sketch=True)`` emits the blob
    ``sketch_agg`` writes over the same rows, byte for byte — also for a
    bigint above 2^53 next to a null (pandas would hold it as a rounded
    float) and a double NaN (pandas would read it as null)."""
    extra = spark.createDataFrame([(2**53 + 1, float("nan"), "nan")],
                                  nullable_cols.schema)
    rows = nullable_cols.unionByName(extra).coalesce(1)
    for col in ("i", "f", "s"):
        want = agg.sketch_blob(rows, col, kind, **_WRITER_KW[kind])
        assert _streamed_blob(spark, rows, col, kind, tmp_path) == want, col


def test_sql_and_batch_theta_blobs_union(spark, nullable_cols):
    """A SQL-built and a ``sketch_agg``-built theta sketch of the same
    bigint column union to its 1000 distinct keys (not 1999)."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark, lg_k=12)
    nullable_cols.createOrReplaceTempView("union_v")
    sql_blob = spark.sql("SELECT theta_sketch_agg(i) AS a FROM union_v")
    both = sql_blob.crossJoin(
        agg.sketch_agg(nullable_cols, [], "i", "theta", lg_k=12)
        .withColumnRenamed("sketch", "b"))
    union = agg.theta_set_op_udf("union", as_long=True)
    assert both.select(union("a", "b").alias("n")).collect()[0]["n"] == 1000


def test_sql_probes_with_null_item(spark, nullable_cols):
    """SQL ``bloom_contains`` / ``countmin_estimate`` find every key of a
    batch that also holds a null item, and give null for the null."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark)
    bloom = agg.sketch_blob(nullable_cols, "i", "bloom",
                            **_WRITER_KW["bloom"])
    cm = agg.sketch_blob(nullable_cols, "i", "countmin",
                         **_WRITER_KW["countmin"])
    blobs = spark.createDataFrame([(bloom, cm)], "b binary, c binary")
    nullable_cols.crossJoin(blobs).coalesce(1) \
        .createOrReplaceTempView("probe_v")
    rows = spark.sql("SELECT i, bloom_contains(b, i) AS hit, "
                     "countmin_estimate(c, i) AS n FROM probe_v").collect()
    assert len(rows) == 1001
    assert sum(r["hit"] is True for r in rows) == 1000
    assert sum(r["n"] is not None and r["n"] >= 1 for r in rows) == 1000
    (null_row,) = [r for r in rows if r["i"] is None]
    assert null_row["hit"] is None and null_row["n"] is None


@pytest.mark.parametrize("keyed", [True, False])
def test_merge_skips_null_blobs(spark, keyed):
    """An outer join leaves null blobs; merging them skips the nulls as
    the readers do, and a key whose blobs are all null merges to null."""
    vals = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("c", 3.0)],
                                 "k string, v double")
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    sk = agg.sketch_agg(vals, ["k"], "v", "theta")
    joined = keys.join(sk.where(F.col("k") != "c"), "k", "full_outer")
    joined = joined.unionByName(sk)  # "a": two blobs, "c": one, "b": null
    est = agg.estimate_udf("theta", as_long=True)
    if keyed:
        merged = agg.merge_sketch_col(joined, ["k"], "theta")
        got = {r["k"]: r["e"] for r in merged.select(
            "k", est("sketch").alias("e")).collect()}
        assert got == {"a": 2, "b": None, "c": 1}
        return
    merged = agg.merge_sketch_col(joined.select("sketch"), [], "theta")
    assert merged.select(est("sketch")).collect()[0][0] == 3
    nulls = joined.where(F.col("k") == "b").select("sketch")
    (row,) = agg.merge_sketch_col(nulls, [], "theta").collect()
    assert row["sketch"] is None


def test_finishers_null_blob(spark):
    """A null blob (a left join's unmatched key) finishes as null."""
    vals = spark.createDataFrame([("a", 1.0), ("a", 2.0)],
                                 "k string, v double")
    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    theta = keys.join(agg.sketch_agg(vals, ["k"], "v", "theta"), "k", "left")
    td = keys.join(agg.sketch_agg(vals, ["k"], "v", "tdigest"), "k", "left")
    got = {r["k"]: r["e"] for r in theta.select(
        "k", agg.estimate_udf("theta", as_long=True)("sketch").alias("e"))
        .collect()}
    assert got == {"a": 2, "b": None}
    got = {r["k"]: (r["s"], r["q"]) for r in td.select(
        "k", agg.tdigest_stats_udf()("sketch").alias("s"),
        agg.tdigest_quantile_udf(0.5)("sketch").alias("q")).collect()}
    assert got["b"] == (None, None)
    assert tuple(got["a"][0]) == (1.0, 2.0, 2)
