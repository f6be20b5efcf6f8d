"""CPC sketch tests — mirrors the reference's cpc test suite
(tests/cpc_update_test.rs, tests/cpc_union_test.rs,
tests/cpc_serialization_test.rs) plus kernel-level invariants for the
bit-matrix re-expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasketches_rust_spark.sketches import serde
from datasketches_rust_spark.sketches.cpc import (CpcSketch, CpcUnion,
                                                  determine_correct_offset,
                                                  determine_flavor,
                                                  icon_estimate)

# tests/cpc_update_test.rs:11
RELATIVE_ERROR_FOR_LG_K_11 = 0.02


def _keys(lo: int, hi: int) -> np.ndarray:
    return np.arange(lo, hi, dtype=np.int64).view(np.uint8).reshape(-1, 8)


def _filled(lg_k: int, n: int, lo: int = 0) -> CpcSketch:
    sk = CpcSketch(lg_k=lg_k)
    sk.update_keys(_keys(lo, lo + n))
    return sk


class TestUpdate:
    def test_empty(self):
        # tests/cpc_update_test.rs:13-20
        sk = CpcSketch(lg_k=11)
        assert sk.is_empty()
        assert sk.estimate() == 0.0
        assert sk.lower_bound(1) == 0.0
        assert sk.upper_bound(1) == 0.0
        assert sk.validate()

    def test_one_value(self):
        # tests/cpc_update_test.rs:22-31
        sk = _filled(11, 1)
        assert not sk.is_empty()
        assert sk.estimate() == 1.0
        assert sk.lower_bound(1) <= sk.estimate() <= sk.upper_bound(1)
        assert sk.validate()

    def test_many_values(self):
        # tests/cpc_update_test.rs:33-47 (10k at lg_k 11, 2% band)
        sk = _filled(11, 10000)
        assert sk.estimate() == pytest.approx(
            10000.0, rel=RELATIVE_ERROR_FOR_LG_K_11)
        assert sk.lower_bound(1) <= sk.estimate() <= sk.upper_bound(1)
        assert sk.validate()

    def test_accuracy_across_flavors(self):
        # exercise SPARSE -> HYBRID -> PINNED -> SLIDING at lg_k 8; the
        # per-flavor bands follow the kappa=3 ICON/HIP interval widths
        for n, flavor in [(20, "SPARSE"), (120, "HYBRID"),
                          (1000, "PINNED"), (50000, "SLIDING")]:
            sk = _filled(8, n)
            assert sk.flavor() == flavor, (n, sk.flavor())
            assert sk.lower_bound(3) <= n <= sk.upper_bound(3), \
                (n, sk.estimate())
            assert sk.validate()

    def test_dedup_within_and_across_batches(self):
        a = CpcSketch(lg_k=11)
        a.update_keys(np.vstack([_keys(0, 500)] * 3))
        a.update_keys(_keys(0, 500))
        b = _filled(11, 500)
        assert a.num_coupons == b.num_coupons
        assert a.estimate() == b.estimate()  # HIP sees only novel coupons

    def test_flavor_thresholds(self):
        # cpc/mod.rs:76-92: boundaries at 3K/32, K/2, 27K/8 for K=2048
        for c, want in [(0, "EMPTY"), (1, "SPARSE"), (191, "SPARSE"),
                        (192, "HYBRID"), (1023, "HYBRID"), (1024, "PINNED"),
                        (6911, "PINNED"), (6912, "SLIDING")]:
            assert determine_flavor(11, c) == want

    def test_window_offset(self):
        # cpc/mod.rs:94-102: max(0, floor((8C - 19K)/8K))
        k = 1 << 11
        assert determine_correct_offset(11, 0) == 0
        assert determine_correct_offset(11, 2 * k) == 0
        assert determine_correct_offset(11, 3 * k) == (24 - 19) // 8
        assert determine_correct_offset(11, 10 * k) == (80 - 19) // 8

    def test_kxp_refresh_matches_incremental(self):
        sk = _filled(11, 30000)
        incremental = sk.kxp
        sk.refresh_kxp()
        assert sk.kxp == pytest.approx(incremental, rel=1e-9)

    def test_icon_monotone_and_exp_handoff(self):
        # estimator.rs:407-410: differing thresholds keep the estimator
        # monotone through the polynomial->exponential handoff
        prev = 0.0
        for c in range(1, 15000, 7):
            e = icon_estimate(11, c)
            assert e >= prev
            prev = e


class TestUnion:
    def test_empty(self):
        # tests/cpc_union_test.rs:12-18
        sk = CpcUnion(11).to_sketch()
        assert sk.is_empty() and sk.estimate() == 0.0

    def test_two_values(self):
        # tests/cpc_union_test.rs:20-39
        sk = _filled(11, 1)
        u = CpcUnion(11)
        u.update(sk)
        assert u.to_sketch().estimate() == 1.0
        sk.update_keys(_keys(1, 2))
        u.update(sk)
        assert u.to_sketch().estimate() == pytest.approx(2.0, rel=0.02)

    def test_merged_uses_icon(self):
        sk = _filled(11, 1000)
        u = CpcUnion(11)
        u.update(sk)
        m = u.to_sketch()
        assert m.merge_flag and not sk.merge_flag
        assert m.estimate() == pytest.approx(
            icon_estimate(11, m.num_coupons))

    def test_seed_mismatch_raises(self):
        # tests/cpc_union_test.rs:60-69
        sk = CpcSketch(lg_k=11, seed=123)
        sk.update_keys(_keys(0, 3))
        with pytest.raises(serde.SketchDecodeError):
            CpcUnion(11, seed=234).update(sk)

    def test_large_union_matches_single_sketch(self):
        # tests/cpc_union_test.rs:71-93 scaled down: 50 batches x 2000
        direct = CpcSketch(lg_k=11)
        u = CpcUnion(11)
        for i in range(50):
            batch = _keys(i * 2000, (i + 1) * 2000)
            direct.update_keys(batch)
            tmp = CpcSketch(lg_k=11)
            tmp.update_keys(batch)
            u.update(tmp)
        m = u.to_sketch()
        # identical coupon sets -> identical matrices
        assert m.num_coupons == direct.num_coupons
        assert np.array_equal(m.matrix, direct.matrix)
        assert m.estimate() == pytest.approx(
            direct.estimate(), rel=RELATIVE_ERROR_FOR_LG_K_11)

    def test_reduce_k(self):
        # tests/cpc_union_test.rs: union's lg_k drops to the smallest
        # source lg_k, and the downsampled estimate stays in band
        sk11 = _filled(11, 10000)
        u = CpcUnion(12)
        u.update(sk11)
        m = u.to_sketch()
        assert m.lg_k == 11
        assert m.estimate() == pytest.approx(10000.0, rel=0.03)

    def test_mixed_lg_k_matches_downsampled(self):
        # row folding mod k is exact: fold(sk12) == sk11's coupon set is
        # NOT guaranteed (rows differ), but the union must equal building
        # at the union's final lg_k directly from the coupon union
        sk12 = _filled(12, 5000)
        sk11 = _filled(11, 5000, lo=5000)
        m = sk11.union(sk12)
        assert m.lg_k == 11
        folded = np.bitwise_or.reduce(sk12.matrix.reshape(2, -1), axis=0)
        assert np.array_equal(m.matrix, folded | sk11.matrix)


class TestSerde:
    def test_roundtrip_sparse_and_dense(self):
        for n in (5, 200, 30000):
            sk = _filled(11, n)
            rt = CpcSketch.deserialize(sk.serialize())
            assert np.array_equal(rt.matrix, sk.matrix)
            assert rt.num_coupons == sk.num_coupons
            assert rt.estimate() == sk.estimate()  # HIP state preserved
            assert rt.lg_k == sk.lg_k and not rt.merge_flag

    def test_roundtrip_merged(self):
        m = _filled(11, 1000).union(_filled(11, 1000, lo=500))
        rt = CpcSketch.deserialize(m.serialize())
        assert rt.merge_flag
        assert rt.estimate() == m.estimate()

    def test_corruption_rejected(self):
        blob = bytearray(_filled(11, 100).serialize())
        with pytest.raises(serde.SketchDecodeError):
            CpcSketch.deserialize(bytes(blob[:4]))
        bad_magic = bytes([blob[0] ^ 0xFF]) + bytes(blob[1:])
        with pytest.raises(serde.SketchDecodeError):
            CpcSketch.deserialize(bad_magic)
        # flip a payload bit -> num_coupons/popcount mismatch
        tampered = bytearray(blob)
        tampered[-1] ^= 0x01
        with pytest.raises(serde.SketchDecodeError):
            CpcSketch.deserialize(bytes(tampered))

    def test_seed_mismatch_rejected(self):
        sk = CpcSketch(lg_k=11, seed=123)
        sk.update_keys(_keys(0, 10))
        with pytest.raises(serde.SketchDecodeError):
            CpcSketch.deserialize(sk.serialize(), seed=456)


class TestSpark:
    def test_cpc_agg_estimate(self, spark, sf_correct_dir):
        import duckdb
        from datasketches_rust_spark import agg
        ev = spark.read.parquet(f"{sf_correct_dir}/events.parquet")
        sk = agg.sketch_agg(ev, [], "user_id", "cpc", lg_k=11)
        est = agg.estimate_udf("cpc")
        got = sk.select(est("sketch").alias("e")).collect()[0]["e"]
        truth = duckdb.sql(
            f"select count(distinct user_id) from "
            f"'{sf_correct_dir}/events.parquet'").fetchone()[0]
        # merged partials -> ICON; kappa=3 band at lg_k 11
        assert got == pytest.approx(truth, rel=0.05), (got, truth)

    def test_cpc_grouped(self, spark, sf_correct_dir):
        import duckdb
        from datasketches_rust_spark import agg
        ev = spark.read.parquet(f"{sf_correct_dir}/events.parquet")
        sk = agg.sketch_agg(ev, ["event_type"], "user_id", "cpc", lg_k=11)
        est = agg.estimate_udf("cpc")
        got = {r["event_type"]: r["e"] for r in
               sk.select("event_type", est("sketch").alias("e")).collect()}
        truth = dict(duckdb.sql(
            f"select event_type, count(distinct user_id) from "
            f"'{sf_correct_dir}/events.parquet' group by 1").fetchall())
        assert set(got) == set(truth)
        for k, v in truth.items():
            assert got[k] == pytest.approx(v, rel=0.05), (k, got[k], v)
