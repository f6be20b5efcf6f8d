"""Kernel tests mirroring the reference test strategy (SURVEY.md §5):
accuracy-tolerance assertions, round-trip serde, corruption rejection.
Tolerances copied from the reference tests (cited per test).
"""

import numpy as np
import pytest

from datasketches_rust_spark.hashing import hash_bytes_list, hash_u64s
from datasketches_rust_spark.sketches import serde
from datasketches_rust_spark.sketches.bloom import BloomFilter
from datasketches_rust_spark.sketches.countmin import (CountMinSketch,
                                                       suggest_num_buckets,
                                                       suggest_num_hashes)
from datasketches_rust_spark.sketches.frequencies import (NO_FALSE_NEGATIVES,
                                                          NO_FALSE_POSITIVES,
                                                          FrequentItemsSketch)
from datasketches_rust_spark.sketches.hll import HllSketch
from datasketches_rust_spark.sketches.minhash import (band_hashes,
                                                      jaccard_estimate,
                                                      merge, signature_one,
                                                      signatures)
from datasketches_rust_spark.sketches.simhash import (hamming, hamming_bands,
                                                      simhash)
from datasketches_rust_spark.sketches.tdigest import TDigest
from datasketches_rust_spark.sketches.theta import MAX_THETA, ThetaSketch


def _str_hashes(n, prefix="value_"):
    return hash_bytes_list([f"{prefix}{i}".encode() for i in range(n)])


# ---------------------------------------------------------------- theta ----
class TestTheta:
    def test_exact_below_k(self):
        # exact until >k retained (tests/theta_sketch_test.rs:24-36)
        sk = ThetaSketch(lg_k=12)
        sk.update_hashes(_str_hashes(1000))
        assert not sk.is_estimation_mode()
        assert sk.estimate() == 1000.0

    def test_duplicates_ignored(self):
        sk = ThetaSketch(lg_k=12)
        h = _str_hashes(500)
        sk.update_hashes(np.concatenate([h, h, h]))
        assert sk.estimate() == 500.0

    def test_estimation_mode_accuracy(self):
        sk = ThetaSketch(lg_k=12)
        sk.update_hashes(_str_hashes(100_000))
        assert sk.is_estimation_mode()
        assert abs(sk.estimate() - 100_000) / 100_000 < 0.05
        lb, ub = sk.bounds(2)
        assert lb <= 100_000 <= ub

    def test_trim_keeps_k(self):
        # trim to k (tests/theta_sketch_test.rs:97-112)
        sk = ThetaSketch(lg_k=5)
        sk.update_hashes(_str_hashes(10_000))
        sk.trim()
        assert sk.entries.size <= 32

    def test_union_matches_direct(self):
        # union drift vs direct sketch (cf. tests/hll_union_test.rs style)
        a = ThetaSketch(lg_k=12).update_hashes(_str_hashes(30_000, "a_"))
        b = ThetaSketch(lg_k=12).update_hashes(_str_hashes(30_000, "b_"))
        u = a.union(b)
        assert abs(u.estimate() - 60_000) / 60_000 < 0.05

    def test_intersection_exact_small(self):
        # overlap of value_0..999 and value_500..1499 = 500, exact below k
        a = ThetaSketch(lg_k=12).update_hashes(
            hash_bytes_list([f"value_{i}".encode() for i in range(1000)]))
        b = ThetaSketch(lg_k=12).update_hashes(
            hash_bytes_list([f"value_{i}".encode() for i in range(500, 1500)]))
        i = a.intersect(b)
        assert i.estimate() == 500.0
        d = a.a_not_b(b)
        assert d.estimate() == 500.0

    def test_seed_mismatch_rejected(self):
        a = ThetaSketch(lg_k=12, seed=9001)
        b = ThetaSketch(lg_k=12, seed=9002)
        with pytest.raises(serde.SketchDecodeError):
            a.union(b)

    def test_serde_roundtrip_and_corruption(self):
        sk = ThetaSketch(lg_k=10).update_hashes(_str_hashes(5000))
        buf = sk.serialize()
        back = ThetaSketch.deserialize(buf)
        assert back.estimate() == sk.estimate()
        assert np.array_equal(back.entries, sk.entries)
        with pytest.raises(serde.SketchDecodeError):
            ThetaSketch.deserialize(buf[:10])
        with pytest.raises(serde.SketchDecodeError):
            ThetaSketch.deserialize(b"\x00" + buf[1:])
        with pytest.raises(serde.SketchDecodeError):
            ThetaSketch.deserialize(buf, seed=1234)  # wrong seed

    def test_reset(self):
        sk = ThetaSketch(lg_k=12).update_hashes(_str_hashes(10))
        sk.reset()
        assert sk.estimate() == 0.0
        assert sk.theta == MAX_THETA


# ------------------------------------------------------------------ hll ----
class TestHll:
    def _keys(self, n, prefix=b"k"):
        return hash_u64s(np.arange(n, dtype=np.uint64)).reshape(-1, 1).view(
            np.uint8)

    def test_small_band(self):
        # n=100 within ±20 at lg_k=12 (tests/hll_update_test.rs:36-43)
        sk = HllSketch(lg_k=12)
        keys = np.arange(100, dtype="<u8").view(np.uint8).reshape(100, 8)
        sk.update_keys(keys)
        assert abs(sk.estimate() - 100) <= 20

    @pytest.mark.parametrize("n", [1000, 10_000, 100_000])
    def test_scale_error(self, n):
        # <2% golden-scale bound at lg_k=12 — we allow 3*RSE ≈ 4.9%
        # (tests/hll_serialization_test.rs:225 uses cross-impl goldens;
        # ours is self-consistency at the same tolerance philosophy)
        sk = HllSketch(lg_k=12)
        keys = np.arange(n, dtype="<u8").view(np.uint8).reshape(n, 8)
        sk.update_keys(keys)
        assert abs(sk.estimate() - n) / n < 3 * 1.04 / np.sqrt(4096)

    def test_union_same_lgk_drift(self):
        # union vs direct <0.1% drift (tests/hll_union_test.rs:433-435):
        # register-max union of same-lg_k sketches is *exactly* the direct
        # sketch, so drift is 0
        n = 50_000
        keys = np.arange(n, dtype="<u8").view(np.uint8).reshape(n, 8)
        direct = HllSketch(lg_k=12).update_keys(keys)
        a = HllSketch(lg_k=12).update_keys(keys[: n // 2])
        b = HllSketch(lg_k=12).update_keys(keys[n // 2:])
        u = a.union(b)
        assert np.array_equal(u.regs, direct.regs)
        # r2: direct uses HIP, the union result is out-of-order and uses
        # the composite estimator (hll/estimator.rs:49-55) — the reference
        # test asserts drift tolerance, not equality
        assert u.out_of_order and not direct.out_of_order
        assert abs(u.estimate() - direct.estimate()) / n < 0.03

    def test_union_mixed_lgk_downsample(self):
        # downsample path (hll/union.rs:491-513)
        n = 20_000
        keys = np.arange(n, dtype="<u8").view(np.uint8).reshape(n, 8)
        a = HllSketch(lg_k=14).update_keys(keys[: n // 2])
        b = HllSketch(lg_k=11).update_keys(keys[n // 2:])
        u = a.union(b)
        assert u.lg_k == 11
        assert abs(u.estimate() - n) / n < 0.10

    def test_serde_roundtrip(self):
        keys = np.arange(777, dtype="<u8").view(np.uint8).reshape(777, 8)
        sk = HllSketch(lg_k=10).update_keys(keys)
        back = HllSketch.deserialize(sk.serialize())
        assert np.array_equal(back.regs, sk.regs)


# -------------------------------------------------------------- minhash ----
class TestMinHash:
    def test_identical_sets_identical_sigs(self):
        h = _str_hashes(50)
        assert np.array_equal(signature_one(h), signature_one(h[::-1]))

    def test_jaccard_estimate_accuracy(self):
        # J(A,B) = 1000 shared / 3000 total = 1/3; 128 perms => se ~ 0.042
        a = hash_bytes_list([f"s{i}".encode() for i in range(2000)])
        b = hash_bytes_list([f"s{i}".encode() for i in range(1000, 3000)])
        est = jaccard_estimate(signature_one(a), signature_one(b))
        assert abs(est - 1 / 3) < 0.13  # 3 sigma

    def test_batch_matches_single(self):
        docs = [_str_hashes(30, f"d{j}_") for j in range(7)]
        docs[3] = np.empty(0, dtype=np.uint64)  # empty doc
        flat = np.concatenate(docs)
        offs = np.cumsum([0] + [len(d) for d in docs])
        sigs = signatures(flat, offs)
        for j, d in enumerate(docs):
            assert np.array_equal(sigs[j], signature_one(d)), j

    def test_merge_is_union(self):
        a, b = _str_hashes(40, "x"), _str_hashes(40, "y")
        assert np.array_equal(merge(signature_one(a), signature_one(b)),
                              signature_one(np.concatenate([a, b])))

    def test_band_hashes_shape_and_equality(self):
        h = _str_hashes(60)
        s1, s2 = signature_one(h), signature_one(h)
        bh1, bh2 = band_hashes(np.array([s1]), 32, 4), band_hashes(
            np.array([s2]), 32, 4)
        assert bh1.shape == (1, 32)
        assert np.array_equal(bh1, bh2)
        assert (bh1 >= 0).all()


# ---------------------------------------------------------------- bloom ----
class TestBloom:
    def test_no_false_negatives(self):
        bf = BloomFilter.with_accuracy(1000, 0.01)
        keys = np.arange(1000, dtype="<u8").view(np.uint8).reshape(1000, 8)
        bf.insert_keys(keys)
        assert bf.contains_keys(keys).all()

    def test_fpp_in_range(self):
        bf = BloomFilter.with_accuracy(1000, 0.01)
        keys = np.arange(1000, dtype="<u8").view(np.uint8).reshape(1000, 8)
        bf.insert_keys(keys)
        probe = np.arange(1000, 21000, dtype="<u8").view(np.uint8).reshape(-1, 8)
        fp = bf.contains_keys(probe).mean()
        assert fp < 0.03  # target 0.01, generous band
        assert 0 < bf.estimated_fpp() < 0.03
        assert 0 < bf.load_factor() < 1

    def test_union_intersect_invert(self):
        k1 = np.arange(100, dtype="<u8").view(np.uint8).reshape(100, 8)
        k2 = np.arange(50, 150, dtype="<u8").view(np.uint8).reshape(100, 8)
        a = BloomFilter(4096, 4).insert_keys(k1)
        b = BloomFilter(4096, 4).insert_keys(k2)
        u = a.union(b)
        assert u.contains_keys(k1).all() and u.contains_keys(k2).all()
        i = a.intersect(b)
        shared = np.arange(50, 100, dtype="<u8").view(np.uint8).reshape(50, 8)
        assert i.contains_keys(shared).all()
        inv = a.invert()
        assert inv.bits_used() == 4096 - a.bits_used()

    def test_serde_and_compat(self):
        bf = BloomFilter(4096, 3)
        keys = np.arange(10, dtype="<u8").view(np.uint8).reshape(10, 8)
        bf.insert_keys(keys)
        back = BloomFilter.deserialize(bf.serialize())
        assert np.array_equal(back.words, bf.words)
        with pytest.raises(serde.SketchDecodeError):
            bf.union(BloomFilter(2048, 3))


# -------------------------------------------------------------- countmin ----
class TestCountMin:
    def test_suggestions(self):
        # countmin/sketch.rs:131-151
        assert suggest_num_buckets(0.2) == 14
        assert suggest_num_hashes(0.95) == 3

    def test_estimate_never_underestimates(self):
        cm = CountMinSketch(3, 128)
        rng = np.random.default_rng(7)
        keys = rng.integers(0, 50, 10_000).astype(np.uint64)
        kh = hash_u64s(keys)
        cm.update_hashes(kh)
        uniq, true_counts = np.unique(keys, return_counts=True)
        est = cm.estimate_hashes(hash_u64s(uniq))
        assert (est >= true_counts).all()
        assert (cm.upper_bound_hashes(hash_u64s(uniq)) >= est).all()
        # error bound: est <= true + eps*W with prob; generous check on max
        assert (est - true_counts).max() <= cm.relative_error() * 10_000 * 3

    def test_merge_additive(self):
        kh = hash_u64s(np.arange(100, dtype=np.uint64))
        a = CountMinSketch(3, 256).update_hashes(kh)
        b = CountMinSketch(3, 256).update_hashes(kh)
        m = a.merge(b)
        assert (m.estimate_hashes(kh) >= 2).all()
        assert m.total_weight == 200

    def test_serde(self):
        kh = hash_u64s(np.arange(100, dtype=np.uint64))
        cm = CountMinSketch(5, 64).update_hashes(kh, np.arange(100))
        back = CountMinSketch.deserialize(cm.serialize())
        assert np.array_equal(back.counts, cm.counts)
        assert back.total_weight == cm.total_weight


# ------------------------------------------------------------ frequencies ----
class TestFrequencies:
    def test_exact_below_load(self):
        # exact if distinct < 0.75*M (frequencies/mod.rs:43-44)
        fs = FrequentItemsSketch(64)
        items = [f"i{j % 40}" for j in range(4000)]
        fs.update_counts(items, [1] * len(items))
        assert fs.offset == 0
        assert fs.estimate("i0") == 100

    def test_heavy_hitter_semantics(self):
        fs = FrequentItemsSketch(64)
        rng = np.random.default_rng(3)
        # zipf-ish: heavy items 0..4, tail 5..999
        items = list(rng.zipf(1.4, 20_000) % 1000)
        fs.update_counts(items, [1] * len(items))
        true = {}
        for i in items:
            true[i] = true.get(i, 0) + 1
        # NoFalseNegatives must include every item with true count > ub threshold
        thr = int(0.02 * len(items))
        got_nfn = {i for i, *_ in fs.frequent_items(NO_FALSE_NEGATIVES, thr)}
        for item, c in true.items():
            if c > thr + fs.offset:
                assert item in got_nfn
        # NoFalsePositives: every reported lb > threshold really is frequent-ish
        for item, est, lb, ub in fs.frequent_items(NO_FALSE_POSITIVES, thr):
            assert true[item] >= lb
        # error bound (UB-LB) <= W*eps
        for item, est, lb, ub in fs.frequent_items(NO_FALSE_NEGATIVES, 0):
            assert ub - lb <= fs.total_weight * fs.epsilon() + 1

    def test_merge(self):
        a = FrequentItemsSketch(64).update_counts(["x"] * 50 + ["y"] * 10,
                                                  [1] * 60)
        b = FrequentItemsSketch(64).update_counts(["x"] * 30, [1] * 30)
        m = a.merge(b)
        assert m.estimate("x") == 80
        assert m.total_weight == 90

    def test_serde(self):
        fs = FrequentItemsSketch(32).update_counts(["a", "b", "a"], [1, 2, 3])
        back = FrequentItemsSketch.deserialize(fs.serialize())
        assert back.counts == fs.counts


# --------------------------------------------------------------- tdigest ----
class TestTDigest:
    def test_quantiles_uniform(self):
        rng = np.random.default_rng(11)
        vals = rng.uniform(0, 100, 100_000)
        td = TDigest(k=200).update_values(vals)
        for q in [0.01, 0.25, 0.5, 0.75, 0.99]:
            assert abs(td.quantile(q) - 100 * q) < 1.5, q
        assert td.quantile(0.0) == vals.min()
        assert td.quantile(1.0) == vals.max()

    def test_nan_inf_ignored(self):
        # tdigest/sketch.rs:171-174
        td = TDigest().update_values(np.array([1.0, np.nan, np.inf, -np.inf,
                                               2.0, 3.0]))
        assert td.total_weight() == 3.0

    def test_merge_matches_direct(self):
        rng = np.random.default_rng(5)
        a_vals, b_vals = rng.normal(size=20_000), rng.normal(2, 1, 20_000)
        direct = TDigest().update_values(np.concatenate([a_vals, b_vals]))
        m = TDigest().update_values(a_vals).merge(
            TDigest().update_values(b_vals))
        for q in [0.1, 0.5, 0.9]:
            assert abs(m.quantile(q) - direct.quantile(q)) < 0.1

    @pytest.mark.parametrize("parts", [2, 4])
    def test_merge_small_partials_sorted(self, parts):
        # small buffer-free partials skip _compress, so merge itself must
        # leave the centroids in mean order; ranks checked to 0.02, the
        # tolerance of test_rank_cdf_pmf
        rng = np.random.default_rng(17)
        chunks = [rng.lognormal(size=10_000) for _ in range(parts)]
        m = TDigest(k=200).update_values(chunks[0]).freeze()
        for c in chunks[1:]:
            m = m.merge(TDigest(k=200).update_values(c).freeze())
        assert np.all(np.diff(m.means) >= 0)
        vals = np.concatenate(chunks)
        for q in [0.25, 0.5, 0.95]:
            lo, hi = np.quantile(vals, [q - 0.02, q + 0.02])
            assert lo <= m.quantile(q) <= hi, q

    def test_rank_cdf_pmf(self):
        td = TDigest().update_values(np.arange(10_000, dtype=np.float64))
        assert abs(td.rank(5000) - 0.5) < 0.02
        cdf = td.cdf([2500, 7500])
        assert abs(cdf[0] - 0.25) < 0.02 and abs(cdf[1] - 0.75) < 0.02
        assert abs(sum(td.pmf([2500, 7500])) - 1.0) < 1e-9

    def test_serde(self):
        td = TDigest().update_values(np.arange(1000, dtype=np.float64))
        back = TDigest.deserialize(td.serialize())
        assert back.quantile(0.5) == td.quantile(0.5)


# --------------------------------------------------------------- simhash ----
class TestSimHash:
    def test_similar_docs_close(self):
        base = _str_hashes(200, "f")
        # doc2: 95% same features
        doc2 = np.concatenate([base[:190], _str_hashes(10, "g")])
        flat = np.concatenate([base, doc2])
        offs = np.array([0, 200, 400])
        fp = simhash(flat, offs)
        assert hamming(fp[:1], fp[1:])[0] <= 12

    def test_different_docs_far(self):
        a, b = _str_hashes(200, "p"), _str_hashes(200, "q")
        fp = simhash(np.concatenate([a, b]), np.array([0, 200, 400]))
        assert hamming(fp[:1], fp[1:])[0] >= 15

    def test_hamming_bands_pigeonhole(self):
        fp = np.uint64(0xDEADBEEFCAFEF00D)
        fp2 = fp ^ np.uint64(0b101)  # 3 bit flips, all in band 0
        b1 = hamming_bands(np.array([fp]), 4)
        b2 = hamming_bands(np.array([fp2]), 4)
        # distance 3 <= num_bands-1 => at least one band equal
        assert (b1 == b2).any()


def _hll_update_loop(sk: HllSketch, slots, values) -> None:
    """The per-item HLL update (hll/estimator.rs:25-47), one coupon at a
    time: the reference for the vectorized ``update_coupons``."""
    kf = float(sk.k)
    for s, v in zip(slots.tolist(), values.tolist()):
        old = int(sk.regs[s])
        if v <= old:
            continue
        if not sk.out_of_order:
            sk.hip_accum += kf / (sk.kxq0 + sk.kxq1)
        if old < 32:
            sk.kxq0 -= 2.0 ** -old
        else:
            sk.kxq1 -= 2.0 ** -old
        if v < 32:
            sk.kxq0 += 2.0 ** -v
        else:
            sk.kxq1 += 2.0 ** -v
        sk.regs[s] = v


@pytest.mark.parametrize("case", range(30))
def test_hll_update_coupons_matches_per_item_loop(case):
    """update_coupons leaves registers, HIP accumulator and both kxq sums
    bit-identical to the per-item loop, over random sizes and batch
    splits, values up to the cap (63, the kxq1 side) and out-of-order
    sketches (no HIP)."""
    rng = np.random.default_rng(1000 + case)
    lg_k = int(rng.integers(4, 15))
    n = int(rng.integers(1, 40_000))
    slots = rng.integers(0, 1 << lg_k, n)
    values = np.minimum(rng.geometric(0.5, n), 63).astype(np.uint8)
    values[rng.random(n) < 0.01] = rng.integers(30, 64)
    ooo = case % 5 == 4
    got = HllSketch(lg_k=lg_k, out_of_order=ooo)
    want = HllSketch(lg_k=lg_k, out_of_order=ooo)
    cuts = np.sort(rng.integers(0, n + 1, int(rng.integers(0, 4))))
    for s, v in zip(np.split(slots, cuts), np.split(values, cuts)):
        got.update_coupons(s, v)
        _hll_update_loop(want, s, v)
    assert np.array_equal(got.regs, want.regs)
    assert (got.hip_accum, got.kxq0, got.kxq1) == \
        (want.hip_accum, want.kxq0, want.kxq1)
    assert got.serialize() == want.serialize()
