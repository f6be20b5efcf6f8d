"""Cross-implementation wire-format tests for CountMin (family 18,
countmin/sketch.rs:273-386) and frequent-items (family 10,
frequencies/sketch.rs:408-525), plus the typed-counter semantics of
countmin/value.rs. Like the theta/bloom fixtures, layouts are pinned by
hand-assembled bytes straight from the published spec (the reference
ships no .sk goldens for these families).
"""

import struct

import numpy as np
import pytest

from datasketches_rust_spark.hashing import (DEFAULT_SEED, compute_seed_hash,
                                             encode_values, murmur3_x64_128,
                                             murmur_h1_u64s)
from datasketches_rust_spark.sketches import serde
from datasketches_rust_spark.sketches.countmin import CountMinSketch
from datasketches_rust_spark.sketches.frequencies import FrequentItemsSketch


# =========================================================== countmin ========

def _cm(nh=3, nb=32, unsigned=False) -> CountMinSketch:
    cm = CountMinSketch(nh, nb, unsigned=unsigned)
    cm.update_keys(encode_values([f"item{i}" for i in range(50)]),
                   np.arange(1, 51))
    return cm


class TestCountMinWire:
    def test_nonempty_layout_hand_assembled(self):
        cm = _cm()
        buf = cm.serialize()
        # preamble long 0: pre/ver/family/flags + unused u32
        assert struct.unpack_from("<BBBBI", buf, 0) == (2, 1, 18, 0, 0)
        # preamble long 1: num_buckets u32, num_hashes u8, seed_hash u16
        nb, nh, sh, _ = struct.unpack_from("<IBHB", buf, 8)
        assert (nb, nh) == (32, 3)
        assert sh == compute_seed_hash(DEFAULT_SEED)
        # payload: total_weight then row-major counts, 8B LE each
        assert struct.unpack_from("<q", buf, 16)[0] == cm.total_weight
        assert buf[24:] == cm.counts.astype("<i8").tobytes()
        assert len(buf) == 16 + 8 + 8 * 3 * 32

    def test_empty_has_no_payload(self):
        cm = CountMinSketch(4, 16)
        buf = cm.serialize()
        assert len(buf) == 16
        assert buf[3] == 1  # FLAGS_IS_EMPTY
        back = CountMinSketch.deserialize(buf)
        assert back.total_weight == 0 and not back.counts.any()

    def test_round_trip_byte_identical(self):
        cm = _cm(5, 64)
        buf = cm.serialize()
        back = CountMinSketch.deserialize(buf)
        assert back.serialize() == buf
        keys = encode_values([f"item{i}" for i in range(50)])
        assert np.array_equal(back.estimate_keys(keys),
                              cm.estimate_keys(keys))

    def test_unsigned_round_trip(self):
        cm = _cm(unsigned=True)
        back = CountMinSketch.deserialize(cm.serialize(), unsigned=True)
        assert back.counts.dtype == np.uint64
        assert np.array_equal(back.counts, cm.counts)

    def test_row_seed_derivation_matches_reference_recipe(self):
        """make_hash_seeds (countmin/sketch.rs:493-503): seed_i =
        murmur_h1(le8(i), sketch_seed) — recompute in scalar python."""
        cm = CountMinSketch(4, 16, seed=7)
        for i in range(4):
            h1, _ = murmur3_x64_128(int(i).to_bytes(8, "little"), 7)
            assert int(cm._row_seeds[i]) == h1

    def test_bucket_mapping_matches_reference_recipe(self):
        """bucket = murmur_h1(item_bytes, row_seed) % num_buckets
        (countmin/sketch.rs:405-410), scalar recompute per row."""
        cm = CountMinSketch(3, 29)
        key = b"apple"
        rows = cm._buckets_keys([key])
        for r in range(3):
            h1, _ = murmur3_x64_128(key, int(cm._row_seeds[r]))
            assert int(rows[r][0]) == h1 % 29
        # u64 items hash as their 8 LE bytes
        rows_u = cm._buckets_u64(np.array([12345], dtype=np.uint64))
        for r in range(3):
            h1, _ = murmur3_x64_128((12345).to_bytes(8, "little"),
                                    int(cm._row_seeds[r]))
            assert int(rows_u[r][0]) == h1 % 29

    @pytest.mark.parametrize("offset,value,msg", [
        (2, 21, "family"), (1, 9, "version"), (0, 3, "preamble"),
    ])
    def test_corrupt_header(self, offset, value, msg):
        buf = bytearray(_cm().serialize())
        buf[offset] = value
        with pytest.raises(serde.SketchDecodeError, match=msg):
            CountMinSketch.deserialize(bytes(buf))

    def test_bad_dims_and_seed_rejected(self):
        buf = bytearray(_cm().serialize())
        struct.pack_into("<I", buf, 8, 2)  # num_buckets < 3
        with pytest.raises(serde.SketchDecodeError, match="num_buckets"):
            CountMinSketch.deserialize(bytes(buf))
        buf = bytearray(_cm().serialize())
        buf[12] = 0  # num_hashes = 0
        with pytest.raises(serde.SketchDecodeError, match="num_hashes"):
            CountMinSketch.deserialize(bytes(buf))
        with pytest.raises(serde.SketchDecodeError, match="seed"):
            CountMinSketch.deserialize(_cm().serialize(), seed=999)

    def test_truncation_rejected(self):
        buf = _cm().serialize()
        for cut in (0, 8, 15, 20, len(buf) - 1):
            with pytest.raises(serde.SketchDecodeError):
                CountMinSketch.deserialize(buf[:cut])


class TestCountMinTypedCounters:
    """countmin/value.rs: halve/decay are UnsignedCountMinValue-only;
    signed counters accept negative weights (weighted removals)."""

    def test_signed_negative_weights(self):
        cm = CountMinSketch(3, 64)
        keys = encode_values(["a", "b"])
        cm.update_keys(keys, np.array([10, 5], dtype=np.int64))
        cm.update_keys(encode_values(["a"]), np.array([-4], dtype=np.int64))
        est = cm.estimate_keys(encode_values(["a"]))
        assert int(est[0]) == 6  # no collisions at this load
        assert cm.total_weight == 11

    def test_halve_decay_signed_rejected(self):
        cm = CountMinSketch(3, 64)
        with pytest.raises(TypeError, match="unsigned"):
            cm.halve()
        with pytest.raises(TypeError, match="unsigned"):
            cm.decay(0.5)

    def test_unsigned_halve_truncates(self):
        cm = CountMinSketch(3, 64, unsigned=True)
        cm.update_keys(encode_values(["x"]), 7)
        h = cm.halve()
        assert int(h.estimate_keys(encode_values(["x"]))[0]) == 3  # 7 >> 1
        assert h.total_weight == 3

    def test_unsigned_decay_truncates(self):
        cm = CountMinSketch(3, 64, unsigned=True)
        cm.update_keys(encode_values(["x"]), 10)
        d = cm.decay(0.35)
        assert int(d.estimate_keys(encode_values(["x"]))[0]) == 3
        with pytest.raises(ValueError):
            cm.decay(0.0)
        with pytest.raises(ValueError):
            cm.decay(1.5)

    def test_unsigned_rejects_negative_updates(self):
        cm = CountMinSketch(3, 64, unsigned=True)
        with pytest.raises(TypeError, match="negative"):
            cm.update_keys(encode_values(["x"]), -1)


# ========================================================= frequencies ======

class TestFrequenciesWire:
    def test_empty_is_six_bytes(self):
        sk = FrequentItemsSketch(64)
        buf = sk.serialize()
        # [pre=1][ver=1][fam=10][lg_max=6][lg_cur=3][flags=5]
        assert buf == bytes([1, 1, 10, 6, 3, 5])
        back = FrequentItemsSketch.deserialize(buf)
        assert back.max_map_size == 64 and not back.counts

    def test_empty_keeps_grown_lg_cur(self):
        # an empty blob whose map had grown (lg_cur 5 > LG_MIN 3) must
        # re-encode byte for byte, as the non-empty path does
        buf = bytes([1, 1, 10, 6, 5, 5])
        assert FrequentItemsSketch.deserialize(buf).serialize() == buf

    def test_nonempty_layout_hand_assembled(self):
        sk = FrequentItemsSketch(64)
        sk.update_counts(["a", "bb", "a"], [1, 2, 3])
        buf = sk.serialize()
        pre, ver, fam, lg_max, lg_cur, flags, _ = struct.unpack_from(
            "<BBBBBBH", buf, 0)
        assert (pre, ver, fam, lg_max, lg_cur) == (4, 1, 10, 6, 3)
        assert flags & 5 == 0          # not empty
        assert (flags >> 4) & 3 == 0   # str serde tag (reference-identical)
        n, _ = struct.unpack_from("<II", buf, 8)
        assert n == 2
        tw, offset = struct.unpack_from("<Qq", buf, 16)
        assert (tw, offset) == (6, 0)
        # values: retained counts as u64le, insertion order
        vals = np.frombuffer(buf, "<u8", 2, 32)
        assert set(vals.tolist()) == {4, 2}
        # items: u32le length + utf8 — the reference String layout
        off = 48
        got = []
        for _ in range(2):
            (ln,) = struct.unpack_from("<I", buf, off)
            got.append(buf[off + 4:off + 4 + ln].decode())
            off += 4 + ln
        assert set(got) == {"a", "bb"}
        assert off == len(buf)

    def test_reference_string_blob_reads_without_tag(self):
        """A blob exactly as the reference writes it (flags byte 0) must
        decode via the default str serde."""
        items, values = [b"apple", b"pear"], [7, 3]
        payload = b"".join(struct.pack("<I", len(it)) + it for it in items)
        buf = (struct.pack("<BBBBBBH", 4, 1, 10, 6, 3, 0, 0)
               + struct.pack("<II", 2, 0)
               + struct.pack("<QQ", 10, 0)
               + np.array(values, dtype="<u8").tobytes()
               + payload)
        sk = FrequentItemsSketch.deserialize(buf)
        assert sk.counts == {"apple": 7, "pear": 3}
        assert sk.total_weight == 10

    def test_reference_i64_blob_needs_explicit_type(self):
        """Reference i64 blobs carry flags=0; the reader must say T —
        same contract as FrequentItemsSketch::<i64>::deserialize."""
        buf = (struct.pack("<BBBBBBH", 4, 1, 10, 6, 3, 0, 0)
               + struct.pack("<II", 2, 0)
               + struct.pack("<QQ", 9, 0)
               + np.array([5, 4], dtype="<u8").tobytes()
               + np.array([-17, 42], dtype="<i8").tobytes())
        sk = FrequentItemsSketch.deserialize(buf, item_type="i64")
        assert sk.counts == {-17: 5, 42: 4}

    def test_int_round_trip_self_describing(self):
        sk = FrequentItemsSketch(64)
        sk.update_counts([3, -9, 3], [2, 1, 1])
        back = FrequentItemsSketch.deserialize(sk.serialize())
        assert back.counts == {3: 3, -9: 1}

    def test_offset_and_weight_survive(self):
        sk = FrequentItemsSketch(8)
        # force purges: 100 distinct items into an 8-slot map
        sk.update_counts([f"i{j}" for j in range(100)], [1] * 100)
        assert sk.offset > 0
        back = FrequentItemsSketch.deserialize(sk.serialize())
        assert back.offset == sk.offset
        assert back.total_weight == sk.total_weight == 100
        assert back.counts == sk.counts

    def test_lg_cur_tracks_active_items(self):
        sk = FrequentItemsSketch(1 << 10)
        sk.update_counts([f"i{j}" for j in range(100)], [1] * 100)
        _, lg_cur = sk._lg_sizes()
        # smallest lg with 100 <= 0.75 * 2^lg is 8
        assert lg_cur == 8
        buf = sk.serialize()
        assert buf[3] == 10 and buf[4] == 8

    @pytest.mark.parametrize("offset,value,msg", [
        (2, 18, "family"), (1, 7, "version"),
    ])
    def test_corrupt_header(self, offset, value, msg):
        sk = FrequentItemsSketch(64)
        sk.update_counts(["a"], [1])
        buf = bytearray(sk.serialize())
        buf[offset] = value
        with pytest.raises(serde.SketchDecodeError, match=msg):
            FrequentItemsSketch.deserialize(bytes(buf))

    def test_lg_cur_gt_lg_max_rejected(self):
        buf = bytearray(FrequentItemsSketch(64).serialize())
        buf[4] = 9  # lg_cur 9 > lg_max 6
        with pytest.raises(serde.SketchDecodeError, match="lg_cur"):
            FrequentItemsSketch.deserialize(bytes(buf))

    def test_truncation_rejected(self):
        sk = FrequentItemsSketch(64)
        sk.update_counts(["abcdef", "gh"], [4, 2])
        buf = sk.serialize()
        for cut in (3, 10, 31, 40, len(buf) - 1):
            with pytest.raises(serde.SketchDecodeError):
                FrequentItemsSketch.deserialize(buf[:cut])
