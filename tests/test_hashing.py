"""Golden-vector tests for the hashing contract.

Vectors come from the reference test suite (hash/murmurhash.rs:189-231) —
exercising every tail-length class: rem>8, rem<8, rem==8, rem==0, plus
0xff/0x00 bytes. If these pass, our MinHash/theta hashes are bit-identical
to the reference's identity contract (hash/mod.rs:44-61).
"""

import numpy as np
import pytest

from datasketches_rust_spark.hashing import (
    compute_seed_hash,
    hash64_matrix,
    hash_bytes_list,
    hash_i64s,
    hash_u64s,
    murmur3_x64_128,
    murmur3_x64_128_matrix,
    xxhash64,
)

GOLDEN = [
    # (key, seed, h1, h2) — hash/murmurhash.rs:189-231
    (b"The quick brown fox jumps over the lazy dog", 0,
     0xE34BBC7BBC071B6C, 0x7A433CA9C49A9347),
    (b"The quick brown fox jumps over the lazy eog", 0,
     0x362108102C62D1C9, 0x3285CD100292B305),
    (b"The quick brown fox jumps over the lazy dogdogdog", 0,
     0x9C8205300E612FC4, 0xCBC0AF6136AA3DF9),
    (b"The quick brown fox jumps over the lazy1", 0,
     0xE3301A827E5CDFE3, 0xBDBF05F8DA0F0392),
    (b"The quick brown fox jumps over t", 0,
     0xDF6AF91BB29BDACF, 0x91A341C58DF1F3A6),
    (bytes([0x54, 0x68, 0x65, 0x20, 0x71, 0x75, 0x69, 0x63, 0x6B, 0x20,
            0x62, 0x72, 0x6F, 0x77, 0x6E, 0x20, 0x66, 0x6F, 0x78, 0x20,
            0x6A, 0x75, 0x6D, 0x70, 0x73, 0x20, 0x6F, 0x76, 0x65, 0x72,
            0x20, 0x74, 0x68, 0x65, 0x20, 0x6C, 0x61, 0x7A, 0x79, 0x20,
            0x64, 0x6F, 0x67, 0xFF, 0x64, 0x6F, 0x67, 0x00]), 0,
     0xE88ABDA785929C9E, 0x96B98587CACC83D6),
]


@pytest.mark.parametrize("key,seed,h1,h2", GOLDEN)
def test_murmur_golden(key, seed, h1, h2):
    got1, got2 = murmur3_x64_128(key, seed)
    assert got1 == h1
    assert got2 == h2


def test_murmur_matrix_batches_match_scalar():
    rng = np.random.default_rng(42)
    for length in [0, 1, 4, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 64, 100]:
        mat = rng.integers(0, 256, size=(17, length), dtype=np.uint8)
        h1, h2 = murmur3_x64_128_matrix(mat, seed=9001)
        for i in range(mat.shape[0]):
            s1, s2 = murmur3_x64_128(mat[i].tobytes(), seed=9001)
            assert (int(h1[i]), int(h2[i])) == (s1, s2), f"len={length} row={i}"


def test_hash64_drops_sign_bit():
    # theta convention: h1 >> 1 (theta/hash_table.rs:123-128)
    mat = np.frombuffer(b"value_17", dtype=np.uint8).reshape(1, -1)
    h = hash64_matrix(mat, seed=9001)
    h1, _ = murmur3_x64_128(b"value_17", seed=9001)
    assert int(h[0]) == h1 >> 1
    assert int(h[0]) < 2**63


def test_hash_u64s_and_i64s():
    vals = np.arange(100, dtype=np.uint64)
    h = hash_u64s(vals)
    assert len(np.unique(h)) == 100
    # i64 path hashes two's-complement bytes: -1 == 0xFF...FF
    hi = hash_i64s(np.array([-1], dtype=np.int64))
    hu = hash_u64s(np.array([0xFFFFFFFFFFFFFFFF], dtype=np.uint64))
    assert hi[0] == hu[0]


def test_hash_bytes_list_variable_lengths():
    keys = [b"a", b"bb", b"ccc", b"a", b"", b"The quick brown fox"]
    out = hash_bytes_list(keys)
    assert out[0] == out[3]  # determinism
    scalar = [murmur3_x64_128(k, 9001)[0] >> 1 for k in keys]
    assert list(out) == scalar


def test_xxhash64_reference_values():
    # Published xxhash64 test vectors (public algorithm spec):
    # xxh64("", seed=0) and known short strings.
    assert xxhash64(b"", 0) == 0xEF46DB3751D8E999
    assert xxhash64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxhash64(b"abc", 0) == 0x44BC2CF5AD770999
    # long input exercises the 32-byte stripe path
    key = bytes(range(256))
    got = xxhash64(key, 0)
    # cross-check against two-batch matrix call
    from datasketches_rust_spark.hashing import xxhash64_matrix
    mat = np.vstack([np.frombuffer(key, np.uint8)] * 3)
    assert all(int(x) == got for x in xxhash64_matrix(mat, 0))


def test_seed_hash_nonzero():
    assert compute_seed_hash(9001) != 0
    assert 0 < compute_seed_hash(9001) < 2**16


def test_xxhash64_per_key_seed_array():
    """xxhash64_matrix accepts an (N,) seed array (the bloom h1 = xx(key,
    h0) reseed path, bloom/sketch.rs:494-510) — must equal a scalar-seed
    loop, across the stripe (>=32B) and tail-only (<32B) code paths."""
    from datasketches_rust_spark.hashing import xxhash64_matrix
    rng = np.random.default_rng(7)
    for length in (3, 8, 17, 31, 32, 40, 64, 77):
        mat = rng.integers(0, 256, size=(9, length), dtype=np.uint8)
        seeds = rng.integers(0, 2**64, size=9, dtype=np.uint64)
        got = xxhash64_matrix(mat, seeds)
        for i in range(9):
            assert int(got[i]) == xxhash64(mat[i].tobytes(), int(seeds[i])), \
                f"len={length} row={i}"


def test_encode_unsigned_conventions():
    """natural vs sign widening (hash_value/mod.rs:40-70): they agree on
    the low half of each unsigned range and diverge exactly on the high
    half, where natural == u64 widen and sign == two's-complement i64."""
    from datasketches_rust_spark.hashing import encode_unsigned, encode_values

    # low half: all three agree (doc contract from natural_extend.rs)
    assert encode_unsigned([42], 8, "natural") == \
        encode_unsigned([42], 8, "sign") == encode_values([42])

    # high half of u8: natural widens to u64 255, sign to i64 -1
    nat, = encode_unsigned([255], 8, "natural")
    sgn, = encode_unsigned([255], 8, "sign")
    assert nat == (255).to_bytes(8, "little")
    assert sgn == (-1).to_bytes(8, "little", signed=True)
    assert nat != sgn

    # u32 high half
    v = 0xFFFF_FFF0
    nat, = encode_unsigned([v], 32, "natural")
    sgn, = encode_unsigned([v], 32, "sign")
    assert nat == v.to_bytes(8, "little")
    assert sgn == (v - (1 << 32)).to_bytes(8, "little", signed=True)

    # u64: natural is the identity LE encoding
    big = (1 << 63) + 12345
    nat, = encode_unsigned([big], 64, "natural")
    assert nat == big.to_bytes(8, "little")

    with pytest.raises(ValueError):
        encode_unsigned([256], 8, "natural")
    with pytest.raises(ValueError):
        encode_unsigned([-1], 8, "natural")
    with pytest.raises(ValueError):
        encode_unsigned([1], 12, "natural")
    with pytest.raises(ValueError):
        encode_unsigned([1], 8, "zigzag")


def test_encode_values_canonical_float():
    """canonical_float.rs:105-118 parity: -0.0 encodes as +0.0, every
    NaN payload (quiet, signalling-ish payloads, negative NaN) encodes
    as the single Java Double.doubleToLongBits pattern
    0x7ff8000000000000, and non-NaN floats keep their own bits."""
    import math
    import struct

    import numpy as np

    from datasketches_rust_spark.hashing import encode_values

    zero, negzero = encode_values([0.0, -0.0])
    assert zero == negzero == struct.pack("<d", 0.0)

    # three distinct NaN bit patterns -> one canonical encoding
    payload_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8DEADBEEF0001))[0]
    neg_nan = struct.unpack("<d", struct.pack("<Q", 0xFFF8000000000000))[0]
    encs = encode_values([float("nan"), payload_nan, neg_nan,
                          np.float64("nan")])
    canon = struct.pack("<Q", 0x7FF8000000000000)
    assert all(e == canon for e in encs)
    assert math.isnan(struct.unpack("<d", canon)[0])

    # a regular float is untouched
    pi, = encode_values([3.141592653589793])
    assert pi == struct.pack("<d", 3.141592653589793)


def _nan_with(bits: int, dtype=np.float64):
    return np.frombuffer(int(bits).to_bytes(8, "little"),
                         dtype=np.float64)[0].astype(dtype)


@pytest.mark.parametrize("values", [
    np.array([0, 1, -1, 127, -128], dtype=np.int8),
    np.array([0, 300, -300, 32767, -32768], dtype=np.int16),
    np.array([0, 70000, -70000, 2**31 - 1, -2**31], dtype=np.int32),
    np.array([0, 5, -5, 2**63 - 1, -2**63], dtype=np.int64),
    np.array([True, False, True]),
    np.array([0.0, -0.0, 1.5, np.inf, -np.inf, np.nan,
              _nan_with(0xFFF8000000000000, np.float32)], dtype=np.float32),
    np.array([0.0, -0.0, 3.141592653589793, np.nan,
              _nan_with(0x7FF8DEADBEEF0001), _nan_with(0xFFF8000000000000),
              _nan_with(0x7FF0000000000001)]),
    np.array(["", "a", "bb", "ccc", "dd", "é"], dtype=object),
    np.array([1, "a", 2.5, b"xy", True], dtype=object),
], ids=["int8", "int16", "int32", "int64", "bool", "float32", "float64",
        "strings", "mixed"])
def test_key_groups_match_per_value_encoding(values):
    """The numeric fast path yields byte-identical groups to encoding
    each value: sign-extended integers, canonical f64 bits (-0.0 and
    every NaN payload folded), per-value bytes for everything else."""
    import pandas as pd

    from datasketches_rust_spark.hashing import (_grouped_by_length,
                                                 encode_values, key_groups)

    want = [(g.tolist(), m.tobytes())
            for g, m in _grouped_by_length(encode_values(values))]
    for form in (values, pd.Series(values)):
        got = [(g.tolist(), m.tobytes()) for g, m in key_groups(form)]
        assert got == want
