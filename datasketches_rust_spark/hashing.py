"""Vectorized hashing kernels (numpy), the identity contract of the engine.

The reference pins MurmurHash3-x64-128 with seed 9001 as the 1:1 key<->hash
contract that makes sketch set-operations valid (hash/mod.rs:44-61,
hash/murmurhash.rs:28-34), and XXHash64 for Bloom double-hashing
(bloom/mod.rs:110-121, hash/xxhash.rs:32-201). We re-implement both as
batch-vectorized numpy kernels: one call hashes N keys at once (N x L uint8
matrix), which is what lets the MinHash/theta/HLL update path run at Arrow
batch granularity with zero per-row Python.

Golden vectors from the reference test suite (hash/murmurhash.rs:189-231)
pin bit-exact compatibility; see tests/test_hashing.py.

All arithmetic is u64 mod 2^64 — numpy uint64 wraps silently, which is the
semantics we need (pinned by tests so a numpy behavior change is caught).
"""

from __future__ import annotations

import numpy as np

np.seterr(over="ignore")  # uint64 wraparound is the intended mod-2^64 semantics

DEFAULT_SEED = 9001

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_M5 = np.uint64(5)
_N1 = np.uint64(0x52DCE729)
_N2 = np.uint64(0x38495AB5)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)
_U64 = np.uint64


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _F1
    k = k ^ (k >> np.uint64(33))
    k = k * _F2
    return k ^ (k >> np.uint64(33))


def murmur3_x64_128_matrix(data: np.ndarray, seed: int = DEFAULT_SEED
                           ) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3 x64 128 over N equal-length keys.

    data: (N, L) uint8 matrix — each row one key of L bytes.
    Returns (h1, h2), each uint64 shape (N,).

    Matches the reference implementation bit-for-bit
    (hash/murmurhash.rs, golden vectors :189-231). Zero-padding the tail to
    16 bytes is equivalent to the byte-shift OR loop of the scalar version.
    """
    if data.ndim != 2 or data.dtype != np.uint8:
        raise ValueError("expected (N, L) uint8 matrix")
    n, length = data.shape
    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)

    nblocks = length // 16
    if nblocks:
        # (N, nblocks*2) little-endian u64 words
        words = np.ascontiguousarray(data[:, : nblocks * 16]).view("<u8")
        for i in range(nblocks):
            k1 = words[:, 2 * i].copy()
            k2 = words[:, 2 * i + 1].copy()
            k1 *= _C1
            k1 = _rotl(k1, 31)
            k1 *= _C2
            h1 ^= k1
            h1 = _rotl(h1, 27)
            h1 += h2
            h1 = h1 * _M5 + _N1
            k2 *= _C2
            k2 = _rotl(k2, 33)
            k2 *= _C1
            h2 ^= k2
            h2 = _rotl(h2, 31)
            h2 += h1
            h2 = h2 * _M5 + _N2

    rem = length - nblocks * 16
    if rem:
        tail = np.zeros((n, 16), dtype=np.uint8)
        tail[:, :rem] = data[:, nblocks * 16:]
        tw = tail.view("<u8")
        if rem > 8:
            k2 = tw[:, 1].copy()
            k2 *= _C2
            k2 = _rotl(k2, 33)
            k2 *= _C1
            h2 ^= k2
        k1 = tw[:, 0].copy()
        k1 *= _C1
        k1 = _rotl(k1, 31)
        k1 *= _C2
        h1 ^= k1

    ln = np.uint64(length)
    h1 ^= ln
    h2 ^= ln
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    h2 += h1
    return h1, h2


def murmur3_x64_128(key: bytes, seed: int = DEFAULT_SEED) -> tuple[int, int]:
    """Scalar convenience wrapper (single key) — same kernel."""
    arr = np.frombuffer(key, dtype=np.uint8).reshape(1, -1) if key else \
        np.zeros((1, 0), dtype=np.uint8)
    h1, h2 = murmur3_x64_128_matrix(arr, seed)
    return int(h1[0]), int(h2[0])


def hash64_matrix(data: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """The theta/KMV 64-bit key hash: murmur h1 >> 1.

    The reference drops the sign bit for Java compatibility
    (theta/hash_table.rs:123-128); we keep the identical convention so
    sketch states are comparable across implementations.
    """
    h1, _ = murmur3_x64_128_matrix(data, seed)
    return h1 >> np.uint64(1)


def hash_u64s(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """hash64 of N uint64 values (little-endian 8-byte keys), vectorized."""
    v = np.ascontiguousarray(values, dtype="<u8")
    return hash64_matrix(v.view(np.uint8).reshape(-1, 8), seed)


def hash_i64s(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """hash64 of N int64 values. Matches the reference's sign_extend
    convention for integral keys (hash_value/sign_extend.rs): the 64-bit
    two's-complement little-endian bytes are hashed."""
    v = np.ascontiguousarray(values, dtype="<i8")
    return hash64_matrix(v.view(np.uint8).reshape(-1, 8), seed)


def murmur_h1_u64s(values: np.ndarray, seed: int = DEFAULT_SEED
                   ) -> np.ndarray:
    """RAW murmur h1 (no theta sign-bit drop) of N uint64 LE keys — the
    convention the reference CountMin uses both to derive its per-row
    hash seeds (countmin/sketch.rs:493-503 make_hash_seeds) and to map
    an integer item to a bucket (countmin/sketch.rs:405-410)."""
    v = np.ascontiguousarray(values, dtype="<u8")
    h1, _ = murmur3_x64_128_matrix(v.view(np.uint8).reshape(-1, 8), seed)
    return h1


def hash_bytes_list(keys: list[bytes], seed: int = DEFAULT_SEED) -> np.ndarray:
    """hash64 of variable-length byte keys: group by length, hash each
    group as one matrix (raw_bytes convention, hash_value/mod.rs:59-73 —
    no length prefix). O(#distinct lengths) kernel launches."""
    out = np.empty(len(keys), dtype=np.uint64)
    for grp, mat in _grouped_by_length(keys):
        out[grp] = hash64_matrix(mat, seed)
    return out


def _grouped_by_length(keys: list[bytes]):
    """Yield (group_indices, (G, L) uint8 matrix) per distinct key length."""
    n = len(keys)
    lengths = np.fromiter((len(k) for k in keys), dtype=np.int64, count=n)
    order = np.argsort(lengths, kind="stable")
    bounds = np.flatnonzero(np.diff(lengths[order])) + 1
    for grp in np.split(order, bounds):
        length = int(lengths[grp[0]])
        if length == 0:
            yield grp, np.zeros((len(grp), 0), dtype=np.uint8)
        else:
            buf = b"".join(keys[int(i)] for i in grp)
            yield grp, np.frombuffer(buf, dtype=np.uint8).reshape(-1, length)


_CANONICAL_NAN = np.uint64(0x7FF8000000000000)


def key_groups(values):
    """Yield the same (group_indices, (G, L) uint8 matrix) groups as
    ``_grouped_by_length(encode_values(values))``, without building one
    ``bytes`` object per value when ``values`` is a numeric array.

    Integer and bool arrays are cast to 8-byte ``<i8`` keys (the
    sign_extend convention); float arrays become their canonical f64 bits
    (-0.0 -> +0.0, every NaN -> 0x7ff8...). Everything else takes the
    per-value path. ``values`` must hold no nulls."""
    kind = getattr(getattr(values, "dtype", None), "kind", None)
    if kind in ("b", "i", "u", "f"):
        arr = np.asarray(values)
        n = len(arr)
        if not n:
            return
        if kind == "f":
            f = arr.astype("<f8")
            nan = np.isnan(f)
            f[f == 0.0] = 0.0
            words = f.view("<u8")
            words[nan] = _CANONICAL_NAN
        else:
            words = arr.astype("<i8")
        yield np.arange(n), words.view(np.uint8).reshape(n, 8)
        return
    if len(values):
        yield from _grouped_by_length(encode_values(values))


def murmur128_bytes_list(keys: list[bytes], seed: int = DEFAULT_SEED
                         ) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) for variable-length byte keys (grouped-by-length batches)."""
    h1 = np.empty(len(keys), dtype=np.uint64)
    h2 = np.empty(len(keys), dtype=np.uint64)
    for grp, mat in _grouped_by_length(keys):
        g1, g2 = murmur3_x64_128_matrix(mat, seed)
        h1[grp], h2[grp] = g1, g2
    return h1, h2


def encode_values(values) -> list[bytes]:
    """Canonical byte encodings for hashable column values, following the
    reference's hash_value conventions (hash_value/mod.rs:24-73):
    ints sign-extended to 8-byte LE (sign_extend.rs), floats canonical f64
    bit pattern with -0.0 -> +0.0 and ALL NaN payloads collapsed to the
    Java Double.doubleToLongBits quiet NaN 0x7ff8000000000000
    (canonical_float.rs:105-118), strings/bytes raw (raw_bytes.rs).
    None -> b'' (callers should pre-filter nulls)."""
    out = []
    for v in values:
        if v is None:
            out.append(b"")
        elif isinstance(v, bytes):
            out.append(v)
        elif isinstance(v, str):
            out.append(v.encode("utf-8"))
        elif isinstance(v, (bool, np.bool_)):
            out.append(np.int64(int(v)).tobytes())
        elif isinstance(v, (int, np.integer)):
            out.append(np.int64(v).astype("<i8").tobytes())
        elif isinstance(v, (float, np.floating)):
            f = float(v)
            if f != f:  # any NaN payload -> one canonical bit pattern
                out.append(np.uint64(0x7FF8000000000000)
                           .astype("<u8").tobytes())
                continue
            if f == 0.0:
                f = 0.0  # canonicalize -0.0
            out.append(np.float64(f).astype("<f8").tobytes())
        else:
            out.append(str(v).encode("utf-8"))
    return out


def encode_unsigned(values, bits: int = 64,
                    strategy: str = "natural") -> list[bytes]:
    """Byte encodings for DECLARED-UNSIGNED integers, selecting between
    the reference's two short-int widening conventions (hash_value/
    mod.rs:40-70):

    - ``natural`` (hash_value/natural_extend.rs) — widen to u64 and hash
      its LE bytes. This is the BLOOM filter convention (matches
      datasketches-cpp's BloomFilter): from_u8(255) hashes like u64 255.
    - ``sign`` (hash_value/sign_extend.rs) — reinterpret the low ``bits``
      as two's-complement, sign-extend to i64, hash its LE bytes. This
      is the HLL/CPC/theta convention for short ints: from_u8(255)
      hashes like i64 -1.

    For values < 2^(bits-1) the two agree (and agree with
    ``encode_values``); they diverge exactly on the high half of the
    unsigned range. Spark columns are all signed so ``encode_values``
    is the default path; this exists for cross-impl parity with blobs
    built from unsigned items."""
    if bits not in (8, 16, 32, 64):
        raise ValueError("bits must be 8/16/32/64")
    if strategy not in ("natural", "sign"):
        raise ValueError("strategy must be 'natural' or 'sign'")
    out = []
    for v in values:
        v = int(v)
        if not 0 <= v < (1 << bits):
            raise ValueError(f"{v} out of range for u{bits}")
        if strategy == "natural":
            out.append(v.to_bytes(8, "little", signed=False))
        else:
            if v >= 1 << (bits - 1):
                v -= 1 << bits
            out.append(v.to_bytes(8, "little", signed=True))
    return out


# ---------------------------------------------------------------------------
# XXHash64 (Bloom filter double-hashing base, hash/xxhash.rs)
# ---------------------------------------------------------------------------

_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)


def xxhash64_matrix(data: np.ndarray, seed=0) -> np.ndarray:
    """XXHash64 over N equal-length keys ((N, L) uint8 -> (N,) uint64).

    Port of the algorithm the reference Bloom filter uses for its
    Kirsch-Mitzenmacher double hashing (hash/xxhash.rs:32-201,
    bloom/mod.rs:110-121). ``seed`` may be a scalar or an (N,) uint64
    array of per-key seeds — the reference's second base hash reseeds
    with the first (bloom/sketch.rs:499-510 compute_hash), which is a
    different seed per key.
    """
    if data.ndim != 2 or data.dtype != np.uint8:
        raise ValueError("expected (N, L) uint8 matrix")
    n, length = data.shape
    seed = np.asarray(seed, dtype=np.uint64)  # scalar or per-key (N,)
    pos = 0

    def _owned(x: np.ndarray) -> np.ndarray:
        return np.broadcast_to(x, (n,)).astype(np.uint64, copy=True)

    if length >= 32:
        v1 = _owned(seed + _XP1 + _XP2)
        v2 = _owned(seed + _XP2)
        v3 = _owned(seed)
        v4 = _owned(seed - _XP1)
        nstripes = length // 32
        words = np.ascontiguousarray(data[:, : nstripes * 32]).view("<u8")
        for i in range(nstripes):
            base = 4 * i
            for j, v in enumerate((v1, v2, v3, v4)):
                v += words[:, base + j] * _XP2
                v[:] = _rotl(v, 31)
                v *= _XP1
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18))
        for v in (v1, v2, v3, v4):
            vv = v * _XP2
            vv = _rotl(vv, 31)
            vv *= _XP1
            h ^= vv
            h = h * _XP1 + _XP4
        pos = nstripes * 32
    else:
        h = _owned(seed + _XP5)

    h = h + np.uint64(length)

    # 8-byte chunks
    while length - pos >= 8:
        k = np.ascontiguousarray(data[:, pos:pos + 8]).view("<u8")[:, 0].copy()
        k *= _XP2
        k = _rotl(k, 31)
        k *= _XP1
        h ^= k
        h = _rotl(h, 27) * _XP1 + _XP4
        pos += 8
    if length - pos >= 4:
        k = np.ascontiguousarray(data[:, pos:pos + 4]).view("<u4")[:, 0]
        h ^= k.astype(np.uint64) * _XP1
        h = _rotl(h, 23) * _XP2 + _XP3
        pos += 4
    while pos < length:
        h ^= data[:, pos].astype(np.uint64) * _XP5
        h = _rotl(h, 11) * _XP1
        pos += 1

    h ^= h >> np.uint64(33)
    h *= _XP2
    h ^= h >> np.uint64(29)
    h *= _XP3
    h ^= h >> np.uint64(32)
    return h


def xxhash64(key: bytes, seed: int = 0) -> int:
    arr = np.frombuffer(key, dtype=np.uint8).reshape(1, -1) if key else \
        np.zeros((1, 0), dtype=np.uint8)
    return int(xxhash64_matrix(arr, seed)[0])


def compute_seed_hash(seed: int) -> int:
    """16-bit seed fingerprint, must be nonzero (hash/mod.rs:72-81)."""
    h1, _ = murmur3_x64_128(np.uint64(seed).tobytes(), seed=0)
    sh = h1 & 0xFFFF
    if sh == 0:
        raise ValueError(f"seed {seed} hashes to zero seed-hash; pick another")
    return sh
