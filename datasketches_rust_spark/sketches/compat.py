"""Cross-implementation codecs for REFERENCE wire formats.

The reference tests itself against golden binaries from other
datasketches implementations (tests/common.rs:29-52, tests/test_data/).
This module lets the same golden corpus gate OUR kernels: decode the
committed `.sk` files into repo-native sketch objects and assert the
reference's own bounds (tests/test_golden.py). Theta has v3/v4 writers,
HLL an HLL8 writer and t-digest a v1 (f64) writer, so sketches built
here are readable by the Rust/Java/C++ implementations (CPC's codec is
cpc_compat.py; serde.py says which format each family's engine blobs
use).

Implemented formats (tdigest/sketch.rs:404-640, serialization.rs:18-27):

- DataSketches t-digest v1 (little-endian): preamble_longs u8, serial u8
  (=1), family u8 (=20), k u16, flags u8 (EMPTY=1, SINGLE=2, REVERSE=4),
  unused u16; then num_centroids u32, num_buffered u32, min, max,
  centroids [(mean, weight)], buffered values. f64 means with u64
  weights, or f32 means with u32 weights when ``is_f32``.
- t-digest "compat" format of Dunning's reference implementation
  (big-endian): type u32 (1=double, 2=float), min f64, max f64, then
  double: k f64, num u32, [(weight f64, mean f64)];
  float:  k f32, unused u32, num u16, [(weight f32, mean f32)].

``encode_tdigest`` writes the v1 f64 form.
"""

from __future__ import annotations

import struct

import numpy as np

from datasketches_rust_spark.sketches.serde import SketchDecodeError
from datasketches_rust_spark.sketches.tdigest import TDigest

_FAMILY_TDIGEST = 20
_SERIAL_VERSION = 1
_FLAG_EMPTY = 1
_FLAG_SINGLE = 2
_COMPAT_DOUBLE = 1
_COMPAT_FLOAT = 2


def _need(buf: bytes, off: int, n: int, what: str) -> None:
    if len(buf) < off + n:
        raise SketchDecodeError(
            f"insufficient data for {what}: need {off + n}, have {len(buf)}")


def decode_tdigest(buf: bytes, is_f32: bool = False) -> TDigest:
    """Decode either reference t-digest format (auto-dispatch mirrors
    tdigest/sketch.rs:404-421: an all-zero first header triple means the
    big-endian compat format)."""
    _need(buf, 0, 3, "header")
    preamble_longs, serial, family = buf[0], buf[1], buf[2]
    if family != _FAMILY_TDIGEST:
        if preamble_longs == 0 and serial == 0 and family == 0:
            return _decode_compat(buf)
        raise SketchDecodeError(f"family {family} is not TDIGEST")
    if serial != _SERIAL_VERSION:
        raise SketchDecodeError(f"unsupported serial version {serial}")
    _need(buf, 3, 5, "preamble")
    (k,) = struct.unpack_from("<H", buf, 3)
    if k < 10:
        raise SketchDecodeError(f"k must be >= 10, got {k}")
    flags = buf[5]
    off = 8  # u16 unused at 6..8
    if flags & _FLAG_EMPTY:
        return TDigest(k=int(k))
    vchar, vsize = ("f", 4) if is_f32 else ("d", 8)
    vfmt = "<" + vchar
    if flags & _FLAG_SINGLE:
        _need(buf, off, vsize, "single value")
        (v,) = struct.unpack_from(vfmt, buf, off)
        td = TDigest(k=int(k))
        td.update_values(np.array([v]))
        return td
    _need(buf, off, 8 + 2 * vsize, "centroid header")
    num_centroids, num_buffered = struct.unpack_from("<II", buf, off)
    off += 8
    mn, mx = struct.unpack_from("<" + vchar * 2, buf, off)
    off += 2 * vsize
    if is_f32:
        _need(buf, off, 8 * num_centroids, "centroids")
        pairs = np.frombuffer(buf, dtype=[("m", "<f4"), ("w", "<u4")],
                              count=num_centroids, offset=off)
        off += 8 * num_centroids
    else:
        _need(buf, off, 16 * num_centroids, "centroids")
        pairs = np.frombuffer(buf, dtype=[("m", "<f8"), ("w", "<u8")],
                              count=num_centroids, offset=off)
        off += 16 * num_centroids
    _need(buf, off, vsize * num_buffered, "buffer")
    buffered = np.frombuffer(buf, dtype=vfmt, count=num_buffered,
                             offset=off).astype(np.float64)
    means = pairs["m"].astype(np.float64)
    weights = pairs["w"].astype(np.float64)
    if np.any(weights <= 0) or not np.all(np.isfinite(means)):
        raise SketchDecodeError("corrupt centroid list")
    order = np.argsort(means, kind="stable")
    td = TDigest(k=int(k), means=means[order], weights=weights[order],
                 min_val=float(mn), max_val=float(mx))
    if buffered.size:
        td.update_values(buffered)
    return td


def _decode_compat(buf: bytes) -> TDigest:
    (ty,) = struct.unpack_from(">I", buf, 0)
    if ty == _COMPAT_DOUBLE:
        _need(buf, 4, 28, "compat double header")
        mn, mx, kf = struct.unpack_from(">ddd", buf, 4)
        (num,) = struct.unpack_from(">I", buf, 28)
        _need(buf, 32, 16 * num, "compat centroids")
        pairs = np.frombuffer(buf, dtype=[("w", ">f8"), ("m", ">f8")],
                              count=num, offset=32)
    elif ty == _COMPAT_FLOAT:
        _need(buf, 4, 26, "compat float header")
        mn, mx = struct.unpack_from(">dd", buf, 4)
        (kf,) = struct.unpack_from(">f", buf, 20)
        (num,) = struct.unpack_from(">H", buf, 28)  # u32 unused at 24..28
        _need(buf, 30, 8 * num, "compat centroids")
        pairs = np.frombuffer(buf, dtype=[("w", ">f4"), ("m", ">f4")],
                              count=num, offset=30)
    else:
        raise SketchDecodeError(f"unknown compat type {ty}")
    k = int(kf)
    if k < 10:
        raise SketchDecodeError(f"k must be >= 10, got {k}")
    means = pairs["m"].astype(np.float64)
    weights = pairs["w"].astype(np.float64)
    if np.any(weights <= 0) or not np.all(np.isfinite(means)):
        raise SketchDecodeError("corrupt centroid list")
    order = np.argsort(means, kind="stable")
    return TDigest(k=k, means=means[order], weights=weights[order],
                   min_val=float(mn), max_val=float(mx))


# ---------------------------------------------------------------------------
# Compact theta sketch — reference wire formats v1-v4
# (theta/sketch.rs:598-891, theta/serialization.rs:20-30,
#  theta/bit_pack.rs). v3 is the Java/C++ interchange format; v4 is the
# delta-compressed variant. The reference ships no committed theta golden
# binaries in-sandbox (tests/serialization_test_data is generated by
# tools/generate_serialization_test_data.py, absent here), so
# tests/test_golden.py pins these against hand-assembled byte fixtures
# following the same layout, plus writer/reader round-trips.

_FAMILY_THETA = 3
_THETA_SERIAL_V3 = 3          # UNCOMPRESSED_SERIAL_VERSION
_THETA_SERIAL_V4 = 4          # COMPRESSED_SERIAL_VERSION
_TH_FLAG_READONLY = 1 << 1
_TH_FLAG_EMPTY = 1 << 2
_TH_FLAG_COMPACT = 1 << 3
_TH_FLAG_ORDERED = 1 << 4
_MAX_THETA = (1 << 63) - 1    # theta/mod.rs:55
_V2_PRE_EMPTY, _V2_PRE_PRECISE, _V2_PRE_ESTIMATE = 1, 2, 3
_BLOCK_WIDTH = 8              # theta/bit_pack.rs:18


class CompactTheta:
    """Decoded reference compact theta sketch: sorted u64 entries below
    theta. Interops with our ThetaSketch via to_native()."""

    __slots__ = ("entries", "theta", "seed_hash", "ordered", "empty")

    def __init__(self, entries, theta, seed_hash, ordered, empty):
        self.entries = np.asarray(entries, dtype=np.uint64)
        self.theta = int(theta)
        self.seed_hash = int(seed_hash)
        self.ordered = bool(ordered)
        self.empty = bool(empty)

    def estimate(self) -> float:
        return float(self.entries.size) / (self.theta / float(_MAX_THETA))

    def is_estimation_mode(self) -> bool:
        return self.theta < _MAX_THETA

    def to_native(self, lg_k: int = 12, seed: int | None = None):
        """Repo-native ThetaSketch with the same retained set/theta (union
        and intersection then apply directly)."""
        from datasketches_rust_spark.hashing import (DEFAULT_SEED,
                                                     compute_seed_hash)
        from datasketches_rust_spark.sketches.theta import ThetaSketch
        seed = DEFAULT_SEED if seed is None else seed
        if compute_seed_hash(seed) != self.seed_hash:
            raise SketchDecodeError(
                f"seed hash mismatch: sketch {self.seed_hash}, "
                f"seed {seed} -> {compute_seed_hash(seed)}")
        sk = ThetaSketch(lg_k=lg_k, seed=seed)
        sk.theta = np.uint64(self.theta)
        sk.entries = np.sort(self.entries)
        return sk


def _check_entries(entries: np.ndarray, theta: int) -> None:
    if entries.size and (np.any(entries == 0)
                         or np.any(entries >= np.uint64(theta))):
        raise SketchDecodeError("corrupted: invalid retained hash value")


def encode_tdigest(td) -> bytes:
    """Serialize a repo-native TDigest to the reference's f64 wire format
    (tdigest/sketch.rs:423-470) — readable by the Rust implementation and
    round-trippable through decode_tdigest. Compresses first (the
    reference never serializes a buffer; the second u32 our decoder reads
    as num_buffered is the reference's unused field, written 0)."""
    td._compress()
    total_w = int(td.weights.sum()) if td.weights.size else 0
    empty = total_w == 0
    single = total_w == 1
    flags = (_FLAG_EMPTY if empty else 0) | (_FLAG_SINGLE if single else 0)
    out = bytearray(struct.pack(
        "<BBBHBH", 1 if (empty or single) else 2, _SERIAL_VERSION,
        _FAMILY_TDIGEST, td.k, flags, 0))
    if empty:
        return bytes(out)
    if single:
        out += struct.pack("<d", td.min_val)
        return bytes(out)
    out += struct.pack("<II", td.means.size, 0)
    out += struct.pack("<dd", td.min_val, td.max_val)
    pairs = np.empty(td.means.size, dtype=[("m", "<f8"), ("w", "<u8")])
    pairs["m"] = td.means
    pairs["w"] = td.weights.astype(np.uint64)
    out += pairs.tobytes()
    return bytes(out)


def decode_theta(buf: bytes, expected_seed: int = 9001) -> CompactTheta:
    """Decode reference compact theta bytes, serial versions 1-4
    (theta/sketch.rs:603-630 dispatch)."""
    from datasketches_rust_spark.hashing import compute_seed_hash
    _need(buf, 0, 8, "preamble")
    pre_longs, ser_ver, family = buf[0], buf[1], buf[2]
    if family != _FAMILY_THETA:
        raise SketchDecodeError(f"family {family} is not THETA")
    if not 1 <= pre_longs <= 3:
        raise SketchDecodeError(f"preamble longs {pre_longs} out of [1,3]")
    want_hash = compute_seed_hash(expected_seed)

    if ser_ver == 1:
        # v1: no seed hash on the wire; trust expected_seed
        # (theta/sketch.rs:648-685)
        _need(buf, 8, 16, "v1 header")
        (num_entries,) = struct.unpack_from("<I", buf, 8)
        (theta,) = struct.unpack_from("<Q", buf, 16)
        if num_entries == 0 and theta == _MAX_THETA:
            return CompactTheta([], _MAX_THETA, want_hash, True, True)
        _need(buf, 24, 8 * num_entries, "entries")
        entries = np.frombuffer(buf, dtype="<u8", count=num_entries,
                                offset=24)
        _check_entries(entries, theta)
        return CompactTheta(entries, theta, want_hash, True, False)

    if ser_ver == 2:
        (seed_hash,) = struct.unpack_from("<H", buf, 6)
        if seed_hash != want_hash:
            raise SketchDecodeError(
                f"incompatible seed hash: expected {want_hash}, "
                f"got {seed_hash}")
        if pre_longs == _V2_PRE_EMPTY:
            return CompactTheta([], _MAX_THETA, seed_hash, True, True)
        _need(buf, 8, 8, "v2 num_entries")
        (num_entries,) = struct.unpack_from("<I", buf, 8)
        theta, off = _MAX_THETA, 16
        if pre_longs == _V2_PRE_ESTIMATE:
            _need(buf, 16, 8, "v2 theta")
            (theta,) = struct.unpack_from("<Q", buf, 16)
            off = 24
        _need(buf, off, 8 * num_entries, "entries")
        entries = np.frombuffer(buf, dtype="<u8", count=num_entries,
                                offset=off)
        _check_entries(entries, theta)
        empty = pre_longs == _V2_PRE_PRECISE and num_entries == 0
        if pre_longs == _V2_PRE_ESTIMATE:
            empty = num_entries == 0 and theta == _MAX_THETA
        return CompactTheta(entries, theta, seed_hash, True, empty)

    if ser_ver == 3:
        flags = buf[5]
        (seed_hash,) = struct.unpack_from("<H", buf, 6)
        empty = bool(flags & _TH_FLAG_EMPTY)
        ordered = bool(flags & _TH_FLAG_ORDERED)
        if empty:
            return CompactTheta([], _MAX_THETA, seed_hash, ordered, True)
        if seed_hash != want_hash:
            raise SketchDecodeError(
                f"incompatible seed hash: expected {want_hash}, "
                f"got {seed_hash}")
        theta, off = _MAX_THETA, 8
        if pre_longs == 1:
            num_entries = 1
        else:
            _need(buf, 8, 8, "v3 num_entries")
            (num_entries,) = struct.unpack_from("<I", buf, 8)
            off = 16
            if pre_longs > 2:
                _need(buf, 16, 8, "v3 theta")
                (theta,) = struct.unpack_from("<Q", buf, 16)
                off = 24
        _need(buf, off, 8 * num_entries, "entries")
        entries = np.frombuffer(buf, dtype="<u8", count=num_entries,
                                offset=off)
        _check_entries(entries, theta)
        return CompactTheta(entries, theta, seed_hash, ordered, False)

    if ser_ver == 4:
        entry_bits, num_entries_bytes, flags = buf[3], buf[4], buf[5]
        (seed_hash,) = struct.unpack_from("<H", buf, 6)
        empty = bool(flags & _TH_FLAG_EMPTY)
        if not empty and seed_hash != want_hash:
            raise SketchDecodeError(
                f"incompatible seed hash: expected {want_hash}, "
                f"got {seed_hash}")
        off = 8
        theta = _MAX_THETA
        if pre_longs > 1:
            _need(buf, off, 8, "v4 theta")
            (theta,) = struct.unpack_from("<Q", buf, off)
            off += 8
        num_entries = 0
        _need(buf, off, num_entries_bytes, "v4 num_entries")
        for i in range(num_entries_bytes):
            num_entries |= buf[off + i] << (i << 3)
        off += num_entries_bytes
        nbits = entry_bits * num_entries
        _need(buf, off, (nbits + 7) // 8, "v4 delta stream")
        deltas = _unpack_bits(buf[off:], num_entries, entry_bits)
        entries = np.cumsum(deltas, dtype=np.uint64)
        _check_entries(entries, theta)
        ordered = bool(flags & _TH_FLAG_ORDERED)
        return CompactTheta(entries, theta, seed_hash, ordered, empty)

    raise SketchDecodeError(
        f"unsupported serial version: expected 1, 2, 3, or 4, got {ser_ver}")


def _unpack_bits(buf: bytes, count: int, bits: int) -> np.ndarray:
    """MSB-first bit stream -> count values of `bits` width
    (theta/bit_pack.rs BitUnpacker, vectorized via np.unpackbits)."""
    if count == 0 or bits == 0:
        return np.zeros(count, dtype=np.uint64)
    need = (count * bits + 7) // 8
    stream = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8, count=need))[: count * bits]
    weights = (np.uint64(1) << np.arange(bits - 1, -1, -1, dtype=np.uint64))
    return stream.reshape(count, bits).astype(np.uint64) @ weights


def _pack_bits(values: np.ndarray, bits: int) -> bytes:
    """count values -> MSB-first bit stream (BitPacker semantics)."""
    count = len(values)
    if count == 0 or bits == 0:
        return b""
    v = np.asarray(values, dtype=np.uint64)
    shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
    bitmat = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bitmat.ravel()).tobytes()


def encode_theta_v3(sk) -> bytes:
    """Serialize a repo-native ThetaSketch (or CompactTheta) to the
    reference's uncompressed compact v3 format (theta/sketch.rs:477-511) —
    readable by the Rust/Java/C++ implementations."""
    entries = np.sort(np.asarray(sk.entries, dtype=np.uint64))
    theta = int(sk.theta)
    if hasattr(sk, "seed"):
        from datasketches_rust_spark.hashing import compute_seed_hash
        seed_hash = compute_seed_hash(sk.seed)
    else:
        seed_hash = sk.seed_hash
    est_mode = theta < _MAX_THETA
    is_empty = entries.size == 0 and not est_mode
    if est_mode:
        pre_longs = 3
    elif is_empty or entries.size == 1:
        pre_longs = 1
    else:
        pre_longs = 2
    flags = _TH_FLAG_READONLY | _TH_FLAG_COMPACT | _TH_FLAG_ORDERED
    if is_empty:
        flags |= _TH_FLAG_EMPTY
    out = bytearray()
    out += struct.pack("<BBB", pre_longs, _THETA_SERIAL_V3, _FAMILY_THETA)
    out += b"\x00\x00"                       # unused u16 (big-endian zero)
    out += struct.pack("<BH", flags, seed_hash)
    if pre_longs > 1:
        out += struct.pack("<I", len(entries)) + b"\x00" * 4
    if est_mode:
        out += struct.pack("<Q", theta)
    out += entries.astype("<u8").tobytes()
    return bytes(out)


def encode_theta_v4(sk) -> bytes:
    """Serialize to the delta-compressed v4 format
    (theta/sketch.rs:516-576). Requires a non-empty ordered sketch
    (is_suitable_for_compression); falls back to v3 otherwise."""
    entries = np.sort(np.asarray(sk.entries, dtype=np.uint64))
    theta = int(sk.theta)
    est_mode = theta < _MAX_THETA
    if entries.size == 0 or (entries.size == 1 and not est_mode):
        return encode_theta_v3(sk)
    if hasattr(sk, "seed"):
        from datasketches_rust_spark.hashing import compute_seed_hash
        seed_hash = compute_seed_hash(sk.seed)
    else:
        seed_hash = sk.seed_hash
    deltas = np.diff(entries, prepend=np.uint64(0))
    ored = int(np.bitwise_or.reduce(deltas))
    entry_bits = max(ored.bit_length(), 1)
    n = int(entries.size)
    num_entries_bytes = max((n.bit_length() + 7) // 8, 1)
    pre_longs = 2 if est_mode else 1
    flags = (_TH_FLAG_READONLY | _TH_FLAG_COMPACT | _TH_FLAG_ORDERED)
    out = bytearray()
    out += struct.pack("<BBBBBBH", pre_longs, _THETA_SERIAL_V4,
                       _FAMILY_THETA, entry_bits, num_entries_bytes,
                       flags, seed_hash)
    if est_mode:
        out += struct.pack("<Q", theta)
    for i in range(num_entries_bytes):
        out += bytes([(n >> (i << 3)) & 0xFF])
    # the reference packs full blocks of 8 then a tail — the resulting bit
    # stream is identical to packing all deltas sequentially
    out += _pack_bits(deltas, entry_bits)
    return bytes(out)


# ---------------------------------------------------------------------------
# HLL — reference wire format (hll/serialization.rs, hll/sketch.rs:302-401,
# hll/{list,hash_set,array4,array6,array8}.rs). One serial version (1),
# three modes (LIST/SET coupon stages, HLL register stage) and three
# register packings (4/6/8-bit). Decoded into the repo-native dense-8-bit
# HllSketch: coupon modes replay through update_coupons (rebuilding exact
# HIP state), register modes restore the serialized HIP accumulators.

_FAMILY_HLL = 7               # codec/family.rs:49-55
_HLL_SER_VER = 1
_HLL_F_EMPTY, _HLL_F_COMPACT, _HLL_F_OOO = 4, 8, 16
_LIST_PREINTS, _SET_PREINTS, _HLL_PREINTS = 2, 3, 10
_MODE_LIST, _MODE_SET, _MODE_HLL = 0, 1, 2
_TGT_HLL4, _TGT_HLL6, _TGT_HLL8 = 0, 1, 2
_KEY_MASK_26 = (1 << 26) - 1
_AUX_TOKEN = 15


def _hll_from_coupons(lg_k: int, coupons: np.ndarray, seed: int):
    from datasketches_rust_spark.sketches.hll import HllSketch
    sk = HllSketch(lg_k=lg_k, seed=seed)
    coupons = coupons[coupons != 0]          # Coupon::EMPTY sentinels
    if coupons.size:
        slots = (coupons & np.uint32(_KEY_MASK_26)) \
            & np.uint32((1 << lg_k) - 1)
        values = (coupons >> np.uint32(26)).astype(np.uint8)
        sk.update_coupons(slots.astype(np.int64), values)
    return sk


def _unpack6(data: bytes, k: int) -> np.ndarray:
    """k 6-bit registers, value i at bits [6i, 6i+6) little-endian
    (array6.rs:71-81)."""
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8),
                         bitorder="little")[: 6 * k]
    weights = (np.uint8(1) << np.arange(6, dtype=np.uint8))
    return (bits.reshape(k, 6) * weights).sum(axis=1).astype(np.uint8)


def decode_hll(buf: bytes, seed: int = 9001):
    """Decode reference HLL bytes (any mode, any register packing) into a
    repo-native HllSketch."""
    _need(buf, 0, 8, "hll preamble")
    preints, ser, family, lg_k, lg_arr, flags, state, mode_byte = buf[:8]
    if family != _FAMILY_HLL:
        raise SketchDecodeError(f"family {family} is not HLL")
    if ser != _HLL_SER_VER:
        raise SketchDecodeError(f"unsupported HLL serial version {ser}")
    if not 4 <= lg_k <= 21:
        raise SketchDecodeError(f"lg_k must be in [4, 21], got {lg_k}")
    cur_mode = mode_byte & 0x3
    tgt = (mode_byte >> 2) & 0x3
    if tgt > _TGT_HLL8:
        raise SketchDecodeError(f"invalid HLL type {tgt}")
    empty = bool(flags & _HLL_F_EMPTY)
    compact = bool(flags & _HLL_F_COMPACT)
    ooo = bool(flags & _HLL_F_OOO)
    k = 1 << lg_k

    if cur_mode == _MODE_LIST:
        if preints != _LIST_PREINTS:
            raise SketchDecodeError(f"LIST preamble {preints} != 2")
        count = 0 if empty else state
        n = count if compact else (1 << lg_arr)
        _need(buf, 8, 4 * n, "list coupons")
        coupons = np.frombuffer(buf, dtype="<u4", count=n, offset=8)
        return _hll_from_coupons(lg_k, coupons[:], seed)

    if cur_mode == _MODE_SET:
        if preints != _SET_PREINTS:
            raise SketchDecodeError(f"SET preamble {preints} != 3")
        _need(buf, 8, 4, "set coupon count")
        (count,) = struct.unpack_from("<I", buf, 8)
        n = count if compact else (1 << lg_arr)
        _need(buf, 12, 4 * n, "set coupons")
        coupons = np.frombuffer(buf, dtype="<u4", count=n, offset=12)
        return _hll_from_coupons(lg_k, coupons[:], seed)

    if cur_mode != _MODE_HLL or preints != _HLL_PREINTS:
        raise SketchDecodeError(
            f"invalid mode/preamble: mode {cur_mode}, preints {preints}")
    if compact:
        raise SketchDecodeError(
            "compact HLL-mode payload carries no register data")
    _need(buf, 8, 32, "hll estimator preamble")
    hip_accum, kxq0, kxq1 = struct.unpack_from("<ddd", buf, 8)
    num_at_cur_min, aux_count = struct.unpack_from("<II", buf, 32)
    off = 40
    if tgt == _TGT_HLL8:
        _need(buf, off, k, "hll8 registers")
        regs = np.frombuffer(buf, dtype=np.uint8, count=k, offset=off).copy()
    elif tgt == _TGT_HLL6:
        nbytes = ((k * 3) >> 2) + 1          # array6.rs:278-282
        _need(buf, off, nbytes, "hll6 registers")
        regs = _unpack6(buf[off:off + nbytes], k)
    else:                                    # HLL4: nibbles + cur_min + aux
        nbytes = k >> 1
        _need(buf, off, nbytes, "hll4 registers")
        nib = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=off)
        raw = np.empty(k, dtype=np.uint8)
        raw[0::2] = nib & 15                 # even slots: low nibble
        raw[1::2] = nib >> 4
        cur_min = state
        regs = (cur_min + raw).astype(np.uint8)
        off += nbytes
        if aux_count:
            _need(buf, off, 4 * aux_count, "hll4 aux map")
            aux = np.frombuffer(buf, dtype="<u4", count=aux_count,
                                offset=off)
            slots = (aux & np.uint32(_KEY_MASK_26)) & np.uint32(k - 1)
            regs[slots] = (aux >> np.uint32(26)).astype(np.uint8)
        elif np.any(raw == _AUX_TOKEN):
            raise SketchDecodeError("hll4 AUX_TOKEN with no aux map")

    from datasketches_rust_spark.sketches.hll import HllSketch
    return HllSketch(lg_k=lg_k, seed=seed, regs=regs, hip_accum=hip_accum,
                     kxq0=kxq0, kxq1=kxq1, out_of_order=ooo)


def encode_hll8(sk) -> bytes:
    """Serialize a repo-native HllSketch to the reference's HLL8 updatable
    format (array8.rs:306-356) — readable by the Rust implementation."""
    k = 1 << sk.lg_k
    flags = _HLL_F_OOO if sk.out_of_order else 0
    num_zeros = int(np.count_nonzero(sk.regs == 0))
    if num_zeros == k:
        flags |= _HLL_F_EMPTY
    mode_byte = _MODE_HLL | (_TGT_HLL8 << 2)
    out = bytearray()
    out += struct.pack("<BBBBBBBB", _HLL_PREINTS, _HLL_SER_VER,
                       _FAMILY_HLL, sk.lg_k, 0, flags, 0, mode_byte)
    out += struct.pack("<ddd", sk.hip_accum, sk.kxq0, sk.kxq1)
    out += struct.pack("<II", num_zeros, 0)
    out += np.asarray(sk.regs, dtype=np.uint8).tobytes()
    return bytes(out)
