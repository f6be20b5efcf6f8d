"""HLL sketch — dense 8-bit register re-expression of the reference HLL,
with the reference's full estimator stack (r2: HIP + composite, replacing
the r1 harmonic-mean + linear-counting approximation).

The reference carries a List->Set->Array representation ladder
(hll/sketch.rs:209-238) and 4/6/8-bit register packings (hll/mod.rs:134-149)
because it optimizes per-sketch heap bytes. At Arrow-batch granularity dense
uint8 registers are both simpler and faster (SURVEY.md §2.2 rationale), so:

- coupon math follows hll/mod.rs:160-247: murmur128 -> slot from h1's low
  lg_k bits, value = leading-zero-count(h2) capped + 1,
- update = vectorized candidate screen + exact in-order HIP over
  register-raising events (hll/estimator.rs:25-47: accum += k/(kxq0+kxq1),
  then move the old register's 2^-v mass to the new one), as sequential
  numpy folds that add in the per-item loop's order,
- union = register-wise max for equal lg_k (hll/union.rs:449-464), fold-max
  downsample when lg_k differs (hll/union.rs:491-513); the result is
  out-of-order, which switches estimate() to the composite estimator
  (hll/estimator.rs:106-152: cubic interpolation over the published
  257-point grids in hll_tables.py, bitmap/linear estimate below the
  crossover), exactly the reference's HIP-does-not-survive-merge rule,
- bounds from the published relative-error quantiles for lg_k <= 12 and
  the asymptotic 0.8325546 (HIP) / 1.03896 (non-HIP) RSE constants above
  (hll/estimator.rs:201-224).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from datasketches_rust_spark.hashing import (DEFAULT_SEED, compute_seed_hash,
                                             murmur3_x64_128_matrix)
from datasketches_rust_spark.sketches import hll_tables as T
from datasketches_rust_spark.sketches import serde
from datasketches_rust_spark.sketches.util import clz64

DEFAULT_LG_K = 12
_VALUE_CAP = 62  # hll/mod.rs:160-247 caps lz at 62, +1 => max 63

# exact harmonic numbers H(0)..H(24) + Euler-Maclaurin beyond
# (hll/harmonic_numbers.rs:20-75) — used by the bitmap (linear) estimate
_EULER_MASCHERONI = 0.5772156649015329
_EXACT_HARMONIC = [
    0.0, 1.0, 1.5, 11.0 / 6.0, 25.0 / 12.0, 137.0 / 60.0, 49.0 / 20.0,
    363.0 / 140.0, 761.0 / 280.0, 7129.0 / 2520.0, 7381.0 / 2520.0,
    83711.0 / 27720.0, 86021.0 / 27720.0, 1145993.0 / 360360.0,
    1171733.0 / 360360.0, 1195757.0 / 360360.0, 2436559.0 / 720720.0,
    42142223.0 / 12252240.0, 14274301.0 / 4084080.0,
    275295799.0 / 77597520.0, 55835135.0 / 15519504.0,
    18858053.0 / 5173168.0, 19093197.0 / 5173168.0,
    444316699.0 / 118982864.0, 1347822955.0 / 356948592.0,
]


def _harmonic(n: int) -> float:
    if n < len(_EXACT_HARMONIC):
        return _EXACT_HARMONIC[n]
    x = float(n)
    inv_sq = 1.0 / (x * x)
    s = np.log(x) + _EULER_MASCHERONI + 1.0 / (2.0 * x)
    p = inv_sq
    s -= p / 12.0
    p *= inv_sq
    s += p / 120.0
    p *= inv_sq
    s -= p / 252.0
    p *= inv_sq
    s += p / 240.0
    return float(s)


def _bitmap_estimate(k: int, num_set: int) -> float:
    return k * (_harmonic(k) - _harmonic(k - num_set))


def _cubic_interpolate(xs, ys, x: float) -> float:
    """4-point Lagrange cubic (hll/cubic_interpolation.rs:84-112)."""
    (x0, x1, x2, x3), (y0, y1, y2, y3) = xs, ys
    t0 = y0 * (x - x1) * (x - x2) * (x - x3) / ((x0 - x1) * (x0 - x2) * (x0 - x3))
    t1 = y1 * (x - x0) * (x - x2) * (x - x3) / ((x1 - x0) * (x1 - x2) * (x1 - x3))
    t2 = y2 * (x - x0) * (x - x1) * (x - x3) / ((x2 - x0) * (x2 - x1) * (x2 - x3))
    t3 = y3 * (x - x0) * (x - x1) * (x - x2) / ((x3 - x0) * (x3 - x1) * (x3 - x2))
    return t0 + t1 + t2 + t3


def _interp_x_arr_y_stride(x_arr: np.ndarray, y_stride: float,
                           x: float) -> float:
    """hll/cubic_interpolation.rs:using_x_arr_and_y_stride."""
    last = len(x_arr) - 1
    if x == x_arr[last]:
        return y_stride * last
    straddle = int(np.searchsorted(x_arr, x, side="right")) - 1
    offset = straddle
    if offset > 0:
        offset = offset - 2 if offset == last - 1 else offset - 1
    xs = x_arr[offset:offset + 4]
    ys = [y_stride * (offset + j) for j in range(4)]
    return _cubic_interpolate(xs, ys, x)


def _rel_err(lg_k: int, upper: bool, ooo: bool, num_std_dev: int) -> float:
    """hll/estimator.rs:201-224."""
    if not (1 <= num_std_dev <= 3):
        raise ValueError("num_std_dev must be 1, 2 or 3")
    if lg_k > 12:
        rse = 1.03896 if ooo else 0.8325546
        sign = -1.0 if upper else 1.0
        return sign * num_std_dev * rse / np.sqrt(float(1 << lg_k))
    idx = (lg_k - 4) * 3 + (num_std_dev - 1)
    if not ooo:
        return float((T.HIP_UB if upper else T.HIP_LB)[idx])
    return float((T.NON_HIP_UB if upper else T.NON_HIP_LB)[idx])


def coupons_from_keys(data: np.ndarray, lg_k: int,
                      seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """(N, L) uint8 keys -> (slots, values). Vectorized coupon computation
    (hll/mod.rs:160-247): slot = h1 & (2^lg_k - 1), value = min(lz(h2),62)+1."""
    h1, h2 = murmur3_x64_128_matrix(data, seed)
    slots = (h1 & np.uint64((1 << lg_k) - 1)).astype(np.int64)
    values = np.minimum(clz64(h2), _VALUE_CAP).astype(np.uint8) + np.uint8(1)
    return slots, values


@dataclass
class HllSketch:
    lg_k: int = DEFAULT_LG_K
    seed: int = DEFAULT_SEED
    regs: np.ndarray = None  # (2^lg_k,) uint8
    # HIP estimator state (hll/estimator.rs:7-23); out_of_order set by
    # unions, switching estimate() to the composite estimator
    hip_accum: float = 0.0
    kxq0: float = None
    kxq1: float = 0.0
    out_of_order: bool = False

    def __post_init__(self) -> None:
        if not (4 <= self.lg_k <= 21):  # hll/sketch.rs:90-103 bounds
            raise ValueError(f"lg_k {self.lg_k} out of [4, 21]")
        if self.regs is None:
            self.regs = np.zeros(1 << self.lg_k, dtype=np.uint8)
        if self.kxq0 is None:
            self.kxq0 = float(self.k)

    @property
    def k(self) -> int:
        return 1 << self.lg_k

    def update_coupons(self, slots: np.ndarray, values: np.ndarray) -> "HllSketch":
        """Register max-update with exact in-order HIP accounting, bit
        for bit the reference's per-item loop. A vectorized screen keeps
        the rows that would raise a register against the batch-start
        state; a running max per slot (in input order) keeps the ones
        that raise it against the running state. Each raise moves its
        slot's 2^-v mass from the old value to the new one, and the HIP
        and kxq sums are sequential folds (``np.add.accumulate``) over
        those moves in input order, as the loop adds them."""
        cand = np.nonzero(values > self.regs[slots])[0]
        if cand.size == 0:
            return self
        c_slots = slots[cand].astype(np.int64)
        c_values = values[cand].astype(np.int64)
        # stable sort by slot; slot * 64 + value orders a slot's values
        # above every lower slot's (values <= 63), so one running max
        # over the sorted keys is each slot's running max
        order = np.argsort(c_slots, kind="stable")
        s_slots = c_slots[order]
        key = s_slots * 64 + c_values[order]
        run = np.maximum.accumulate(key)
        first = np.ones(len(key), dtype=bool)
        first[1:] = s_slots[1:] != s_slots[:-1]
        raise_s = first.copy()
        raise_s[1:] |= key[1:] > run[:-1]
        # old value of each raise: the slot's previous raise, or the
        # batch-start register for its first
        old_s = np.where(first, self.regs[s_slots],
                         np.roll(run, 1) - s_slots * 64)
        r_pos = np.sort(order[raise_s])  # raises, in input order
        new = c_values[r_pos]
        old = np.empty(len(c_values), dtype=np.int64)
        old[order] = old_s
        old = old[r_pos]
        # each raise is two moves per sum: - 2^-old, then + 2^-new, on
        # kxq0 for values < 32 and kxq1 otherwise (a 0.0 move elsewhere
        # leaves a sum's bits alone)
        moves = np.empty((2, 2 * len(new)))
        for j, (v, sign) in enumerate(((old, -1.0), (new, 1.0))):
            w = sign * np.ldexp(1.0, -v)
            lo = v < 32
            moves[0, j::2] = np.where(lo, w, 0.0)
            moves[1, j::2] = np.where(lo, 0.0, w)
        kxq0 = np.add.accumulate(np.concatenate(([self.kxq0], moves[0])))
        kxq1 = np.add.accumulate(np.concatenate(([self.kxq1], moves[1])))
        if not self.out_of_order:
            gain = float(self.k) / (kxq0[:-1:2] + kxq1[:-1:2])
            self.hip_accum = float(np.add.accumulate(
                np.concatenate(([self.hip_accum], gain)))[-1])
        self.kxq0, self.kxq1 = float(kxq0[-1]), float(kxq1[-1])
        last = np.ones(len(key), dtype=bool)
        last[:-1] = first[1:]
        self.regs[s_slots[last]] = (run[last] - s_slots[last] * 64) \
            .astype(self.regs.dtype)
        return self

    def update_keys(self, data: np.ndarray) -> "HllSketch":
        slots, values = coupons_from_keys(data, self.lg_k, self.seed)
        return self.update_coupons(slots, values)

    # -- estimate --------------------------------------------------------------

    def _raw_estimate(self) -> float:
        k = float(self.k)
        if self.lg_k == 4:
            cf = 0.673
        elif self.lg_k == 5:
            cf = 0.697
        elif self.lg_k == 6:
            cf = 0.709
        else:
            cf = 0.7213 / (1.0 + 1.079 / k)
        return cf * k * k / (self.kxq0 + self.kxq1)

    def _composite_estimate(self) -> float:
        """hll/estimator.rs:106-152: cubic-interpolated correction of the
        raw estimate, blended with the bitmap (linear) estimate below the
        crossover."""
        raw = self._raw_estimate()
        x_arr = T.COMPOSITE_X[self.lg_k - T.MIN_LG_K]
        y_stride = float(T.Y_STRIDES[self.lg_k - T.MIN_LG_K])
        if raw < x_arr[0]:
            return 0.0
        last = len(x_arr) - 1
        if raw > x_arr[last]:
            return raw * (y_stride * last / x_arr[last])
        adj = _interp_x_arr_y_stride(x_arr, y_stride, raw)
        k = self.k
        if adj > 3.0 * k:
            return adj
        num_zero = int(np.count_nonzero(self.regs == 0))
        if num_zero == 0:
            lin = k * np.log(k / 0.5)
        else:
            lin = _bitmap_estimate(k, k - num_zero)
        crossover = {4: 0.718, 5: 0.672}.get(self.lg_k, 0.64)
        if (adj + lin) / 2.0 > crossover * k:
            return adj
        return lin

    def estimate(self) -> float:
        """HIP for single-stream sketches, composite after any union
        (hll/estimator.rs:49-55)."""
        if not self.out_of_order:
            return self.hip_accum
        return float(self._composite_estimate())

    def bounds(self, num_std_dev: int = 2) -> tuple[float, float]:
        """(lb, ub) via the published relative-error quantiles
        (hll/estimator.rs:57-79: bound = est / (1 + rel_err))."""
        est = self.estimate()
        lb = est / (1.0 + _rel_err(self.lg_k, False, self.out_of_order,
                                   num_std_dev))
        ub = est / (1.0 + _rel_err(self.lg_k, True, self.out_of_order,
                                   num_std_dev))
        return lb, ub

    # -- union -----------------------------------------------------------------

    def _kxq_from_regs(self) -> tuple[float, float]:
        w = np.exp2(-self.regs.astype(np.float64))
        lo = self.regs < 32
        return float(w[lo].sum()), float(w[~lo].sum())

    def union(self, other: "HllSketch") -> "HllSketch":
        if self.seed != other.seed:
            raise serde.SketchDecodeError("seed mismatch in HLL union")
        if self.lg_k == other.lg_k:
            regs = np.maximum(self.regs, other.regs)
            out = HllSketch(self.lg_k, self.seed, regs, out_of_order=True)
        else:
            # downsample the finer sketch to the coarser lg_k
            # (hll/union.rs:491-513): fold slots mod k' — exact because
            # the register value depends only on h2
            small, large = ((self, other) if self.lg_k < other.lg_k
                            else (other, self))
            folded = large.regs.reshape(-1, small.k).max(axis=0)
            out = HllSketch(small.lg_k, self.seed,
                            np.maximum(small.regs, folded),
                            out_of_order=True)
        # HIP does not survive merging (estimator.rs:170-176): accum
        # zeroed; kxq recomputed from the merged registers so the raw /
        # composite estimate is consistent
        out.hip_accum = 0.0
        out.kxq0, out.kxq1 = out._kxq_from_regs()
        return out

    # -- serde -------------------------------------------------------------------

    VERSION = 2  # v2: + HIP state (hip_accum, kxq0, kxq1, ooo flag)

    def serialize(self) -> bytes:
        import struct
        hdr = serde.pack_header(serde.FAMILY_HLL, self.VERSION,
                                compute_seed_hash(self.seed))
        meta = struct.pack("<BBddd", self.lg_k, 1 if self.out_of_order else 0,
                           self.hip_accum, self.kxq0, self.kxq1)
        return hdr + meta + self.regs.tobytes()

    @classmethod
    def deserialize(cls, buf: bytes, seed: int = DEFAULT_SEED) -> "HllSketch":
        import struct
        off = serde.unpack_header(buf, serde.FAMILY_HLL, cls.VERSION,
                                  compute_seed_hash(seed))
        serde.need(buf, off, 26)
        lg_k, ooo, hip, kxq0, kxq1 = struct.unpack_from("<BBddd", buf, off)
        off += 26
        k = 1 << lg_k
        serde.need(buf, off, k)
        regs = np.frombuffer(buf, np.uint8, k, off).copy()
        return cls(lg_k=lg_k, seed=seed, regs=regs, hip_accum=hip,
                   kxq0=kxq0, kxq1=kxq1, out_of_order=bool(ooo))
