"""t-digest (Dunning/Ertl MergingDigest) — buffered merge, scale function k1.

Mirrors tdigest/sketch.rs semantics: f64-only updates, NaN/inf ignored
(tdigest/sketch.rs:171-174), buffer-then-compress (buffer = 4x centroid
capacity, :39-43), merge = concat buffers + centroids then re-merge
(:231-255), freeze() -> immutable digest (:268-278), quantile/rank/cdf/pmf
queries (:303-390). Default k=200.

Spark role: ``percentile_approx`` is the built-in covering most uses
(SURVEY.md §2.7); this kernel exists for (a) mergeable per-group digests as
BinaryType state in the UDAF layer, (b) parity of the operator inventory.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from datasketches_rust_spark.sketches import serde


@dataclass
class TDigest:
    k: int = 200  # compression (tdigest/sketch.rs:39)
    means: np.ndarray = None    # sorted centroid means
    weights: np.ndarray = None  # centroid weights
    min_val: float = np.inf
    max_val: float = -np.inf
    _buffer: list = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.k < 10:
            raise ValueError("k must be >= 10")  # tdigest/sketch.rs:84-157
        if self.means is None:
            self.means = np.empty(0, dtype=np.float64)
            self.weights = np.empty(0, dtype=np.float64)
        elif self.means.size:
            # direct construction from centroid arrays: recover min/max
            # bounds from the extreme centroid means so quantile(0/1)
            # never returns ±inf
            self.min_val = min(self.min_val, float(self.means[0]))
            self.max_val = max(self.max_val, float(self.means[-1]))

    # -- update ----------------------------------------------------------------
    def update_values(self, values: np.ndarray) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[np.isfinite(v)]  # NaN/±inf ignored (tdigest/sketch.rs:171-174)
        if v.size:
            self._buffer.append(v)
            if sum(a.size for a in self._buffer) >= 4 * self.k:
                self._compress()
        return self

    def _compress(self) -> None:
        if not self._buffer and self.means.size <= 2 * self.k:
            return
        new = (np.concatenate(self._buffer) if self._buffer
               else np.empty(0, dtype=np.float64))
        self._buffer = []
        if new.size:
            new.sort(kind="stable")
            self.min_val = min(self.min_val, float(new[0]))
            self.max_val = max(self.max_val, float(new[-1]))
            pm, pw = self._bucket_points(new)
        else:
            pm = pw = np.empty(0, dtype=np.float64)
        means = np.concatenate([self.means, pm])
        weights = np.concatenate([self.weights, pw])
        if means.size == 0:
            return
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]

        # Dunning merge pass over the (small) centroid list: a cluster may
        # absorb the next centroid only while its cumulative quantile stays
        # below q_of_k(k_of_q(q0) + 1) — the k1 size invariant that keeps
        # tail clusters tiny. The list is bounded (~k existing + ~k/2 new
        # pre-clusters), so the sequential loop is a few hundred steps.
        total = float(weights.sum())
        m_list = means.tolist()
        w_list = weights.tolist()
        out_m, out_w = [], []
        cur_m, cur_w = m_list[0], w_list[0]
        closed = 0.0
        q_limit = self._q_of_k(self._k_of_q(0.0) + 1.0)
        for m, w in zip(m_list[1:], w_list[1:]):
            if closed + cur_w + w <= total * q_limit:
                cur_m += (m - cur_m) * w / (cur_w + w)
                cur_w += w
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                closed += cur_w
                q_limit = self._q_of_k(self._k_of_q(closed / total) + 1.0)
                cur_m, cur_w = m, w
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.array(out_m, dtype=np.float64)
        self.weights = np.array(out_w, dtype=np.float64)

    def _bucket_points(self, sorted_vals: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized pre-clustering of a sorted batch of weight-1 points:
        bucket by floor(k1(q_mid)) so each bucket spans <= 1 k-unit. This is
        the batch-build fast path; the exact merge invariant is enforced by
        the sequential pass in _compress."""
        n = sorted_vals.size
        q_mid = (np.arange(n, dtype=np.float64) + 0.5) / n
        kk = np.floor(self._k_of_q(q_mid))
        starts = np.flatnonzero(np.diff(kk, prepend=np.nan) != 0)
        w = np.add.reduceat(np.ones(n, dtype=np.float64), starts)
        m = np.add.reduceat(sorted_vals, starts) / w
        return m, w

    def _k_of_q(self, q):
        """k1 scale function (tdigest/mod.rs:20-21 paper semantics),
        vectorized over numpy arrays."""
        return self.k / (2 * np.pi) * np.arcsin(2 * np.clip(q, 0.0, 1.0) - 1)

    def _q_of_k(self, k_: float) -> float:
        x = np.sin(k_ * 2 * np.pi / self.k)
        return float(min(max((x + 1.0) / 2.0, 0.0), 1.0))

    # -- merge / freeze ----------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        if self.k != other.k:
            raise serde.SketchDecodeError("incompatible t-digest k")
        out = TDigest(self.k)
        # _compress skips a small, buffer-free centroid list, so the
        # concatenation must be put in mean order here
        means = np.concatenate([self.means, other.means])
        order = np.argsort(means, kind="stable")
        out.means = means[order]
        out.weights = np.concatenate([self.weights, other.weights])[order]
        out.min_val = min(self.min_val, other.min_val)
        out.max_val = max(self.max_val, other.max_val)
        out._buffer = [*self._buffer, *other._buffer]
        out._compress()
        return out

    def freeze(self) -> "TDigest":
        self._compress()
        return self

    # -- queries (tdigest/sketch.rs:303-390) --------------------------------------
    def total_weight(self) -> float:
        self._compress()
        return float(self.weights.sum())

    def quantile(self, rank: float) -> float:
        self._compress()
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        rank = min(max(rank, 0.0), 1.0)
        if rank == 0.0:
            return self.min_val
        if rank == 1.0:
            return self.max_val
        cum = np.cumsum(self.weights) - self.weights / 2.0
        target = rank * self.weights.sum()
        x = np.interp(target, cum, self.means)
        return float(min(max(x, self.min_val), self.max_val))

    def rank(self, value: float) -> float:
        self._compress()
        if self.means.size == 0:
            return float("nan")
        if value <= self.min_val:
            return 0.0
        if value >= self.max_val:
            return 1.0
        cum = np.cumsum(self.weights) - self.weights / 2.0
        return float(np.interp(value, self.means, cum) / self.weights.sum())

    def cdf(self, split_points) -> list[float]:
        return [self.rank(x) for x in split_points]

    def pmf(self, split_points) -> list[float]:
        c = [0.0, *self.cdf(split_points), 1.0]
        return [c[i + 1] - c[i] for i in range(len(c) - 1)]

    VERSION = 1

    def serialize(self) -> bytes:
        self._compress()
        hdr = serde.pack_header(serde.FAMILY_TDIGEST, self.VERSION, 1)
        meta = np.array([self.k, self.means.size], dtype="<u4").tobytes()
        mm = np.array([self.min_val, self.max_val], dtype="<f8").tobytes()
        return (hdr + meta + mm + self.means.astype("<f8").tobytes()
                + self.weights.astype("<f8").tobytes())

    @classmethod
    def deserialize(cls, buf: bytes) -> "TDigest":
        off = serde.unpack_header(buf, serde.FAMILY_TDIGEST, cls.VERSION, 1)
        serde.need(buf, off, 24)
        k, n = np.frombuffer(buf, "<u4", 2, off)
        mn, mx = np.frombuffer(buf, "<f8", 2, off + 8)
        serde.need(buf, off + 24, 16 * int(n))
        means = np.frombuffer(buf, "<f8", int(n), off + 24).copy()
        weights = np.frombuffer(buf, "<f8", int(n), off + 24 + 8 * int(n)).copy()
        out = cls(int(k))
        out.means, out.weights = means, weights
        out.min_val, out.max_val = float(mn), float(mx)
        return out
