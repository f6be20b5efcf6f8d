"""Frequent-items sketch (Misra-Gries variant), dict-backed.

Mirrors frequencies/sketch.rs semantics: bounded map of item->count with a
global undercount ``offset``; purge subtracts the median of retained counts
and drops <=0 entries (frequencies/sketch.rs:256-264, maybe_resize_or_purge
:372, reverse_purge_item_hash_map.rs:130-146). Exact while distinct items
< 0.75 * max_map_size (frequencies/mod.rs:43-44); error (UB-LB) <= W * eps,
eps = 3.5/M (frequencies/mod.rs:54).

Batch-vectorized: updates arrive as (items, counts) arrays (the Spark
partial pass pre-reduces each Arrow batch with pandas value_counts before
touching the dict).

Query semantics follow frequencies/sketch.rs:317-356:
NO_FALSE_POSITIVES -> lower_bound > threshold;
NO_FALSE_NEGATIVES -> upper_bound > threshold.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from datasketches_rust_spark.sketches import serde

NO_FALSE_POSITIVES = "no_false_positives"
NO_FALSE_NEGATIVES = "no_false_negatives"
_LOAD = 0.75  # purge threshold fraction (frequencies/mod.rs:43-44)


@dataclass
class FrequentItemsSketch:
    max_map_size: int
    counts: dict = field(default_factory=dict)
    offset: int = 0
    total_weight: int = 0
    # monotone map-size high-water mark (frequencies/sketch.rs
    # maybe_resize_or_purge: the internal map DOUBLES while below
    # lg_max and never shrinks on purge — so a purged sketch still
    # serializes the GROWN lg_cur, r5 golden finding). 0 = "derive
    # from the current active count" for states built directly from a
    # counts dict; update paths and deserialize maintain it.
    lg_cur: int = 0

    def __post_init__(self) -> None:
        if self.max_map_size & (self.max_map_size - 1):
            raise ValueError("max_map_size must be a power of two")

    def epsilon(self) -> float:
        return 3.5 / self.max_map_size

    def update_counts(self, items, weights) -> "FrequentItemsSketch":
        c = self.counts
        for item, w in zip(items, weights):
            c[item] = c.get(item, 0) + int(w)
            self.total_weight += int(w)
        self._maybe_purge()
        return self

    def update(self, item, weight: int = 1) -> "FrequentItemsSketch":
        return self.update_counts([item], [weight])

    def _maybe_purge(self) -> None:
        # grow the high-water mark first (resize precedes purge in the
        # reference; the map only purges once it is at max size)
        while (len(self.counts) > _LOAD * (1 << max(self.lg_cur,
                                                    self._LG_MIN))
               and (1 << max(self.lg_cur, self._LG_MIN))
               < self.max_map_size):
            self.lg_cur = max(self.lg_cur, self._LG_MIN) + 1
        limit = int(_LOAD * self.max_map_size)
        while len(self.counts) > limit:
            med = int(np.median(np.fromiter(self.counts.values(),
                                            dtype=np.int64)))
            med = max(med, 1)
            self.counts = {k: v - med for k, v in self.counts.items()
                           if v - med > 0}
            self.offset += med

    # -- query (frequencies/sketch.rs:161-189, 317-356) -----------------------
    def estimate(self, item) -> int:
        c = self.counts.get(item, 0)
        return c + self.offset if c else 0

    def lower_bound(self, item) -> int:
        return self.counts.get(item, 0)

    def upper_bound(self, item) -> int:
        return self.counts.get(item, 0) + self.offset

    def frequent_items(self, error_type: str = NO_FALSE_POSITIVES,
                       threshold: int | None = None) -> list[tuple]:
        """[(item, estimate, lb, ub)] sorted by estimate desc."""
        thr = self.offset if threshold is None else max(threshold, self.offset)
        out = []
        for item, c in self.counts.items():
            lb, ub = c, c + self.offset
            keep = lb > thr if error_type == NO_FALSE_POSITIVES else ub > thr
            if keep:
                out.append((item, ub, lb, ub))
        out.sort(key=lambda t: (-t[1], str(t[0])))
        return out

    def merge(self, other: "FrequentItemsSketch") -> "FrequentItemsSketch":
        """Replay counts; offsets add (frequencies/sketch.rs:282-295)."""
        if self.max_map_size != other.max_map_size:
            raise serde.SketchDecodeError("incompatible freq-items configs")
        out = FrequentItemsSketch(self.max_map_size, dict(self.counts),
                                  self.offset + other.offset,
                                  self.total_weight + other.total_weight,
                                  lg_cur=self.lg_cur)
        for item, c in other.counts.items():
            out.counts[item] = out.counts.get(item, 0) + c
        out._maybe_purge()
        return out

    # -- serde: the reference family-10 wire layout --------------------------
    # (frequencies/sketch.rs:408-525, frequencies/serialization.rs).
    # Empty = 6 bytes: [pre=1][ver=1][fam=10][lg_max][lg_cur][flags=5].
    # Non-empty, 4 preamble longs:
    #   [pre=4][ver=1][fam=10][lg_max u8][lg_cur u8][flags u8][unused u16]
    #   [active_items u32le][unused u32le]
    #   [stream_weight u64le]
    #   [offset u64le]
    #   [values, active_items x u64le]     -- the retained (lower-bound) counts
    #   [items, via the item serde]
    #
    # The format is generic over the item serde (FrequentItemValue): the
    # reference ships String (u32le len + utf8) and i64/u64 (8B LE); the
    # reader must know T, exactly like FrequentItemsSketch::<T>::
    # deserialize. This impl adds f64 (8B LE, a custom T in reference
    # terms) and raw-bytes (String layout minus the utf8 decode), and —
    # because the repo's shuffle blobs must self-describe — records the
    # serde choice in flags bits 4-5, which the reference reader ignores
    # (it masks only EMPTY_FLAG_MASK). So: str blobs here are
    # byte-IDENTICAL to reference String blobs; int blobs differ from
    # reference i64 blobs only in those ignored bits (the reference reads
    # ours); reference-written i64/u64 blobs (flags=0) are read by
    # passing item_type explicitly.
    SERIAL_VERSION = 1
    _EMPTY_FLAG_MASK = 5
    _PRE_EMPTY, _PRE_NONEMPTY = 1, 4
    _LG_MIN = 3  # frequencies/sketch.rs:40 LG_MIN_MAP_SIZE
    _SERDE_TAGS = {"str": 0, "i64": 1, "f64": 2, "bytes": 3}

    def _lg_sizes(self) -> tuple[int, int]:
        lg_max = max(self.max_map_size.bit_length() - 1, self._LG_MIN)
        lg_cur = self._LG_MIN
        while (len(self.counts) > _LOAD * (1 << lg_cur)
               and lg_cur < lg_max):
            lg_cur += 1
        # the tracked high-water mark floors the derived value: a
        # purged map stays at its grown size (reference parity)
        return lg_max, min(max(lg_cur, self.lg_cur), lg_max)

    def serialize(self) -> bytes:
        import struct
        lg_max, lg_cur = self._lg_sizes()
        if not self.counts and self.total_weight == 0:
            return struct.pack("<BBBBBB", self._PRE_EMPTY,
                               self.SERIAL_VERSION, serde.FAMILY_FREQUENCY,
                               lg_max, lg_cur, self._EMPTY_FLAG_MASK)
        items, values = [], []
        kind = None
        for item, c in self.counts.items():
            if isinstance(item, np.generic):
                item = item.item()  # numpy scalars (value_counts index)
            k = ("str" if isinstance(item, str)
                 else "i64" if isinstance(item, (bool, int))
                 else "f64" if isinstance(item, float)
                 else "bytes" if isinstance(item, bytes) else None)
            if k is None:
                raise TypeError(
                    f"unsupported freq-items item type {type(item)!r}; "
                    "use str/int/float/bytes")
            if kind is None:
                kind = k
            elif kind != k:
                raise TypeError(
                    "mixed item types in one sketch (a Spark column is "
                    f"typed; got both {kind} and {k})")
            items.append(item)
            values.append(c)
        kind = kind or "str"  # no retained items (cannot happen post-purge)
        out = [struct.pack("<BBBBBBH", self._PRE_NONEMPTY,
                           self.SERIAL_VERSION, serde.FAMILY_FREQUENCY,
                           lg_max, lg_cur,
                           self._SERDE_TAGS[kind] << 4, 0),
               struct.pack("<II", len(items), 0),
               struct.pack("<Qq", self.total_weight, self.offset)]
        out.append(np.array(values, dtype="<u8").tobytes())
        if kind == "str":
            for it in items:
                b = it.encode("utf-8")
                out.append(struct.pack("<I", len(b)) + b)
        elif kind == "bytes":
            for it in items:
                out.append(struct.pack("<I", len(it)) + it)
        elif kind == "i64":
            out.append(np.array([int(i) for i in items],
                                dtype="<i8").tobytes())
        else:  # f64
            out.append(np.array(items, dtype="<f8").tobytes())
        return b"".join(out)

    @classmethod
    def deserialize(cls, buf: bytes,
                    item_type: str | None = None) -> "FrequentItemsSketch":
        """Reads the family-10 layout. ``item_type`` (str/i64/u64/f64/
        bytes) overrides the self-describing flag bits — needed for
        blobs written by the reference, whose flags byte is 0."""
        import struct
        serde.need(buf, 0, 6)
        pre, ver, fam, lg_max, lg_cur, flags = struct.unpack_from(
            "<BBBBBB", buf, 0)
        pre &= 0x3F
        if fam != serde.FAMILY_FREQUENCY:
            raise serde.SketchDecodeError(
                f"family {fam} != expected {serde.FAMILY_FREQUENCY}")
        if ver != cls.SERIAL_VERSION:
            raise serde.SketchDecodeError(f"unsupported serial version {ver}")
        if lg_cur > lg_max:
            raise serde.SketchDecodeError(
                "lg_cur_map_size exceeds lg_max_map_size")
        if flags & cls._EMPTY_FLAG_MASK:
            if pre != cls._PRE_EMPTY:
                raise serde.SketchDecodeError(f"bad preamble_longs {pre}")
            return cls(1 << max(lg_max, cls._LG_MIN), lg_cur=lg_cur)
        if pre != cls._PRE_NONEMPTY:
            raise serde.SketchDecodeError(f"bad preamble_longs {pre}")
        if item_type is None:
            tag = (flags >> 4) & 0x3
            item_type = {v: k for k, v in cls._SERDE_TAGS.items()}[tag]
        serde.need(buf, 0, 32)
        n, _ = struct.unpack_from("<II", buf, 8)
        tw, offset = struct.unpack_from("<Qq", buf, 16)
        serde.need(buf, 32, 8 * n)
        values = np.frombuffer(buf, "<u8", n, 32)
        off = 32 + 8 * n
        items: list = []
        if item_type in ("str", "bytes"):
            for _ in range(n):
                serde.need(buf, off, 4)
                (blen,) = struct.unpack_from("<I", buf, off)
                off += 4
                serde.need(buf, off, blen)
                body = buf[off:off + blen]
                off += blen
                items.append(body.decode("utf-8") if item_type == "str"
                             else bytes(body))
        elif item_type in ("i64", "u64", "f64"):
            serde.need(buf, off, 8 * n)
            dt = {"i64": "<i8", "u64": "<u8", "f64": "<f8"}[item_type]
            items = [v.item() for v in np.frombuffer(buf, dt, n, off)]
        else:
            raise serde.SketchDecodeError(
                f"unknown item serde {item_type!r}")
        if len(set(items)) != len(items):
            raise serde.SketchDecodeError("duplicate items in payload")
        counts = dict(zip(items, (int(v) for v in values)))
        return cls(1 << max(lg_max, cls._LG_MIN), counts, offset, int(tw),
                   lg_cur=lg_cur)
