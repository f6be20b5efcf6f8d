"""Sketch wire formats: which bytes the engine's blobs hold, per family,
and the shared header and reading helpers.

The blobs the engine builds, merges and ships (``agg``, the streaming
state) use, per family:

- Bloom (family 21), CountMin (family 18), frequent items (family 10):
  the reference layout itself (bloom.py, countmin.py, frequencies.py).
  Bloom and CountMin bytes equal the reference's; non-empty frequent
  items differ in one flags byte that tags the item type
  (tests/test_reference_goldens.py, against reference-written bytes).
- Theta (3), HLL (7), CPC (16), t-digest (20): our own little-endian
  format, with the header below. Reference bytes for them come from
  the codecs in compat.py and cpc_compat.py, which read compact theta
  v1-v4 and write v3/v4, read every HLL mode and write HLL8, and read
  and write CPC and t-digest (tests/test_golden.py,
  tests/test_cpc_compat.py).

Header of our own format (little-endian): magic u8 = 0xD5, family u8,
version u8, seed_hash u16, then the family's payload. Family IDs follow
the reference (codec/family.rs:38-99). The header is tagged, versioned
and seed-checked so that a merge of incompatible sketch states fails
loudly instead of silently corrupting, as the reference's codec/assert.rs
and seed-hash checks (theta/intersection.rs:81-87,
bloom/sketch.rs:314-318) do.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = 0xD5
FAMILY_THETA = 3
FAMILY_HLL = 7
FAMILY_FREQUENCY = 10
FAMILY_CPC = 16
FAMILY_COUNTMIN = 18
FAMILY_TDIGEST = 20
FAMILY_BLOOM = 21

_HDR = struct.Struct("<BBBH")


class SketchDecodeError(ValueError):
    """Corrupt or incompatible serialized sketch (analog of
    ErrorKind::InvalidData, error.rs:25-30)."""


def pack_header(family: int, version: int, seed_hash: int) -> bytes:
    return _HDR.pack(MAGIC, family, version, seed_hash)


def unpack_header(buf: bytes, expect_family: int, expect_version: int,
                  expect_seed_hash: int | None = None) -> int:
    """Validate header, return payload offset. Raises SketchDecodeError on
    corruption — mirrored by the corruption tests (cf. reference
    theta/sketch.rs:1163-1209 rejection tests)."""
    if len(buf) < _HDR.size:
        raise SketchDecodeError("insufficient data for header")
    magic, family, version, seed_hash = _HDR.unpack_from(buf, 0)
    if magic != MAGIC:
        raise SketchDecodeError(f"bad magic 0x{magic:02x}")
    if family != expect_family:
        raise SketchDecodeError(f"family {family} != expected {expect_family}")
    if version != expect_version:
        raise SketchDecodeError(f"version {version} != expected {expect_version}")
    if expect_seed_hash is not None and seed_hash != expect_seed_hash:
        raise SketchDecodeError(
            f"seed hash {seed_hash} != expected {expect_seed_hash} "
            "(sketches built with different seeds cannot be merged)")
    return _HDR.size


def need(buf: bytes, offset: int, nbytes: int) -> None:
    if len(buf) < offset + nbytes:
        raise SketchDecodeError(
            f"insufficient data: need {offset + nbytes}, have {len(buf)}")


def take_u64s(buf: bytes, offset: int, count: int) -> tuple[np.ndarray, int]:
    need(buf, offset, 8 * count)
    arr = np.frombuffer(buf, dtype="<u8", count=count, offset=offset)
    return arr, offset + 8 * count
