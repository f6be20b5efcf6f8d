"""Fixed little-endian sketch wire format (our own, simplified).

The reference ships Java/C++-compatible multi-version codecs
(codec/family.rs:38-99, per-family serialization.rs). Cross-language wire
compatibility is a non-goal here (SURVEY.md §2.1 serialize row); what we keep
is the *discipline*: a tagged, versioned, seed-checked header so that a
merge of incompatible sketch states fails loudly instead of silently
corrupting — the same guarantees as codec/assert.rs + the seed-hash checks
in theta/intersection.rs:81-87 and bloom/sketch.rs:314-318.

Header (little-endian): magic u8 = 0xD5, family u8, version u8,
seed_hash u16, then family-specific payload. Family IDs follow
codec/family.rs:38-99 where one exists (THETA=3, HLL=7, FREQUENCY=10,
COUNTMIN=18, TDIGEST=20, BLOOM=21); MINHASH=64 and SIMHASH=65 are ours.
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
FAMILY_MINHASH = 64
FAMILY_SIMHASH = 65

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
