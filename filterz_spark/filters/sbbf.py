"""Split-Block Bloom Filter (SBBF) — C kernel (``filterz_spark.native``).

Semantics mirror the reference (steelcake/filterz ``src/sbbf.zig``, which
follows the Apache Parquet BloomFilter spec):

- the filter is a flat array of 64-byte blocks; each block is 8 lanes of u64
  (ref src/sbbf.zig:5-7);
- a key's block is picked by multiply-shift reduction of the LOW 32 bits of
  its u64 hash (ref src/sbbf.zig:28-30, :55);
- inside the block, one bit per lane is set: bit ``((hash * SALT[lane]) >> 27) & 63``
  (ref src/sbbf.zig:72-80) — 8 bits per key, one cache line per probe;
- sizing: ``roundup(ceil(bits_per_key * n / 8), 64)`` bytes, zero-initialized
  (ref src/sbbf.zig:94-107);
- serialized bytes are little-endian u64 lanes (ref src/sbbf.zig:9-26),
  written and length-checked by ``filterz_spark.codec``.

Insert and probe take whole uint64 hash arrays per call, never per-row
Python; the per-key loop runs in ``native/kernels.c``.

SBBF is the one natively MERGEABLE filter here: insert is an idempotent,
commutative bitwise OR into a fixed-size array (ref src/sbbf.zig:39-43), so
two filters built with the same geometry merge by ``a | b``. That makes it
usable both as a partition-local skip index and as a global mergeable
aggregate (treeAggregate / two-level grouped applyInArrow).
"""

from __future__ import annotations

import numpy as np

from .. import codec, native

BLOCK_SIZE = 64  # bytes per block (ref src/sbbf.zig:7)
LANES = 8


def num_bytes(num_keys: int, bits_per_key: int) -> int:
    """Filter size in bytes: ceil(bpk*n/8) rounded up to 64 (ref src/sbbf.zig:95)."""
    raw = (bits_per_key * num_keys + 7) // 8
    return (raw + BLOCK_SIZE - 1) // BLOCK_SIZE * BLOCK_SIZE


def block_shape(num_keys: int, bits_per_key: int) -> tuple[int, int]:
    """(num_blocks, 8): the block array's shape for the given capacity."""
    return num_bytes(num_keys, bits_per_key) // BLOCK_SIZE, LANES


def empty_blocks(num_keys: int, bits_per_key: int) -> np.ndarray:
    """Zeroed (num_blocks, 8) uint64 block array for the given capacity."""
    return np.zeros(block_shape(num_keys, bits_per_key), dtype=np.uint64)


def insert(blocks: np.ndarray, hashes: np.ndarray) -> None:
    """Scatter-OR a batch of u64 hashes into the block array (in place) —
    the reference's per-key ``filter_insert`` loop (src/sbbf.zig:64-66,
    :94-107)."""
    if blocks.shape[0] == 0 or hashes.size == 0:
        return
    native.sbbf_insert(blocks, hashes)


def contains(blocks: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Batch probe: bool array, True where all 8 lane bits are set
    (ref src/sbbf.zig:32-37, :60-62)."""
    if hashes.size == 0:
        return np.zeros(0, dtype=bool)
    if blocks.shape[0] == 0:
        return np.zeros(hashes.size, dtype=bool)
    return native.sbbf_contains(blocks, hashes)


def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """OR-merge two equal-geometry filters (insert is an idempotent OR,
    ref src/sbbf.zig:39-43 — order- and duplication-insensitive)."""
    if a.shape != b.shape:
        raise ValueError(f"sbbf merge: geometry mismatch {a.shape} vs {b.shape}")
    return np.bitwise_or(a, b)


class SbbfFilter:
    """Build-once SBBF over a deduplicated u64 hash array.

    Mirrors the reference high-level API (``Filter(bits_per_key).init/check/
    mem_usage/ideal_mem_usage``, src/sbbf.zig:86-125).
    """

    kind = "sbbf"

    def __init__(self, blocks: np.ndarray, bits_per_key: int, num_keys: int) -> None:
        self.blocks = blocks
        self.bits_per_key = bits_per_key
        self.num_keys = num_keys

    @classmethod
    def build(cls, hashes: np.ndarray, bits_per_key: int = 16) -> "SbbfFilter":
        blocks = empty_blocks(len(hashes), bits_per_key)
        insert(blocks, hashes)
        return cls(blocks, bits_per_key, len(hashes))

    def check(self, hashes: np.ndarray) -> np.ndarray:
        return contains(self.blocks, hashes)

    def mem_usage(self) -> int:
        return self.blocks.size * 8

    def ideal_mem_usage(self) -> int:
        return self.num_keys * self.bits_per_key // 8

    def params(self) -> dict:
        return {"bits_per_key": str(self.bits_per_key), "num_keys": str(self.num_keys)}

    def serialize(self) -> bytes:
        return codec.encode(self.blocks)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "SbbfFilter":
        bits_per_key, num_keys = int(params["bits_per_key"]), int(params["num_keys"])
        blocks = codec.decode(cls.kind, payload, np.uint64,
                              block_shape(num_keys, bits_per_key))
        return cls(blocks, bits_per_key, num_keys)
