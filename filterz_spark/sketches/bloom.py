"""Mergeable Bloom sketch — fixed-geometry split-block Bloom filter.

The classic-Bloom view of the reference's SBBF (src/sbbf.zig): geometry is
fixed up front from an expected-capacity parameter, so every partition-local
partial shares the same block count and merges by bitwise OR
(insert = idempotent OR, ref src/sbbf.zig:39-43). OR is associative and
commutative, so aggregation order cannot change a single bit of the state —
the strongest merge guarantee in the sketch family.

FPR follows the classic bound ~ (1 - e^{-kn/m})^k with k=8 lanes (one bit per
64-bit lane per key, Parquet-spec split-block layout); sizing via
bits_per_key * capacity as in ref src/sbbf.zig:94-107.
"""

from __future__ import annotations

import numpy as np

from .. import codec
from ..filters import sbbf
from .base import MergeableSketch


class BloomSketch(MergeableSketch):
    kind = "bloom"

    def __init__(self, blocks: np.ndarray, capacity: int, bits_per_key: int,
                 num_inserted: int = 0) -> None:
        self.blocks = blocks
        self.capacity = capacity
        self.bits_per_key = bits_per_key
        self.num_inserted = num_inserted

    @classmethod
    def zero(cls, capacity: int = 1_000_000, bits_per_key: int = 16) -> "BloomSketch":
        return cls(sbbf.empty_blocks(capacity, bits_per_key), capacity, bits_per_key)

    def update(self, values: np.ndarray) -> None:
        """values: uint64 key hashes (xxhash64 of the key column)."""
        sbbf.insert(self.blocks, values)
        self.num_inserted += int(values.size)

    def merge(self, other: "BloomSketch") -> "BloomSketch":
        self.check_compatible(other)
        return BloomSketch(
            sbbf.merge(self.blocks, other.blocks),
            self.capacity, self.bits_per_key,
            self.num_inserted + other.num_inserted,
        )

    def contains(self, values: np.ndarray) -> np.ndarray:
        return sbbf.contains(self.blocks, values)

    def fpr_bound(self, n: int | None = None) -> float:
        """Classic bound (1 - e^{-kn/m})^k with k=8 lane bits per key."""
        n = self.num_inserted if n is None else n
        m = self.blocks.size * 64  # bits
        k = 8
        return float((1.0 - np.exp(-k * n / m)) ** k)

    def params(self) -> dict:
        return {
            "capacity": str(self.capacity),
            "bits_per_key": str(self.bits_per_key),
            "num_inserted": str(self.num_inserted),
        }

    def serialize(self) -> bytes:
        return codec.encode(self.blocks)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "BloomSketch":
        capacity, bits_per_key = int(params["capacity"]), int(params["bits_per_key"])
        blocks = codec.decode(cls.kind, payload, np.uint64,
                              sbbf.block_shape(capacity, bits_per_key))
        return cls(blocks, capacity, bits_per_key, int(params.get("num_inserted", 0)))
