"""MergeableSketch — the commutative-monoid interface all mergeable sketches share.

The reference's filters are build-once structures (SURVEY.md §2); the
north-rule extensions (HLL, count-min, t-digest, KLL, Bloom) are all
*mergeable*: a sketch is an element of a commutative monoid with

    zero(**params)   — identity element
    update(batch)    — absorb a vectorized batch (numpy array, never per-row)
    merge(other)     — associative + commutative combine
    estimate(...)    — sketch-specific query
    serialize()/deserialize() — stable little-endian byte payload,
                                length-checked by ``filterz_spark.codec``

which is exactly the contract Spark's ``treeAggregate`` / two-level
grouped ``applyInArrow`` aggregation (``spark.merge``) needs: partials build independently per
partition, merge in any order/tree shape, and (for Bloom/HLL/CMS) produce
BIT-IDENTICAL state regardless of aggregation order — the property the
merge-associativity tests gate on. t-digest/KLL are deterministic for a fixed
merge order and hold their published rank-error bound under any order.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

import numpy as np


class MergeableSketch(ABC):
    kind: str = "?"

    @classmethod
    @abstractmethod
    def zero(cls, **params) -> "MergeableSketch":
        """Monoid identity with the given parameters."""

    @abstractmethod
    def update(self, values: np.ndarray) -> None:
        """Absorb a batch of values (u64 hashes for membership/distinct/
        frequency sketches; float64 for quantile sketches)."""

    @abstractmethod
    def merge(self, other: "MergeableSketch") -> "MergeableSketch":
        """Associative, commutative combine; parameters must match."""

    @abstractmethod
    def serialize(self) -> bytes:
        """Stable little-endian payload (used for BinaryType state cells)."""

    @classmethod
    @abstractmethod
    def deserialize(cls, payload: bytes, params: dict) -> "MergeableSketch":
        ...

    @abstractmethod
    def params(self) -> dict:
        """String->string parameter map (stored next to the payload)."""

    def check_compatible(self, other: "MergeableSketch") -> None:
        if self.kind != other.kind:
            raise ValueError(f"incompatible sketches: {self.kind} vs {other.kind}")
