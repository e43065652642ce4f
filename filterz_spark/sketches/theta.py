"""Theta sketch (KMV / k-minimum-values) — mergeable distinct counting WITH
set algebra (union / intersection / difference estimates).

Not in the reference (its structures answer membership only); semantics
from the published KMV/theta literature (Bar-Yossef et al. 2002 "Counting
distinct elements in a data stream"; Dasgupta, Lang, Rhodes, Thaler 2016
"A framework for estimating stream expression cardinalities" — the Apache
DataSketches theta formulation). This fills the one query HLL cannot
answer: HLL unions, but cannot intersect; theta supports the full set
algebra a dedup pipeline needs ("how many urls do these two crawls
share?") at 1/sqrt(k-2) relative error.

State: the k smallest distinct u64 hashes (sorted array) + theta.
- unsaturated (fewer than k retained, theta = 2^64): the retained set IS
  the distinct hash set — estimates are EXACT (the oracle regime);
- saturated: theta = (k+1)-th smallest seen; retained = all hashes < theta;
  estimate = |retained| / (theta / 2^64).

Merge = union of retained sets filtered below min(theta), re-trimmed to k.
Min-k of a union is associative and commutative, and the state is a sorted
u64 array, so merged state is BIT-IDENTICAL under any aggregation order or
tree shape — the same monoid contract Bloom/HLL/CMS satisfy (tested).

Intersection / a-not-b follow the standard theta rule: operate on the
retained sets at theta = min(theta_a, theta_b) and scale by 1/theta.
"""

from __future__ import annotations

import numpy as np

from .. import codec
from .base import MergeableSketch

_FULL = float(2**64)


class ThetaSketch(MergeableSketch):
    kind = "theta"

    def __init__(self, k: int, theta: int, retained: np.ndarray) -> None:
        self.k = k
        self.theta = theta  # exclusive upper bound on retained hashes
        self.retained = retained  # sorted distinct uint64, all < theta

    @classmethod
    def zero(cls, k: int = 4096) -> "ThetaSketch":
        return cls(int(k), 1 << 64, np.zeros(0, dtype=np.uint64))

    def _trim(self) -> None:
        if self.retained.size > self.k:
            # theta drops to the (k+1)-th smallest: keep strictly below
            self.theta = int(self.retained[self.k])
            self.retained = self.retained[: self.k]

    def update(self, values: np.ndarray) -> None:
        h = np.asarray(values).astype(np.int64, copy=False).view(np.uint64)
        if self.theta < 1 << 64:
            h = h[h < np.uint64(self.theta)]
        if h.size == 0:
            return
        self.retained = np.unique(np.concatenate([self.retained, h]))
        self._trim()

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        self.check_compatible(other)
        if self.k != other.k:
            raise ValueError(f"theta merge: k mismatch {self.k} vs {other.k}")
        theta = min(self.theta, other.theta)
        merged = np.unique(np.concatenate([self.retained, other.retained]))
        if theta < 1 << 64:
            merged = merged[merged < np.uint64(theta)]
        out = ThetaSketch(self.k, theta, merged)
        out._trim()
        return out

    # ---- estimates ----

    def estimate(self) -> float:
        if self.theta >= 1 << 64:
            return float(self.retained.size)  # exact regime
        return self.retained.size / (self.theta / _FULL)

    def intersect_estimate(self, other: "ThetaSketch") -> float:
        theta = min(self.theta, other.theta)
        a = self.retained[self.retained < np.uint64(theta)] \
            if theta < 1 << 64 else self.retained
        b = other.retained[other.retained < np.uint64(theta)] \
            if theta < 1 << 64 else other.retained
        common = np.intersect1d(a, b, assume_unique=True)
        if theta >= 1 << 64:
            return float(common.size)
        return common.size / (theta / _FULL)

    def a_not_b_estimate(self, other: "ThetaSketch") -> float:
        theta = min(self.theta, other.theta)
        a = self.retained[self.retained < np.uint64(theta)] \
            if theta < 1 << 64 else self.retained
        b = other.retained[other.retained < np.uint64(theta)] \
            if theta < 1 << 64 else other.retained
        only = np.setdiff1d(a, b, assume_unique=True)
        if theta >= 1 << 64:
            return float(only.size)
        return only.size / (theta / _FULL)

    def jaccard_estimate(self, other: "ThetaSketch") -> float:
        """|A ∩ B| / |A ∪ B| from the set-algebra estimates (exact in the
        sub-k regime, like the other theta estimates)."""
        union = self.merge(other).estimate()
        if union == 0:
            return 0.0
        return self.intersect_estimate(other) / union

    def std_error(self) -> float:
        """Relative standard error ~ 1/sqrt(k-2) once saturated; 0 exact."""
        if self.theta >= 1 << 64:
            return 0.0
        return 1.0 / np.sqrt(max(self.k - 2, 1))

    # ---- serde ----

    def params(self) -> dict:
        return {"k": str(self.k), "theta": str(self.theta),
                "n": str(self.retained.size)}

    def serialize(self) -> bytes:
        return codec.encode(self.retained)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "ThetaSketch":
        retained = codec.decode(cls.kind, payload, np.uint64, int(params["n"]))
        return cls(int(params["k"]), int(params["theta"]), retained)
