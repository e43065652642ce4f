"""t-digest — merging digest with the k1 (arcsine) scale function.

Semantics from the published algorithm (Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests"); no reference analogue (north-rule
extension, SURVEY.md §2.6). Rank error is bounded by the scale function:
clusters near the tails hold O(1) weight, so extreme quantiles stay sharp.

Compression here is the fully-vectorized k-space bucketing form of the
merging digest: sort centroids by mean, map midpoint quantiles through
k(q) = delta * (asin(2q-1)/pi + 1/2), and group rows that land in the same
integer k-bucket (np.add.at) — deterministic, no per-row Python. merge =
concat centroid lists + recompress: associative up to the published rank
error (state is deterministic for a fixed merge order; estimates hold the
bound under any order).
"""

from __future__ import annotations

import struct

import numpy as np

from .. import codec
from .base import MergeableSketch


class TDigestSketch(MergeableSketch):
    kind = "tdigest"

    def __init__(self, means: np.ndarray, weights: np.ndarray, delta: int,
                 vmin: float = np.inf, vmax: float = -np.inf) -> None:
        self.means = means.astype(np.float64, copy=False)
        self.weights = weights.astype(np.float64, copy=False)
        self.delta = delta
        self.vmin = vmin
        self.vmax = vmax

    @classmethod
    def zero(cls, delta: int = 200) -> "TDigestSketch":
        return cls(np.empty(0), np.empty(0), delta)

    def _compress(self, means: np.ndarray, weights: np.ndarray):
        if means.size == 0:
            return means, weights
        order = np.argsort(means, kind="stable")
        m = means[order]
        w = weights[order]
        total = w.sum()
        cum = np.cumsum(w) - w / 2.0
        q = cum / total
        k = self.delta * (np.arcsin(2.0 * q - 1.0) / np.pi + 0.5)
        bucket = np.clip(np.floor(k).astype(np.int64), 0, self.delta - 1)
        nb = self.delta
        wsum = np.zeros(nb)
        msum = np.zeros(nb)
        np.add.at(wsum, bucket, w)
        np.add.at(msum, bucket, w * m)
        nz = wsum > 0
        return msum[nz] / wsum[nz], wsum[nz]

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        means = np.concatenate([self.means, v])
        weights = np.concatenate([self.weights, np.ones(v.size)])
        self.means, self.weights = self._compress(means, weights)

    def merge(self, other: "TDigestSketch") -> "TDigestSketch":
        self.check_compatible(other)
        if self.delta != other.delta:
            raise ValueError("tdigest merge: delta mismatch")
        means = np.concatenate([self.means, other.means])
        weights = np.concatenate([self.weights, other.weights])
        out = TDigestSketch(np.empty(0), np.empty(0), self.delta,
                            min(self.vmin, other.vmin), max(self.vmax, other.vmax))
        out.means, out.weights = out._compress(means, weights)
        return out

    def quantile(self, q: float) -> float:
        """Piecewise-linear interpolation between centroid midpoints."""
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        w = self.weights
        total = w.sum()
        target = q * total
        cum_mid = np.cumsum(w) - w / 2.0
        if target <= cum_mid[0]:
            # interpolate from the true minimum
            frac = target / cum_mid[0] if cum_mid[0] > 0 else 0.0
            lo = self.vmin if np.isfinite(self.vmin) else self.means[0]
            return float(lo + frac * (self.means[0] - lo))
        if target >= cum_mid[-1]:
            span = total - cum_mid[-1]
            frac = (target - cum_mid[-1]) / span if span > 0 else 0.0
            hi = self.vmax if np.isfinite(self.vmax) else self.means[-1]
            return float(self.means[-1] + frac * (hi - self.means[-1]))
        i = int(np.searchsorted(cum_mid, target) - 1)
        frac = (target - cum_mid[i]) / (cum_mid[i + 1] - cum_mid[i])
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    def cdf(self, x: float) -> float:
        """Estimated rank of ``x`` in [0, 1] — the inverse of ``quantile``
        (same centroid-midpoint interpolation, solved the other way)."""
        if self.means.size == 0:
            return float("nan")
        total = self.weights.sum()
        if self.means.size == 1:
            return 0.0 if x < self.means[0] else (1.0 if x > self.means[0] else 0.5)
        cum_mid = np.cumsum(self.weights) - self.weights / 2.0
        lo = self.vmin if np.isfinite(self.vmin) else self.means[0]
        hi = self.vmax if np.isfinite(self.vmax) else self.means[-1]
        if x <= lo:
            return 0.0
        if x >= hi:
            return 1.0
        if x <= self.means[0]:
            span = self.means[0] - lo
            frac = (x - lo) / span if span > 0 else 1.0
            return float(frac * cum_mid[0] / total)
        if x >= self.means[-1]:
            span = hi - self.means[-1]
            frac = (x - self.means[-1]) / span if span > 0 else 0.0
            return float((cum_mid[-1] + frac * (total - cum_mid[-1])) / total)
        i = int(np.searchsorted(self.means, x) - 1)
        span = self.means[i + 1] - self.means[i]
        frac = (x - self.means[i]) / span if span > 0 else 0.0
        return float((cum_mid[i] + frac * (cum_mid[i + 1] - cum_mid[i])) / total)

    def total_weight(self) -> float:
        return float(self.weights.sum())

    def params(self) -> dict:
        return {"delta": str(self.delta)}

    def serialize(self) -> bytes:
        head = struct.pack("<qdd", self.means.size, self.vmin, self.vmax)
        return head + self.means.astype("<f8").tobytes() + self.weights.astype("<f8").tobytes()

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "TDigestSketch":
        codec.check_size(cls.kind, payload[:24], 24)
        n, vmin, vmax = struct.unpack_from("<qdd", payload, 0)
        off = 24
        codec.check_size(cls.kind, payload, off + 16 * n)
        means = np.frombuffer(payload, dtype="<f8", count=n, offset=off).astype(np.float64)
        weights = np.frombuffer(payload, dtype="<f8", count=n, offset=off + 8 * n).astype(np.float64)
        return cls(means, weights, int(params["delta"]), vmin, vmax)
