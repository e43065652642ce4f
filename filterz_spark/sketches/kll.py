"""KLL quantile sketch — compactor levels with deterministic seeded coins.

Semantics from the published algorithm (Karnin, Lang, Liberty 2016; Apache
DataSketches production semantics); no reference analogue (north-rule
extension, SURVEY.md §2.6). Rank error eps with O((1/eps) sqrt(log 1/eps))
items; level i items carry weight 2^i; compaction sorts a full level and
keeps every other item (offset chosen by a SplitMix64 coin seeded from a
deterministic per-sketch counter — reproducible builds, matching the
reference's fixed-constant seeding discipline, src/xorf.zig:134).

merge = concatenate levels pairwise + cascade compaction: deterministic for
a fixed merge order; the eps rank bound holds under any order (KLL's merge
theorem), which is what the merge tests gate on for quantile sketches.
"""

from __future__ import annotations

import struct

import numpy as np

from .. import codec
from ..hashing import splitmix64
from .base import MergeableSketch

_COIN_SEED = 0x5EEDC0FFEE  # fixed; coins drawn per-compaction deterministically


class KllSketch(MergeableSketch):
    kind = "kll"

    def __init__(self, levels: list[np.ndarray], k: int, n: int = 0,
                 compactions: int = 0) -> None:
        self.levels = levels  # levels[i]: float64 items of weight 2^i (unsorted)
        self.k = k
        self.n = n
        self.compactions = compactions

    @classmethod
    def zero(cls, k: int = 200) -> "KllSketch":
        return cls([np.empty(0)], k)

    def _capacity(self, level: int, num_levels: int) -> int:
        # top level holds ~k, lower levels shrink by 2/3 (KLL paper Sec. 2)
        c = self.k * (2.0 / 3.0) ** (num_levels - 1 - level)
        return max(int(np.ceil(c)), 8)

    def _compact_level(self, level: int) -> None:
        items = np.sort(self.levels[level], kind="stable")
        coin = int(splitmix64(_COIN_SEED + self.compactions)) & 1
        self.compactions += 1
        kept = items[coin::2]
        self.levels[level] = np.empty(0)
        if level + 1 >= len(self.levels):
            self.levels.append(np.empty(0))
        self.levels[level + 1] = np.concatenate([self.levels[level + 1], kept])

    def _compress(self) -> None:
        while True:
            num_levels = len(self.levels)
            total = sum(lv.size for lv in self.levels)
            cap_total = sum(self._capacity(i, num_levels) for i in range(num_levels))
            if total <= cap_total:
                return
            for i, lv in enumerate(self.levels):
                if lv.size >= self._capacity(i, num_levels) and lv.size >= 2:
                    self._compact_level(i)
                    break
            else:
                return

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += int(v.size)
        self._compress()

    def merge(self, other: "KllSketch") -> "KllSketch":
        self.check_compatible(other)
        if self.k != other.k:
            raise ValueError("kll merge: k mismatch")
        depth = max(len(self.levels), len(other.levels))
        levels = []
        for i in range(depth):
            a = self.levels[i] if i < len(self.levels) else np.empty(0)
            b = other.levels[i] if i < len(other.levels) else np.empty(0)
            levels.append(np.concatenate([a, b]))
        out = KllSketch(levels, self.k, self.n + other.n,
                        self.compactions + other.compactions)
        out._compress()
        return out

    def _weighted_items(self):
        items, weights = [], []
        for i, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 1 << i, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantile(self, q: float) -> float:
        """Item whose weighted rank covers q (discrete, DataSketches-style)."""
        it, wt = self._weighted_items()
        if it.size == 0:
            return float("nan")
        cum = np.cumsum(wt)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(it[min(i, it.size - 1)])

    def rank(self, value: float) -> float:
        """Estimated normalized rank of value."""
        it, wt = self._weighted_items()
        if it.size == 0:
            return float("nan")
        cum = np.cumsum(wt)
        i = int(np.searchsorted(it, value, side="right"))
        return float(cum[i - 1] / cum[-1]) if i > 0 else 0.0

    def params(self) -> dict:
        return {"k": str(self.k)}

    def serialize(self) -> bytes:
        head = struct.pack("<qqq", self.n, self.compactions, len(self.levels))
        parts = [head]
        for lv in self.levels:
            parts.append(struct.pack("<q", lv.size))
            parts.append(lv.astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "KllSketch":
        codec.check_size(cls.kind, payload[:24], 24)
        n, compactions, nlev = struct.unpack_from("<qqq", payload, 0)
        off = 24
        levels = []
        for _ in range(nlev):
            codec.check_size(cls.kind, payload[off:off + 8], 8)
            (sz,) = struct.unpack_from("<q", payload, off)
            off += 8
            codec.check_size(cls.kind, payload[off:off + 8 * sz], 8 * sz)
            levels.append(np.frombuffer(payload, dtype="<f8", count=sz, offset=off).astype(np.float64))
            off += 8 * sz
        codec.check_size(cls.kind, payload, off)
        return cls(levels, int(params["k"]), n, compactions)
