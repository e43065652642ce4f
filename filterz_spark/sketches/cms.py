"""Count-Min Sketch — d x w counters, vectorized update, additive merge.

Semantics from the published algorithm (Cormode & Muthukrishnan 2005); no
reference analogue (north-rule extension, SURVEY.md §2.6). Point-query error
<= eps * N with probability 1 - delta for w = ceil(e/eps), d = ceil(ln 1/delta).

Row position for a u64 key hash: Murmur2-64 re-seed per row (the reference's
apply_seed chain, src/xorf.zig:7-9) followed by multiply-shift range reduction
(src/xorf.zig:15-17) — no modulo. merge = elementwise add: associative and
commutative, so state is bit-identical under any aggregation order.
"""

from __future__ import annotations

import math

import numpy as np

from .. import codec
from ..hashing import murmur64_mix, reduce32, splitmix64_array
from .base import MergeableSketch

_LOW32 = np.uint64(0xFFFFFFFF)
_ROW_SEED_INIT = 0x9D3F_0E1A_C55B_72F1  # fixed row-seed stream (SplitMix64)


class CmsSketch(MergeableSketch):
    kind = "cms"

    def __init__(self, table: np.ndarray, total: int = 0) -> None:
        self.table = table  # (d, w) int64
        self.depth, self.width = table.shape
        self.total = total
        self._row_seeds = splitmix64_array(_ROW_SEED_INIT, self.depth)

    @classmethod
    def zero(cls, depth: int = 5, width: int = 8192) -> "CmsSketch":
        if depth < 1 or width < 1:
            raise ValueError(f"CMS needs depth >= 1 and width >= 1, "
                             f"got ({depth}, {width})")
        return cls(np.zeros((depth, width), dtype=np.int64))

    @classmethod
    def from_eps_delta(cls, eps: float, delta: float) -> "CmsSketch":
        if not 0.0 < eps < 1.0 or not 0.0 < delta < 1.0:
            raise ValueError("eps and delta must be in (0, 1) — delta >= 1 "
                             "would yield a zero-depth (broken) sketch")
        width = int(math.ceil(math.e / eps))
        depth = int(math.ceil(math.log(1.0 / delta)))
        return cls.zero(depth=depth, width=width)

    def _positions(self, h: np.ndarray) -> np.ndarray:
        """(d, n) int64 counter positions per row."""
        pos = np.empty((self.depth, h.size), dtype=np.int64)
        for d in range(self.depth):
            mixed = murmur64_mix(h, int(self._row_seeds[d]))
            pos[d] = reduce32(self.width, mixed & _LOW32).astype(np.int64)
        return pos

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> None:
        """values: uint64 key hashes; counts: optional int64 weights."""
        if values.size == 0:
            return
        h = values.astype(np.uint64, copy=False)
        pos = self._positions(h)
        if counts is None:
            for d in range(self.depth):
                np.add.at(self.table[d], pos[d], 1)
            self.total += int(h.size)
        else:
            c = counts.astype(np.int64, copy=False)
            for d in range(self.depth):
                np.add.at(self.table[d], pos[d], c)
            self.total += int(c.sum())

    def merge(self, other: "CmsSketch") -> "CmsSketch":
        self.check_compatible(other)
        if self.table.shape != other.table.shape:
            raise ValueError("cms merge: shape mismatch")
        return CmsSketch(self.table + other.table, self.total + other.total)

    def query(self, values: np.ndarray) -> np.ndarray:
        """Point-query estimates (min over rows) for a batch of key hashes."""
        h = values.astype(np.uint64, copy=False)
        pos = self._positions(h)
        est = self.table[0][pos[0]]
        for d in range(1, self.depth):
            est = np.minimum(est, self.table[d][pos[d]])
        return est

    def error_bound(self) -> float:
        """eps*N additive bound: eps = e/width."""
        return math.e / self.width * self.total

    def params(self) -> dict:
        return {"depth": str(self.depth), "width": str(self.width), "total": str(self.total)}

    def serialize(self) -> bytes:
        return codec.encode(self.table)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "CmsSketch":
        d, w = int(params["depth"]), int(params["width"])
        return cls(codec.decode(cls.kind, payload, np.int64, (d, w)),
                   int(params.get("total", 0)))
