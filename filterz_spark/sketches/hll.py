"""HyperLogLog — dense registers, vectorized update, max-merge.

Semantics from the published algorithm (Flajolet, Fusy, Gandouet, Meunier
2007) with the standard linear-counting small-range correction; no reference
analogue (north-rule extension, SURVEY.md §2.6). Relative standard error
~= 1.04 / sqrt(2^p).

State: 2^p uint8 registers. update takes u64 key hashes: register
index = top p bits, rank = leading-zero count of the remaining 64-p bits
+ 1. merge = elementwise max — associative, commutative, idempotent, so
state is bit-identical under any aggregation order. The payload is the
register array itself, exactly 2^p bytes.
"""

from __future__ import annotations

import numpy as np

from .. import codec
from .base import MergeableSketch

_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 (binary-search shifts; no
    float log2, which mis-buckets near powers of two above 2^53)."""
    x = x.copy()
    res = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = x >= np.uint64(1 << s)
        res[big] += s
        x[big] >>= np.uint64(s)
    res += (x > 0).astype(np.int64)
    return res


class HllSketch(MergeableSketch):
    kind = "hll"

    def __init__(self, registers: np.ndarray, p: int) -> None:
        self.registers = registers
        self.p = p

    @classmethod
    def zero(cls, p: int = 14) -> "HllSketch":
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        return cls(np.zeros(1 << p, dtype=np.uint8), p)

    def update(self, values: np.ndarray) -> None:
        """values: uint64 key hashes."""
        if values.size == 0:
            return
        h = values.astype(np.uint64, copy=False)
        p = self.p
        idx = (h >> np.uint64(64 - p)).astype(np.int64)
        rest = h & np.uint64((1 << (64 - p)) - 1)
        rank = ((64 - p) - _bit_length_u64(rest) + 1).astype(np.uint8)
        np.maximum.at(self.registers, idx, rank)

    def merge(self, other: "HllSketch") -> "HllSketch":
        self.check_compatible(other)
        if self.p != other.p:
            raise ValueError("hll merge: precision mismatch")
        return HllSketch(np.maximum(self.registers, other.registers), self.p)

    def estimate(self) -> float:
        regs = self.registers
        m = regs.size
        inv = np.power(2.0, -regs.astype(np.float64))
        raw = _alpha(m) * m * m / inv.sum()
        zeros = int((regs == 0).sum())
        if raw <= 2.5 * m and zeros > 0:
            return float(m * np.log(m / zeros))  # linear counting
        return float(raw)

    def std_error(self) -> float:
        return 1.04 / np.sqrt(1 << self.p)

    def params(self) -> dict:
        return {"p": str(self.p)}

    def serialize(self) -> bytes:
        return codec.encode(self.registers)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "HllSketch":
        p = int(params["p"])
        return cls(codec.decode(cls.kind, payload, np.uint8, 1 << p), p)
