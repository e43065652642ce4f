"""Misra-Gries frequent-items summary — the mergeable heavy-hitters sketch.

Semantics from the published algorithm (Misra & Gries 1982) with the
mergeable-summaries merge rule (Agarwal, Cormode, Huang, Phillips, Wei, Yi
2012): at most ``k - 1`` (key, counter) pairs; combining two summaries adds
counters pointwise, then subtracts the k-th largest counter from all and
drops non-positives. Guarantees, preserved under ANY merge tree:

- estimates UNDERCOUNT: f(x) - N/k <= estimate(x) <= f(x);
- every item with true frequency f(x) > N/k is present in the summary.

Like t-digest/KLL, the state is merge-order-dependent but the guarantee is
order-independent (tests gate the bound across shuffled merge trees). With
fewer than ``k`` distinct keys the summary never compacts and is EXACT —
the oracle regime the ``mg_event_types`` entry runs.

No reference analogue (north-rule extension family, SURVEY.md §2.6); CMS
answers point queries but cannot enumerate the heavy hitters without a
candidate set — this summary IS the candidate set.
"""

from __future__ import annotations

import numpy as np

from .. import codec
from .base import MergeableSketch


class MisraGriesSketch(MergeableSketch):
    kind = "mg"

    def __init__(self, counters: dict, k: int, n: int) -> None:
        self.counters = counters  # int key -> int count
        self.k = k
        self.n = n  # total stream weight absorbed (for the N/k bound)

    @classmethod
    def zero(cls, k: int = 64) -> "MisraGriesSketch":
        if k < 2:
            raise ValueError("k must be >= 2")
        return cls({}, k, 0)

    def _compact(self) -> None:
        if len(self.counters) < self.k:
            return
        # subtract the k-th largest count from everything, drop <= 0 —
        # the standard decrement step, at most k-1 survivors
        counts = np.sort(np.fromiter(self.counters.values(), dtype=np.int64))
        med = int(counts[len(counts) - self.k])
        self.counters = {key: c - med for key, c in self.counters.items()
                         if c - med > 0}

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> None:
        """values: int64/uint64 keys; counts: optional positive weights."""
        if values.size == 0:
            return
        # bit-preserving reinterpret for u64 hash keys (astype of values
        # >= 2^63 is not portable across numpy versions; the view matches
        # the JVM xxhash64 int64 exactly)
        v = values.view(np.int64) if values.dtype == np.uint64 \
            else values.astype(np.int64, copy=False)
        if counts is None:
            uniq, cnt = np.unique(v, return_counts=True)
        else:
            order = np.argsort(v, kind="stable")
            sv, sc = v[order], counts.astype(np.int64)[order]
            first = np.r_[True, sv[1:] != sv[:-1]]
            uniq = sv[first]
            cnt = np.add.reduceat(sc, np.flatnonzero(first))
        self.n += int(cnt.sum())
        for key, c in zip(uniq.tolist(), cnt.tolist()):
            self.counters[key] = self.counters.get(key, 0) + c
        self._compact()

    def merge(self, other: "MisraGriesSketch") -> "MisraGriesSketch":
        self.check_compatible(other)
        if self.k != other.k:
            raise ValueError("mg merge: k mismatch")
        combined = dict(self.counters)
        for key, c in other.counters.items():
            combined[key] = combined.get(key, 0) + c
        out = MisraGriesSketch(combined, self.k, self.n + other.n)
        out._compact()
        return out

    def estimate(self, key: int) -> int:
        return int(self.counters.get(int(key), 0))

    def heavy_hitters(self, min_count: int | None = None) -> dict:
        """Keys with ESTIMATE >= min_count (default 0: all counters).

        CHANGED in round 4 (unversioned library — this docstring is the
        changelog): the default used to apply the N/k threshold; it now
        returns ALL counters (up to k-1 keys, including low-estimate
        noise). Callers that relied on the old default should pass
        ``min_count=self.n // self.k`` explicitly.

        Estimates undercount by at most N/k, so the filter's guarantees
        are one-sided: every returned key truly has frequency >=
        min_count (no false positives at the threshold), but a key with
        true frequency in (min_count, min_count + N/k] can be MISSED —
        only keys with true frequency > min_count + N/k are certainly
        returned. Every key with true frequency > N/k is certainly
        present in the summary itself, which is why the default returns
        all counters and leaves thresholding (and its one-sided
        semantics) to the caller."""
        if min_count is None:
            return dict(self.counters)
        return {key: c for key, c in self.counters.items() if c >= min_count}

    def error_bound(self) -> int:
        """Maximum undercount: estimates are within [f - N/k, f]."""
        return self.n // self.k

    def params(self) -> dict:
        return {"k": str(self.k)}

    def serialize(self) -> bytes:
        keys = np.fromiter(sorted(self.counters), dtype=np.int64,
                           count=len(self.counters))
        vals = np.array([self.counters[int(key)] for key in keys], dtype=np.int64)
        head = np.array([self.n, keys.size], dtype=np.int64)
        return head.tobytes() + keys.tobytes() + vals.tobytes()

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "MisraGriesSketch":
        codec.check_size(cls.kind, payload[:16], 16)
        n, size = (int(v) for v in np.frombuffer(payload[:16], dtype=np.int64))
        codec.check_size(cls.kind, payload, 16 + 16 * size)
        keys = np.frombuffer(payload[16:16 + 8 * size], dtype=np.int64)
        vals = np.frombuffer(payload[16 + 8 * size:], dtype=np.int64)
        return cls(dict(zip(keys.tolist(), vals.tolist())), int(params["k"]), n)
