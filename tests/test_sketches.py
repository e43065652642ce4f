"""Mergeable-sketch tests (north-rule gates, SURVEY.md §5 / FIXTURES.md §5):

- estimates within published error bounds vs exact ground truth;
- merge associativity & commutativity: bit-identical serialized state across
  aggregation orders for Bloom/HLL/CMS; bounded-error equivalence for
  t-digest/KLL (order-dependent state, order-independent guarantees);
- serialize/deserialize round-trips.
"""

import functools
import random

import numpy as np
import pytest

from filterz_spark.filters import FILTER_KINDS
from filterz_spark.hashing import splitmix64_array
from filterz_spark.sketches import (
    SKETCH_KINDS, BloomSketch, CmsSketch, HllSketch, KllSketch, TDigestSketch,
)


def _tree_merge(parts):
    return functools.reduce(lambda a, b: a.merge(b), parts)


class TestHll:
    def test_estimate_within_bound(self):
        for true_n in (1_000, 50_000, 500_000):
            h = splitmix64_array(true_n, true_n)
            s = HllSketch.zero(p=14)
            s.update(h)
            err = abs(s.estimate() - true_n) / true_n
            assert err < 3 * s.std_error(), (true_n, err)

    def test_merge_bit_identical_any_order(self):
        h = splitmix64_array(7, 100_000)
        whole = HllSketch.zero(p=12)
        whole.update(h)
        parts = []
        for i in range(16):
            s = HllSketch.zero(p=12)
            s.update(h[i::16])
            parts.append(s)
        left = _tree_merge(parts)
        rng = random.Random(99)
        shuffled = parts[:]
        rng.shuffle(shuffled)
        right = _tree_merge(shuffled)
        assert left.serialize() == right.serialize() == whole.serialize()

    def test_roundtrip(self):
        s = HllSketch.zero(p=10)
        s.update(splitmix64_array(3, 10_000))
        t = HllSketch.deserialize(s.serialize(), s.params())
        assert t.estimate() == s.estimate()


class TestCms:
    def test_point_query_bound(self):
        # skewed frequencies (Zipf-ish), error <= eps*N always (one-sided)
        keys = splitmix64_array(11, 1000)
        counts = (100_000 / np.arange(1, 1001) ** 1.2).astype(np.int64) + 1
        s = CmsSketch.zero(depth=5, width=2048)
        s.update(keys, counts)
        est = s.query(keys)
        assert (est >= counts).all(), "CMS must never underestimate"
        assert (est <= counts + s.error_bound()).all()

    def test_merge_bit_identical_any_order(self):
        keys = splitmix64_array(13, 5000)
        parts = []
        for i in range(8):
            s = CmsSketch.zero(depth=4, width=1024)
            s.update(keys[i::8])
            parts.append(s)
        a = _tree_merge(parts)
        shuffled = parts[::-1]
        b = _tree_merge(shuffled)
        assert a.serialize() == b.serialize()

    def test_roundtrip(self):
        s = CmsSketch.zero(depth=4, width=512)
        s.update(splitmix64_array(17, 1000))
        t = CmsSketch.deserialize(s.serialize(), s.params())
        assert (t.table == s.table).all() and t.total == s.total


class TestBloom:
    def test_zero_fn_and_fpr(self):
        h = splitmix64_array(19, 50_000)
        s = BloomSketch.zero(capacity=50_000, bits_per_key=16)
        s.update(h)
        assert s.contains(h).all(), "false negative"
        absent = np.setdiff1d(splitmix64_array(23, 250_000), h)[:204_800]
        fpr = s.contains(absent).mean()
        assert fpr <= 4 * s.fpr_bound()  # split-block factor (see test_filters)

    def test_merge_bit_identical_any_order(self):
        h = splitmix64_array(29, 20_000)
        whole = BloomSketch.zero(capacity=20_000, bits_per_key=16)
        whole.update(h)
        parts = []
        for i in range(4):
            s = BloomSketch.zero(capacity=20_000, bits_per_key=16)
            s.update(h[i::4])
            parts.append(s)
        a = _tree_merge(parts)
        b = _tree_merge(parts[::-1])
        assert a.serialize() == b.serialize() == whole.serialize()


class TestTDigest:
    QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)

    def _rank_err(self, data_sorted, est, q):
        rank = np.searchsorted(data_sorted, est) / data_sorted.size
        return abs(rank - q)

    @pytest.mark.parametrize("dist", ["uniform", "lognormal", "bimodal"])
    def test_rank_error(self, dist):
        rng = np.random.default_rng(42)
        if dist == "uniform":
            data = rng.uniform(0, 1, 200_000)
        elif dist == "lognormal":
            data = rng.lognormal(0, 1.5, 200_000)
        else:
            data = np.concatenate([rng.normal(0, 1, 100_000), rng.normal(50, 1, 100_000)])
        s = TDigestSketch.zero(delta=200)
        for chunk in np.array_split(data, 13):
            s.update(chunk)
        ds = np.sort(data)
        for q in self.QS:
            assert self._rank_err(ds, s.quantile(q), q) < 0.01, (dist, q)

    def test_merge_holds_bound_any_order(self):
        rng = np.random.default_rng(7)
        data = rng.exponential(2.0, 120_000)
        ds = np.sort(data)
        parts = []
        for i in range(12):
            s = TDigestSketch.zero(delta=200)
            s.update(data[i::12])
            parts.append(s)
        for order in (parts, parts[::-1]):
            m = _tree_merge(order)
            for q in self.QS:
                assert self._rank_err(ds, m.quantile(q), q) < 0.015

    def test_roundtrip(self):
        s = TDigestSketch.zero(delta=100)
        s.update(np.arange(1000, dtype=np.float64))
        t = TDigestSketch.deserialize(s.serialize(), s.params())
        assert t.quantile(0.5) == s.quantile(0.5)


class TestKll:
    def test_rank_error(self):
        rng = np.random.default_rng(2024)
        data = rng.lognormal(0, 1, 200_000)
        s = KllSketch.zero(k=200)
        for chunk in np.array_split(data, 20):
            s.update(chunk)
        ds = np.sort(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = s.quantile(q)
            rank = np.searchsorted(ds, est) / ds.size
            assert abs(rank - q) < 0.025, q  # ~3x the 1/k nominal eps

    def test_merge_holds_bound_any_order(self):
        rng = np.random.default_rng(5)
        data = rng.uniform(0, 100, 100_000)
        ds = np.sort(data)
        parts = []
        for i in range(8):
            s = KllSketch.zero(k=200)
            s.update(data[i::8])
            parts.append(s)
        for order in (parts, parts[::-1]):
            m = _tree_merge(order)
            for q in (0.1, 0.5, 0.9):
                est = m.quantile(q)
                rank = np.searchsorted(ds, est) / ds.size
                assert abs(rank - q) < 0.03

    def test_roundtrip(self):
        s = KllSketch.zero(k=128)
        s.update(np.arange(50_000, dtype=np.float64))
        t = KllSketch.deserialize(s.serialize(), s.params())
        assert t.quantile(0.3) == s.quantile(0.3) and t.n == s.n

    def test_space_sublinear(self):
        s = KllSketch.zero(k=200)
        s.update(np.arange(500_000, dtype=np.float64))
        stored = sum(lv.size for lv in s.levels)
        assert stored < 5_000, stored  # O((1/eps) sqrt(log 1/eps)) items


class TestTheta:
    """Theta/KMV sketch: distinct counting + set algebra (union/intersect/
    difference), published bound ~1/sqrt(k-2) once saturated, exact below k."""

    def _mk(self, seed, n, k=1024):
        from filterz_spark.sketches import ThetaSketch
        from filterz_spark.hashing import splitmix64_array
        s = ThetaSketch.zero(k=k)
        s.update(splitmix64_array(seed, n).view(np.int64))
        return s

    def test_exact_regime_below_k(self):
        s = self._mk(1, 500, k=1024)
        assert s.estimate() == 500.0
        assert s.std_error() == 0.0

    def test_saturated_within_bound(self):
        from filterz_spark.hashing import splitmix64_array
        from filterz_spark.sketches import ThetaSketch
        n = 200_000
        s = ThetaSketch.zero(k=4096)
        s.update(splitmix64_array(3, n).view(np.int64))
        rel = abs(s.estimate() - n) / n
        assert rel <= 3 / np.sqrt(4094), rel  # 3 sigma of 1/sqrt(k-2)

    def test_merge_bit_identical_any_order(self):
        from filterz_spark.sketches import ThetaSketch
        from filterz_spark.hashing import splitmix64_array
        parts = [splitmix64_array(i, 30_000).view(np.int64) for i in range(6)]
        def build(order):
            sks = []
            for i in order:
                s = ThetaSketch.zero(k=2048)
                s.update(parts[i])
                sks.append(s)
            acc = sks[0]
            for s in sks[1:]:
                acc = acc.merge(s)
            return acc
        a = build([0, 1, 2, 3, 4, 5])
        b = build([5, 3, 1, 4, 0, 2])
        assert a.theta == b.theta
        assert a.serialize() == b.serialize()
        # repartitioned: one big update == many small updates then merge
        c = ThetaSketch.zero(k=2048)
        c.update(np.concatenate(parts))
        assert c.serialize() == a.serialize()

    def test_set_algebra_accuracy(self):
        from filterz_spark.sketches import ThetaSketch
        from filterz_spark.hashing import splitmix64_array
        # A = [0, 120k), B = [60k, 180k) of the same stream -> |A∩B| = 60k
        stream = splitmix64_array(9, 180_000)
        a = ThetaSketch.zero(k=4096); a.update(stream[:120_000].view(np.int64))
        b = ThetaSketch.zero(k=4096); b.update(stream[60_000:].view(np.int64))
        tol = 5 / np.sqrt(4094)
        assert abs(a.merge(b).estimate() - 180_000) / 180_000 <= tol
        assert abs(a.intersect_estimate(b) - 60_000) / 60_000 <= tol
        assert abs(a.a_not_b_estimate(b) - 60_000) / 60_000 <= tol

    def test_serde_roundtrip(self):
        from filterz_spark.sketches import ThetaSketch
        s = self._mk(2, 5000, k=1024)
        t = ThetaSketch.deserialize(s.serialize(), s.params())
        assert t.estimate() == s.estimate()
        assert t.merge(self._mk(4, 5000, k=1024)).serialize() == \
               s.merge(self._mk(4, 5000, k=1024)).serialize()

    def test_distributed_tree_merge_exact_regime(self, spark):
        from filterz_spark.spark.merge import sketch_column
        from pyspark.sql import functions as F
        df = spark.range(3000).select((F.col("id") % 977).alias("u"))
        s = sketch_column(df, "u", "theta", {"k": 4096})
        assert s.estimate() == 977.0


class TestThetaJaccard:
    def test_jaccard_exact_in_sub_k_regime(self):
        from filterz_spark.sketches import ThetaSketch
        a = ThetaSketch.zero(k=4096)
        b = ThetaSketch.zero(k=4096)
        ha = splitmix64_array(1, 600)
        hb = np.concatenate([ha[:200], splitmix64_array(2, 400)])
        a.update(ha)
        b.update(hb)
        # |A|=600, |B|=600, |A∩B|=200, |A∪B|=1000 — all below k: exact
        assert a.jaccard_estimate(b) == 200 / 1000
        empty = ThetaSketch.zero(k=4096)
        assert empty.jaccard_estimate(empty) == 0.0


class TestCdfRank:
    def test_tdigest_cdf_inverse_of_quantile(self):
        from filterz_spark.sketches import TDigestSketch
        rng = np.random.default_rng(5)
        data = rng.lognormal(0, 1.2, 150_000)
        s = TDigestSketch.zero(delta=200)
        for chunk in np.array_split(data, 9):
            s.update(chunk)
        ds = np.sort(data)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            x = np.quantile(data, q)
            est = s.cdf(float(x))
            true_rank = np.searchsorted(ds, x) / ds.size
            assert abs(est - true_rank) < 0.01, (q, est, true_rank)
        assert s.cdf(float(ds[0]) - 1) == 0.0
        assert s.cdf(float(ds[-1]) + 1) == 1.0
        # cdf(quantile(q)) ~ q (round-trip consistency of the two paths)
        for q in (0.1, 0.5, 0.9):
            assert abs(s.cdf(s.quantile(q)) - q) < 0.01, q

    def test_kll_rank_bound(self):
        from filterz_spark.sketches import KllSketch
        rng = np.random.default_rng(6)
        data = rng.uniform(0, 100, 150_000)
        s = KllSketch.zero(k=200)
        for chunk in np.array_split(data, 7):
            s.update(chunk)
        ds = np.sort(data)
        for q in (0.05, 0.25, 0.5, 0.75, 0.95):
            x = float(np.quantile(data, q))
            true_rank = np.searchsorted(ds, x) / ds.size
            assert abs(s.rank(x) - true_rank) < 0.02, q


class TestMisraGries:
    def test_exact_below_k_distinct(self):
        from filterz_spark.sketches import MisraGriesSketch
        keys = np.repeat(np.arange(5, dtype=np.int64), [50, 40, 30, 20, 10])
        s = MisraGriesSketch.zero(k=8)
        s.update(keys)
        for key, want in zip(range(5), [50, 40, 30, 20, 10]):
            assert s.estimate(key) == want  # never compacts: exact

    def test_bound_holds_under_any_merge_order(self):
        from filterz_spark.sketches import MisraGriesSketch
        rng = np.random.default_rng(11)
        # zipf stream: few heavy keys over a long tail
        data = (rng.zipf(1.3, 200_000) % 10_000).astype(np.int64)
        true = {int(key): int(c) for key, c in
                zip(*np.unique(data, return_counts=True))}
        parts = []
        for i in range(16):
            s = MisraGriesSketch.zero(k=64)
            s.update(data[i::16])
            parts.append(s)
        for order in (parts, parts[::-1], parts[5:] + parts[:5]):
            m = functools.reduce(lambda a, b: a.merge(b), order)
            assert m.n == data.size and len(m.counters) < 64
            bound = m.error_bound()
            for key, est in m.counters.items():
                f = true.get(key, 0)
                assert f - bound <= est <= f, (key, est, f)
            # every item above N/k is present (the find guarantee)
            for key, f in true.items():
                if f > bound:
                    assert key in m.counters, (key, f, bound)

    def test_roundtrip_and_weighted_update(self):
        from filterz_spark.sketches import MisraGriesSketch
        s = MisraGriesSketch.zero(k=16)
        s.update(np.array([1, 2, 1], dtype=np.int64))
        s.update(np.array([3, 1], dtype=np.int64),
                 np.array([5, 2], dtype=np.int64))
        t = MisraGriesSketch.deserialize(s.serialize(), s.params())
        assert t.counters == s.counters == {1: 4, 2: 1, 3: 5} and t.n == 10
        assert s.heavy_hitters(4) == {1: 4, 3: 5}


# small params so every kind holds a real, non-trivial state
_SMALL_PARAMS = {"bloom": {"capacity": 1000}, "hll": {"p": 10},
                 "cms": {"depth": 3, "width": 64}, "theta": {"k": 64},
                 "mg": {"k": 16}}


@pytest.mark.parametrize("kind", sorted({**SKETCH_KINDS, **FILTER_KINDS}))
def test_payload_length_must_match_params(kind):
    """A payload with trailing or missing bytes is corrupt or mislabelled:
    deserialize must raise, never decode it into a different state or
    hand a short array to a filter probe. Deltas of one u64 word and of
    one 64-byte SBBF block, for every filter and sketch kind."""
    h = splitmix64_array(5, 2000)
    if kind in FILTER_KINDS:
        cls = FILTER_KINDS[kind]
        s = cls.build(np.unique(h))
    else:
        cls = SKETCH_KINDS[kind]
        s = cls.zero(**_SMALL_PARAMS.get(kind, {}))
        s.update(np.random.default_rng(5).normal(size=2000)
                 if kind in ("kll", "tdigest") else h)
    payload, params = s.serialize(), s.params()
    assert cls.deserialize(payload, params).serialize() == payload
    for delta in (8, 64):
        for bad in (payload + bytes(delta), payload[:-delta]):
            with pytest.raises(ValueError, match=f"{kind} payload is"):
                cls.deserialize(bad, params)


@pytest.mark.parametrize("kind,params", [("tdigest", {"delta": 50}),
                                         ("kll", {"k": 32})])
def test_merge_group_folds_in_partition_order(kind, params):
    """t-digest/KLL merges depend on order, so an executor merge round
    must fold a group's states in partition_id order, whatever order the
    shuffle delivers them in (a retried task must give the same state)."""
    import json

    import pyarrow as pa

    from filterz_spark.spark.merge import _fold, _merge_group

    rng = np.random.default_rng(11)
    rows = []
    for pid in range(5):
        s = SKETCH_KINDS[kind].zero(**params)
        s.update(rng.lognormal(pid, 1.0 + pid, size=3000))
        rows.append({"g": 7, "partition_id": pid, "kind": kind,
                     "params": json.dumps(s.params()),
                     "payload": s.serialize()})
    ordered = pa.Table.from_pylist(rows)
    backward = ordered.take(list(range(4, -1, -1)))

    def fold(t):
        return _fold(kind, t["payload"].to_pylist(), t["params"].to_pylist())

    # the fold itself is order-dependent for these states ...
    assert fold(backward).serialize() != fold(ordered).serialize()
    # ... and the merge round removes the arrival order
    a = _merge_group(ordered)
    b = _merge_group(backward)
    assert a.num_rows == b.num_rows == 1
    assert a["payload"][0].as_py() == b["payload"][0].as_py() \
        == fold(ordered).serialize()
    assert a["g"][0].as_py() == b["g"][0].as_py() == 7
