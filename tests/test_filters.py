"""Filter kernel tests mirroring the reference's strategy (SURVEY.md §5):

- the 28-config matrix from /root/reference/src/tests.zig:97-126 via
  parametrize (odd fingerprint/result widths included);
- ``empty``: zero-key build must succeed (ref src/tests.zig:8-11);
- ``failing``: the fixed 42-hash regression vector probes all-true
  (ref src/tests.zig:13-21);
- ``smoke``: 10k seeded hashes, ZERO false negatives — the core invariant
  (ref src/tests.zig:23-40, src/fuzz.zig:55-57);
- measured FPR within the structure's published bound with Poisson-aware
  tolerance at 204,800 probes (BASELINE.md);
- bits-per-key within the reference's measured construction factors;
- serialize/deserialize round-trip preserves probe results.
"""

import numpy as np
import pytest

from conftest import REGRESSION_HASHES
from filterz_spark.filters import SbbfFilter, XorFilter, RibbonFilter
from filterz_spark.hashing import splitmix64_array

# (label, build_fn, fpr_bound, fpr_note)
# fpr bounds: xor/binary-fuse & ribbon ~ 2^-bits (BASELINE.md); sbbf uses the
# classic (1-e^{-kn/m})^k with k=8 lanes times a 4x split-block factor — the
# reference's own sbbf24 measures 1.42e-4 vs 4.2e-5 classic, i.e. ~3.4x
# (split-block trades FPR for one-cache-line probes; Parquet spec behavior).
def _sbbf_bound(bpk):
    classic = (1.0 - np.exp(-8.0 / bpk)) ** 8
    return 4.0 * classic


CONFIGS = [
    # sbbf bpk in {8,10,16} (ref tests.zig:98-100) + benchmarked 24 (bench.zig:135)
    ("sbbf8", lambda h: SbbfFilter.build(h, 8), _sbbf_bound(8)),
    ("sbbf10", lambda h: SbbfFilter.build(h, 10), _sbbf_bound(10)),
    ("sbbf16", lambda h: SbbfFilter.build(h, 16), _sbbf_bound(16)),
    ("sbbf24", lambda h: SbbfFilter.build(h, 24), _sbbf_bound(24)),
    # xorf (fingerprint, arity) matrix (ref tests.zig:101-109)
    ("xorf3_u16", lambda h: XorFilter.build(h, 3, 16), 2.0 ** -16),
    ("xorf4_u16", lambda h: XorFilter.build(h, 4, 16), 2.0 ** -16),
    ("xorf3_u8", lambda h: XorFilter.build(h, 3, 8), 2.0 ** -8),
    ("xorf4_u8", lambda h: XorFilter.build(h, 4, 8), 2.0 ** -8),
    ("xorf3_u32", lambda h: XorFilter.build(h, 3, 32), 2.0 ** -32),
    ("xorf4_u32", lambda h: XorFilter.build(h, 4, 32), 2.0 ** -32),
    ("xorf4_u9", lambda h: XorFilter.build(h, 4, 9), 2.0 ** -9),
    ("xorf3_u10", lambda h: XorFilter.build(h, 3, 10), 2.0 ** -10),
    ("xorf4_u7", lambda h: XorFilter.build(h, 4, 7), 2.0 ** -7),
    # ribbon (coeff, result) matrix (ref tests.zig:110-125)
    ("ribbon64_u8", lambda h: RibbonFilter.build(h, 64, 8), 2.0 ** -8),
    ("ribbon64_u16", lambda h: RibbonFilter.build(h, 64, 16), 2.0 ** -16),
    ("ribbon64_u32", lambda h: RibbonFilter.build(h, 64, 32), 2.0 ** -32),
    ("ribbon64_u10", lambda h: RibbonFilter.build(h, 64, 10), 2.0 ** -10),
    ("ribbon64_u11", lambda h: RibbonFilter.build(h, 64, 11), 2.0 ** -11),
    ("ribbon64_u12", lambda h: RibbonFilter.build(h, 64, 12), 2.0 ** -12),
    ("ribbon64_u20", lambda h: RibbonFilter.build(h, 64, 20), 2.0 ** -20),
    ("ribbon64_u7", lambda h: RibbonFilter.build(h, 64, 7), 2.0 ** -7),
    ("ribbon128_u8", lambda h: RibbonFilter.build(h, 128, 8), 2.0 ** -8),
    ("ribbon128_u16", lambda h: RibbonFilter.build(h, 128, 16), 2.0 ** -16),
    ("ribbon128_u32", lambda h: RibbonFilter.build(h, 128, 32), 2.0 ** -32),
    ("ribbon128_u10", lambda h: RibbonFilter.build(h, 128, 10), 2.0 ** -10),
    ("ribbon128_u11", lambda h: RibbonFilter.build(h, 128, 11), 2.0 ** -11),
    ("ribbon128_u12", lambda h: RibbonFilter.build(h, 128, 12), 2.0 ** -12),
    ("ribbon128_u20", lambda h: RibbonFilter.build(h, 128, 20), 2.0 ** -20),
    ("ribbon128_u7", lambda h: RibbonFilter.build(h, 128, 7), 2.0 ** -7),
]

IDS = [c[0] for c in CONFIGS]


@pytest.mark.parametrize("label,build,bound", CONFIGS, ids=IDS)
def test_empty(label, build, bound):
    f = build(np.array([], dtype=np.uint64))
    # probing an empty filter must not crash; sbbf returns all-False
    f.check(np.array([1, 2, 3], dtype=np.uint64))


@pytest.mark.parametrize("label,build,bound", CONFIGS, ids=IDS)
def test_regression_vector(label, build, bound):
    f = build(REGRESSION_HASHES.copy())
    assert f.check(REGRESSION_HASHES).all(), "false negative on regression vector"


@pytest.mark.parametrize("label,build,bound", CONFIGS, ids=IDS)
def test_smoke_zero_false_negatives(label, build, bound, smoke_hashes):
    f = build(smoke_hashes)
    assert f.check(smoke_hashes).all(), "false negative"


@pytest.mark.parametrize("label,build,bound", CONFIGS, ids=IDS)
def test_fpr_within_bound(label, build, bound, smoke_hashes, absent_hashes):
    f = build(smoke_hashes)
    hits = int(f.check(absent_hashes).sum())
    n = absent_hashes.size
    expected = bound * n
    # Poisson-aware: hits <= expected + 4*sqrt(expected) + 4 (the reference's
    # own xorf3_16 run saw 5 hits vs 3.1 expected; BASELINE.md)
    limit = expected + 4.0 * np.sqrt(max(expected, 1.0)) + 4.0
    assert hits <= limit, f"{label}: {hits} hits vs limit {limit:.1f} ({n} probes)"


@pytest.mark.parametrize("label,build,bound", CONFIGS, ids=IDS)
def test_serialize_roundtrip(label, build, bound, smoke_hashes):
    f = build(smoke_hashes)
    g = type(f).deserialize(f.serialize(), f.params())
    assert g.check(smoke_hashes).all()
    probes = splitmix64_array(5555, 1000)
    assert (f.check(probes) == g.check(probes)).all()


def test_bits_per_key_vs_reference():
    """Construction overhead factors vs the reference's measured factors
    (BASELINE.md: xorf3 1.1478, xorf4 1.0858 at ~422k keys; ribbon 1.032;
    sbbf exact). Built at 100k keys where size factors are comparable."""
    h = np.unique(splitmix64_array(2024, 100_000))
    f = SbbfFilter.build(h, 24)
    assert f.mem_usage() / f.ideal_mem_usage() <= 1.001

    x3 = XorFilter.build(h, 3, 16)
    assert x3.mem_usage() / x3.ideal_mem_usage() <= 1.25  # factor grows at small n

    x4 = XorFilter.build(h, 4, 16)
    assert x4.mem_usage() / x4.ideal_mem_usage() <= 1.16

    r = RibbonFilter.build(h[:50_000], 64, 16)
    assert r.mem_usage() / r.ideal_mem_usage() <= 1.10  # adaptive 3-40%, expect ~3%


def test_sbbf_or_merge_equals_union(smoke_hashes):
    """SBBF is natively mergeable by OR (ref src/sbbf.zig:39-43)."""
    from filterz_spark.filters import sbbf

    n = smoke_hashes.size
    blocks_a = sbbf.empty_blocks(n, 16)
    blocks_b = sbbf.empty_blocks(n, 16)
    sbbf.insert(blocks_a, smoke_hashes[: n // 2])
    sbbf.insert(blocks_b, smoke_hashes[n // 2:])
    merged = sbbf.merge(blocks_a, blocks_b)
    whole = sbbf.empty_blocks(n, 16)
    sbbf.insert(whole, smoke_hashes)
    assert (merged == whole).all(), "OR-merge differs from single-shot build"


def test_xorf_construction_determinism(smoke_hashes):
    """Same input -> byte-identical filter (fixed SplitMix64 seed sequence,
    ref src/xorf.zig:134) — required for resumable builds."""
    a = XorFilter.build(smoke_hashes, 3, 16)
    b = XorFilter.build(smoke_hashes, 3, 16)
    assert a.serialize() == b.serialize() and a.header.seed == b.header.seed


def test_ribbon_construction_determinism(smoke_hashes):
    a = RibbonFilter.build(smoke_hashes[:5000], 64, 16)
    b = RibbonFilter.build(smoke_hashes[:5000], 64, 16)
    assert a.serialize() == b.serialize() and a.seed == b.seed


def test_xorf_single_key_and_duplicate_free_requirement():
    """size<=1 edge cases of calculate_header (ref src/xorf.zig:84-90)."""
    one = np.array([42], dtype=np.uint64)
    f = XorFilter.build(one, 3, 16)
    assert f.check(one).all()


class TestRibbonScalarVectorParity:
    def test_key_params_vec_matches_scalar_reference(self):
        """The vectorized (start, coeff, result) derivation must equal the
        readable scalar reference implementations for every coeff width —
        the oracle's build and probe (tests/filter_oracle.py) BOTH derive
        through _key_params_vec, so this pins the whole boundary-sensitive
        smash/clamp math the C kernels are checked against."""
        from filter_oracle import (_coeff_row_int, _key_params_vec,
                                   _result_row_int, _start_pos_int)
        from filterz_spark.hashing import splitmix64_array
        h = splitmix64_array(77, 500)
        for coeff_bits in (32, 64, 128):
            for n in (1, 2, 63, 64, 65, 1000):
                seed = 1469598103934665603 ^ n
                start, hi, lo, rr = _key_params_vec(coeff_bits, 16, seed, n, h)
                for i in range(0, 500, 37):
                    x = int(h[i])
                    assert start[i] == _start_pos_int(coeff_bits, seed, n, x)
                    cr = _coeff_row_int(coeff_bits, seed, x)
                    assert int(lo[i]) == cr & 0xFFFFFFFFFFFFFFFF or coeff_bits == 32
                    if coeff_bits == 32:
                        assert int(lo[i]) == cr
                    if coeff_bits == 128:
                        assert int(hi[i]) == cr >> 64
                    assert rr[i] == _result_row_int(16, seed, x)
