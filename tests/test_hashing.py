"""Hash-primitive exactness gates.

SplitMix64 is checked against the published test vectors (Vigna's reference
implementation, seed 0) — the same stream Zig's std.Random.SplitMix64
produces, which the reference's construction-seed sequences depend on
(src/xorf.zig:134, src/ribbon.zig:61,208). Murmur2-64 is checked
for vectorized/scalar agreement and algebraic properties.
"""

import numpy as np

from filterz_spark.hashing import (
    murmur64_mix, reduce32, splitmix64, splitmix64_array,
)

# first outputs of SplitMix64(seed=0), Vigna reference implementation
SPLITMIX64_SEED0 = [
    0xE220A8397B1DCDAF, 0x6E789E6AA1B965F4, 0x06C45D188009454F,
]


def test_splitmix64_published_vectors():
    assert [int(x) for x in splitmix64_array(0, 3)] == SPLITMIX64_SEED0


def test_splitmix64_scalar_vector_agree():
    """The vectorized stream equals a scalar transliteration of Vigna's
    ``next()`` (state += gamma, then the finalizer), and the finalizer
    gives the same word for a scalar and an array argument."""
    mask = (1 << 64) - 1
    for seed in (0, 12, 0x726B2B9D438B9D4D, mask):
        state, scalars = seed, []
        for _ in range(100):
            state = (state + 0x9E3779B97F4A7C15) & mask
            z = ((state ^ (state >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
            scalars.append(z ^ (z >> 31))
        stream = splitmix64_array(seed, 100)
        assert scalars == [int(x) for x in stream]
        assert int(splitmix64(seed)) == scalars[0] == int(stream[0])


def test_murmur64_mix_properties():
    h = splitmix64_array(5, 10_000)
    a = murmur64_mix(h, 42)
    b = murmur64_mix(h, 43)
    # distinct seeds decorrelate; same seed is a pure function
    assert (a != b).mean() > 0.999
    assert (murmur64_mix(h, 42) == a).all()
    # uniform-ish: high bit set ~half the time
    assert 0.45 < (a >> np.uint64(63)).mean() < 0.55


def test_murmur64_mix_scalar_reference():
    """Cross-check the vectorized Murmur2-64 against a direct scalar
    transliteration of Zig std.hash.Murmur2_64.hashUint64WithSeed."""
    M = 0xC6A4A7935BD1E995
    MASK = (1 << 64) - 1

    def scalar(v, seed):
        h = (seed ^ ((8 * M) & MASK)) & MASK
        k = (v * M) & MASK
        k ^= k >> 47
        k = (k * M) & MASK
        h ^= k
        h = (h * M) & MASK
        h ^= h >> 47
        h = (h * M) & MASK
        h ^= h >> 47
        return h

    vals = splitmix64_array(9, 200)
    got = murmur64_mix(vals, 0xDEADBEEF)
    for v, g in zip(vals, got):
        assert scalar(int(v), 0xDEADBEEF) == int(g)


def test_reduce32_range():
    x = splitmix64_array(7, 10_000) & np.uint64(0xFFFFFFFF)
    for length in (1, 7, 1000, 1 << 20):
        r = reduce32(length, x)
        assert r.max() < length and r.min() >= 0
