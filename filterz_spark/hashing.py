"""Hash primitives shared by the sketches and the filter seed sequences.

All functions are pure, vectorized numpy transforms over ``uint64`` arrays —
no per-row Python. Semantics mirror the reference library's hash chain
(steelcake/filterz):

- SplitMix64 seed sequence: reference ``src/xorf.zig:134`` and
  ``src/ribbon.zig:61`` draw construction seeds from ``std.Random.SplitMix64``;
  we reproduce the same sequence bit-exactly so builds are deterministic and
  resumable.
- Murmur2-64 re-seed: reference ``src/xorf.zig:7-9`` (``apply_seed``) re-seeds
  a u64 key hash with ``std.hash.Murmur2_64.hashUint64WithSeed``; reproduced
  bit-exactly below (and in ``native/kernels.c``, which the filters run).
- Multiply-shift range reduction: reference ``src/sbbf.zig:28-30``,
  ``src/xorf.zig:15-17``, ``src/ribbon.zig:5-7`` — ``(len * x32) >> 32``,
  no division/modulo.

Key->u64 hashing at the Spark layer uses the JVM built-in ``xxhash64``
(XxHash64); the reference uses XxHash3 (``src/bench.zig:10``). The filter
properties (zero false negatives, FPR bound) are hash-agnostic, so we keep
the zero-per-row-Python built-in and document the deviation (SURVEY.md §7.5).
"""

from __future__ import annotations

import numpy as np

# SplitMix64 constants (public domain, Vigna 2015; same as Zig std.Random.SplitMix64)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_MUL1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_MUL2 = np.uint64(0x94D049BB133111EB)

# Murmur2-64 multiplier (Appleby, public domain; Zig std.hash.Murmur2_64)
_M2_M = np.uint64(0xC6A4A7935BD1E995)
# seed ^ (len * m) initial mix for len=8, precomputed mod 2^64
_M2_LEN_MUL = np.uint64((8 * 0xC6A4A7935BD1E995) & 0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """The SplitMix64 finalizer of ``x + gamma`` (the generator's output
    from state ``x``), over any integer scalar or array read as u64.
    The package's one copy of the finalizer."""
    with np.errstate(over="ignore"):  # u64 wraparound is the algorithm
        z = np.asarray(x).astype(np.uint64, copy=False) + _SM_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM_MUL1
        z = (z ^ (z >> np.uint64(27))) * _SM_MUL2
        return z ^ (z >> np.uint64(31))


def splitmix64_array(seed: int, n: int) -> np.ndarray:
    """First ``n`` outputs of SplitMix64(seed) as a uint64 array.

    Bit-exact to Zig ``std.Random.SplitMix64``. Its state advances by a
    constant gamma, so output ``i`` is ``splitmix64(seed + i*gamma)``:
    the construction-seed sequences draw from it, xor filter seeds from
    0x726b2b9d438b9d4d (ref src/xorf.zig:134), ribbon seeds from 12
    (ref src/ribbon.zig:208).
    """
    return splitmix64(np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
                      + np.arange(n, dtype=np.uint64) * _SM_GAMMA)


def murmur64_mix(hashes: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized Murmur2-64 of a u64 value with seed.

    Bit-exact to Zig ``std.hash.Murmur2_64.hashUint64WithSeed`` as used by the
    reference's ``apply_seed`` (src/xorf.zig:7-9): 8-byte input, one k-round.
    """
    h = np.uint64(seed) ^ _M2_LEN_MUL
    k = hashes.astype(np.uint64, copy=True)
    k *= _M2_M
    k ^= k >> np.uint64(47)
    k *= _M2_M
    h = h ^ k
    h = h * _M2_M
    h ^= h >> np.uint64(47)
    h *= _M2_M
    h ^= h >> np.uint64(47)
    return h


def reduce32(length: int, x32: np.ndarray) -> np.ndarray:
    """Multiply-shift range reduction of 32-bit values into [0, length).

    ``(length * x) >> 32`` on u64 — reference src/xorf.zig:15-17,
    src/sbbf.zig:28-30, src/ribbon.zig:5-7. Uniform, branch-free, no modulo.
    """
    return (np.uint64(length) * x32.astype(np.uint64)) >> np.uint64(32)
