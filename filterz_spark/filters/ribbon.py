"""Standard Ribbon filter with "smash" — C construction + probe (``filterz_spark.native``).

Semantics mirror the reference (steelcake/filterz ``src/ribbon.zig``; paper
arXiv:2103.02515):

- start position with smash: ``min(n-1, reduce(n + 2W, h32) -| W)``,
  ``W = coeff_bits/8`` (ref src/ribbon.zig:9-17);
- coefficient row: u64 ``(seed ^ hash) | 1``; u32 truncated; u128 built from
  two multiply-mixed 64-bit halves with factors 0x876f170be4f1fcb9 /
  0xf0433a4aecda4c5f (ref src/ribbon.zig:19-35);
- expected result row: ``truncate((h' >> 32) ^ h')``, ``h' = seed ^ hash``
  (ref src/ribbon.zig:46-49);
- size: ``ceil(n * multiplier / 100) + coeff_bits - 1`` slots, multiplier swept
  103..140 (3-40% space overhead), 3 deterministic SplitMix64 seed tries per
  multiplier starting from seed 12 (ref src/ribbon.zig:37-39, :51-72, :208);
- incremental banded Gaussian elimination: XOR-eliminate each key's row into
  the first free slot, shifting by count-trailing-zeros on collision;
  inconsistency (coeff==0, result!=0) aborts the try (ref src/ribbon.zig:77-104);
- back-substitution bottom-up in the reference's bit-plane form
  (ref src/ribbon.zig:108-134).

Each (multiplier, seed) try and every probe batch run in
``native/kernels.c``; this module owns the sizing and seed sweep. Rows are
inserted in ascending start-position bucket order, which keeps elimination
cascades cache-local; solvability is order-independent and the order is
deterministic, so builds stay reproducible. Elimination is inherently
sequential per key, which is why at the Spark layer ribbon builds are
partition-parallel — each executor builds one section's filter, matching
the reference's one-filter-per-section model (src/bench.zig:240-249).

FPR ~= 2^-result_bits; zero false negatives; NOT mergeable (SURVEY.md §7.3).
"""

from __future__ import annotations

import math

import numpy as np

from .. import codec, native
from ..hashing import splitmix64_array

MIN_MULTIPLIER = 103  # ref src/ribbon.zig:52
MAX_MULTIPLIER = 140  # ref src/ribbon.zig:53
NUM_TRIES = 3  # ref src/ribbon.zig:67
INITIAL_SEED = 12  # ref src/ribbon.zig:208


class ConstructError(RuntimeError):
    pass


def _storage_dtype(result_bits: int):
    if result_bits <= 8:
        return np.uint8
    if result_bits <= 16:
        return np.uint16
    if result_bits <= 32:
        return np.uint32
    raise ValueError("result rows wider than 32 bits are unsupported (ref check_filter)")


def calculate_size(coeff_bits: int, num_hashes: int, multiplier: int) -> int:
    """ref src/ribbon.zig:37-39."""
    return (num_hashes * multiplier + 99) // 100 + coeff_bits - 1


def _check_params(coeff_bits: int, result_bits: int) -> None:
    """Reject row widths the kernels do not implement."""
    if coeff_bits not in (32, 64, 128):
        raise ValueError(f"ribbon coeff_bits must be 32, 64 or 128, got {coeff_bits}")
    if not 1 <= result_bits <= 32:
        raise ValueError(f"ribbon result_bits must be in 1..32, got {result_bits}")


def _start_multiplier(coeff_bits: int, n: int) -> int:
    """First space multiplier of the sweep.

    Size-aware warm start (deviation from the reference's fixed 103 start,
    src/ribbon.zig:52, justified by measurement): for w=64 the first
    SUCCEEDING multiplier grows with n (104 @ 50k, 106 @ 200k, 109 @ 800k),
    and starting below it just burns full elimination passes. The sweep
    beyond the start is unchanged, so results stay deterministic per input
    and the adaptive-space property is preserved up to ~1% of slots.
    """
    if coeff_bits <= 64 and n > 35_000:
        return min(MAX_MULTIPLIER,
                   MIN_MULTIPLIER + round(1.5 * math.log2(n / 35_000)))
    if coeff_bits == 128 and n > 300_000:
        # u128 at 103 succeeds on only ~45% of seeds at n=625k (measured
        # over 20 key sets; 104 -> 85%, 105 -> 95%), and every failed seed
        # burns most of a full elimination pass — ~40% of the build wall in
        # expectation. One extra percent of slots buys back that pass.
        return MIN_MULTIPLIER + 1
    return MIN_MULTIPLIER


def construct(hashes: np.ndarray, coeff_bits: int, result_bits: int):
    """Banded Gaussian elimination + back-substitution over the
    (multiplier, seed) sweep.

    Returns (seed, solution_matrix ndarray). Raises ConstructError if every
    (multiplier, seed) combination fails (ref src/ribbon.zig:136-138) — a real
    code path the Spark layer must handle with partition re-split.
    """
    _check_params(coeff_bits, result_bits)
    harr = np.asarray(hashes, dtype=np.uint64)
    n = int(harr.size)
    multipliers = range(_start_multiplier(coeff_bits, n), MAX_MULTIPLIER + 1)
    seeds = splitmix64_array(INITIAL_SEED, len(multipliers) * NUM_TRIES)
    for multiplier, tries in zip(multipliers, seeds.reshape(-1, NUM_TRIES)):
        size = calculate_size(coeff_bits, n, multiplier)
        sol = np.empty(size, dtype=np.uint64)
        for seed in map(int, tries):
            if native.ribbon_attempt(harr, seed, size, coeff_bits,
                                     result_bits, sol):
                return seed, sol.astype(_storage_dtype(result_bits))
            # inconsistent system -> next seed

    raise ConstructError(
        f"ribbon construction failed for n={n} coeff_bits={coeff_bits} "
        f"(multipliers {MIN_MULTIPLIER}..{MAX_MULTIPLIER} x {NUM_TRIES} seeds)"
    )


def contains(solution: np.ndarray, seed: int, coeff_bits: int, result_bits: int,
             num_keys: int, hashes: np.ndarray) -> np.ndarray:
    """Batch probe (ref src/ribbon.zig:141-192)."""
    if hashes.size == 0:
        return np.zeros(0, dtype=bool)
    if num_keys == 0:
        return np.zeros(hashes.size, dtype=bool)
    _check_params(coeff_bits, result_bits)
    return native.ribbon_contains(solution, seed, coeff_bits, result_bits,
                                  np.asarray(hashes, dtype=np.uint64))


class RibbonFilter:
    """Build-once ribbon filter (ref Filter(CoeffRow, ResultRow), src/ribbon.zig:198-235)."""

    kind = "ribbon"

    def __init__(self, solution: np.ndarray, seed: int, coeff_bits: int,
                 result_bits: int, num_keys: int) -> None:
        self.solution = solution
        self.seed = seed
        self.coeff_bits = coeff_bits
        self.result_bits = result_bits
        self.num_keys = num_keys

    @classmethod
    def build(cls, hashes: np.ndarray, coeff_bits: int = 64, result_bits: int = 16) -> "RibbonFilter":
        seed, solution = construct(hashes, coeff_bits, result_bits)
        return cls(solution, seed, coeff_bits, result_bits, int(hashes.size))

    def check(self, hashes: np.ndarray) -> np.ndarray:
        return contains(self.solution, self.seed, self.coeff_bits,
                        self.result_bits, self.num_keys, hashes)

    def mem_usage(self) -> int:
        return self.solution.size * self.solution.dtype.itemsize

    def ideal_mem_usage(self) -> int:
        return self.num_keys * self.result_bits // 8

    def params(self) -> dict:
        return {
            "coeff_bits": str(self.coeff_bits),
            "result_bits": str(self.result_bits),
            "num_keys": str(self.num_keys),
            "seed": str(self.seed),
            "size": str(self.solution.shape[0]),
        }

    def serialize(self) -> bytes:
        return codec.encode(self.solution)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "RibbonFilter":
        result_bits = int(params["result_bits"])
        sol = codec.decode(cls.kind, payload, _storage_dtype(result_bits),
                           int(params["size"]))
        return cls(sol, int(params["seed"]), int(params["coeff_bits"]),
                   result_bits, int(params["num_keys"]))
