"""Xor / binary-fuse filter — C construction + probe (``filterz_spark.native``).

Semantics mirror the reference (steelcake/filterz ``src/xorf.zig``; paper
arXiv:2201.01174):

- re-seed each u64 key hash with Murmur2-64 (``apply_seed``, src/xorf.zig:7-9);
- fingerprint = ``truncate(h ^ (h >> 32))`` (src/xorf.zig:11-13);
- ``arity`` positions per key spread over consecutive segments
  (src/xorf.zig:29-40; see POSITION DEVIATION below);
- segment geometry from ``calculate_segment_length`` / ``calculate_size_factor``
  / ``calculate_header`` (src/xorf.zig:58-109) — reproduced exactly, including
  the 262144 segment cap and the empty/size<=1 edge cases;
- Las-Vegas construction: deterministic SplitMix64 seed sequence from
  0x726b2b9d438b9d4d, at most 100 attempts (src/xorf.zig:134-139);
- membership: ``fp(h) ^ fps[p0] ^ fps[p1] ^ fps[p2](^ fps[p3]) == 0``
  (src/xorf.zig:42-50). FPR <= 2^-fingerprint_bits; zero false negatives.

Construction and probe run in ``native/kernels.c``, whose peel IS the
reference's sequential queue peel (src/xorf.zig:167-193), with assignment in
reverse peel order (src/xorf.zig:199-216). Payloads are deterministic per
input, which resumable builds rely on; ``tests/filter_oracle.py``
transcribes the peel and checks the payload bytes.

POSITION DEVIATION (documented, correctness-preserving): the reference
derives the segment selector from reduce32 of the LOW 32 hash bits and the
in-segment offsets from 21-bit rotations of the same word (src/xorf.zig:29-40).
At several sizes (e.g. n=1500, n=8000) those bit windows overlap the
selector's dominant bits, construction peels only ~60% of keys, and ALL 100
seeds fail (measured; the reference's own tests only cover n=42 and n=10000
where the overlap is harmless; pinned by tests/test_subhash_deviation.py).
We keep the reference's geometry (calculate_header), seed discipline,
fingerprint and membership equation, but take positions from the published
binary-fuse derivation (arXiv:2201.01174): segment selector =
mulhi(h, segment_count_length) over the FULL 64 bits; offsets from an
18-bit-spaced (arity 3) / 12-bit-spaced (arity 4) window — independent of
the selector bits, so peeling succeeds with the paper's probability at
every size.

Fingerprint widths: 8/16/32-bit natively; odd widths (u7/u9/u10) are stored
widened with a bit mask — same behavior the reference documents as a
limitation (README.md:21-22).

xor filters are NOT mergeable (construction needs the whole key set) — at the
Spark layer they are partition-local structures probed with OR-over-partitions
semantics (ref src/bench.zig:228-233; SURVEY.md §7.3).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .. import codec, native
from ..hashing import splitmix64_array

SEED_SEQUENCE_INIT = 0x726B2B9D438B9D4D  # ref src/xorf.zig:134
MAX_ATTEMPTS = 100  # ref src/xorf.zig:137-139
SEGMENT_LENGTH_CAP = 262144  # ref src/xorf.zig:86


@dataclass
class Header:
    """Filter geometry (ref src/xorf.zig:19-27)."""

    seed: int
    size: int
    segment_length: int
    segment_length_mask: int
    segment_count: int
    segment_count_length: int
    array_length: int


def calculate_segment_length(arity: int, size: int) -> int:
    """ref src/xorf.zig:58-71."""
    if arity == 3:
        base = int(math.floor(math.log(size) / math.log(3.33) + 2.25))
    elif arity == 4:
        base = int(math.floor(math.log(size) / math.log(2.91) - 0.5))
    else:
        raise ValueError("only arity 3 and 4 are supported")
    # n=1 at arity 4 gives base=-1: the reference feeds that negative float
    # through @intFromFloat(u32) (UB in Zig, untested there); clamp to the
    # same minimum segment the size==0 path uses (src/xorf.zig:84-87)
    return 1 << max(base, 2)


def calculate_size_factor(arity: int, size: int) -> float:
    """ref src/xorf.zig:73-80."""
    if arity == 3:
        return max(1.125, 0.875 + 0.25 * math.log(1_000_000.0) / math.log(size))
    if arity == 4:
        return max(1.075, 0.77 + 0.305 * math.log(600_000.0) / math.log(size))
    raise ValueError("only arity 3 and 4 are supported")


def calculate_header(arity: int, num_keys: int) -> Header:
    """ref src/xorf.zig:82-109, including empty/size<=1 edge cases."""
    size = num_keys
    segment_length = min(
        4 if size == 0 else calculate_segment_length(arity, size),
        SEGMENT_LENGTH_CAP,
    )
    segment_length_mask = segment_length - 1
    size_factor = 0.0 if size <= 1 else calculate_size_factor(arity, size)
    capacity = 0 if size <= 1 else int(round(size * size_factor))
    init_segment_count = (capacity + segment_length - 1) // segment_length
    array_length_calc = init_segment_count * segment_length
    segment_count_calc = (array_length_calc + segment_length - 1) // segment_length
    if segment_count_calc <= arity - 1:
        segment_count = 1
    else:
        segment_count = segment_count_calc - (arity - 1)
    array_length = (segment_count + arity - 1) * segment_length
    segment_count_length = segment_count * segment_length
    return Header(
        seed=0,
        size=size,
        segment_length=segment_length,
        segment_length_mask=segment_length_mask,
        segment_count=segment_count,
        segment_count_length=segment_count_length,
        array_length=array_length,
    )


def _storage_dtype(fp_bits: int):
    if fp_bits <= 8:
        return np.uint8
    if fp_bits <= 16:
        return np.uint16
    if fp_bits <= 32:
        return np.uint32
    return np.uint64


def _check_params(arity: int, fp_bits: int) -> None:
    """Reject geometry the kernels do not implement."""
    if arity not in (3, 4):
        raise ValueError(f"xor filter arity must be 3 or 4, got {arity}")
    if not 1 <= fp_bits <= 64:
        raise ValueError(f"xor filter fp_bits must be in 1..64, got {fp_bits}")


def construct(hashes: np.ndarray, arity: int, fp_bits: int):
    """Las-Vegas queue-peel construction. Returns (header, fingerprints).

    Raises ConstructError after MAX_ATTEMPTS failed seeds
    (ref ConstructError, src/xorf.zig:52-56 — a real code path callers handle).
    """
    _check_params(arity, fp_bits)
    n = int(hashes.size)
    header = calculate_header(arity, n)
    hashes = hashes.astype(np.uint64, copy=False)
    # empty, not zeros: the kernel memsets fp_out itself before the (only)
    # assignment pass that runs on a full peel
    fp64 = np.empty(header.array_length, dtype=np.uint64)
    for seed in splitmix64_array(SEED_SEQUENCE_INIT, MAX_ATTEMPTS):
        header.seed = int(seed)
        peeled = native.xorf_attempt(
            hashes, header.seed, arity, header.segment_length,
            header.segment_count_length, header.array_length, fp_bits, fp64)
        if peeled == n:
            return header, fp64.astype(_storage_dtype(fp_bits))
        # 2-core non-empty -> retry with the next seed (ref :195-197)
    raise ConstructError(f"xor filter construction failed after {MAX_ATTEMPTS} seeds")


class ConstructError(RuntimeError):
    pass


def contains(header: Header, fingerprints: np.ndarray, arity: int, fp_bits: int,
             hashes: np.ndarray, _fp_u64: np.ndarray | None = None) -> np.ndarray:
    """Batch membership probe (ref src/xorf.zig:42-50).

    An empty filter needs no special casing: its fingerprint array is all
    zero, so the reference equation matches exactly when the mixed hash's
    fingerprint truncates to 0. ``_fp_u64``: caller-cached u64 widening of
    the fingerprint array for the kernel — without it each call pays a
    full-array widening copy (XorFilter.check caches it)."""
    if hashes.size == 0:
        return np.zeros(0, dtype=bool)
    _check_params(arity, fp_bits)
    wide = _fp_u64 if _fp_u64 is not None \
        else fingerprints.astype(np.uint64, copy=False)
    return native.xorf_contains(
        wide, header.seed, arity, header.segment_length,
        header.segment_count_length, fp_bits,
        hashes.astype(np.uint64, copy=False))


class XorFilter:
    """Build-once xor/binary-fuse filter (ref Filter(F, arity), src/xorf.zig:222-263)."""

    kind = "xorf"

    def __init__(self, header: Header, fingerprints: np.ndarray, arity: int,
                 fp_bits: int, num_keys: int) -> None:
        self.header = header
        self.fingerprints = fingerprints
        self.arity = arity
        self.fp_bits = fp_bits
        self.num_keys = num_keys

    @classmethod
    def build(cls, hashes: np.ndarray, arity: int = 3, fp_bits: int = 16) -> "XorFilter":
        header, fps = construct(hashes, arity, fp_bits)
        return cls(header, fps, arity, fp_bits, int(hashes.size))

    def check(self, hashes: np.ndarray) -> np.ndarray:
        if getattr(self, "_fp_u64", None) is None:
            # widen ONCE per filter: the kernel reads u64 slots, and
            # re-widening per probe batch costs a full-array copy each call
            self._fp_u64 = self.fingerprints.astype(np.uint64, copy=False)
        return contains(self.header, self.fingerprints, self.arity,
                        self.fp_bits, hashes, _fp_u64=self._fp_u64)

    def mem_usage(self) -> int:
        # stored (possibly widened) width, matching ref mem_usage semantics
        return self.fingerprints.size * self.fingerprints.dtype.itemsize

    def ideal_mem_usage(self) -> int:
        return self.num_keys * self.fp_bits // 8

    def params(self) -> dict:
        h = self.header
        return {
            "arity": str(self.arity),
            "fp_bits": str(self.fp_bits),
            "num_keys": str(self.num_keys),
            "seed": str(h.seed),
            "size": str(h.size),
            "segment_length": str(h.segment_length),
            "segment_count": str(h.segment_count),
            "array_length": str(h.array_length),
        }

    def serialize(self) -> bytes:
        return codec.encode(self.fingerprints)

    @classmethod
    def deserialize(cls, payload: bytes, params: dict) -> "XorFilter":
        arity = int(params["arity"])
        fp_bits = int(params["fp_bits"])
        seg_len = int(params["segment_length"])
        seg_count = int(params["segment_count"])
        header = Header(
            seed=int(params["seed"]),
            size=int(params["size"]),
            segment_length=seg_len,
            segment_length_mask=seg_len - 1,
            segment_count=seg_count,
            segment_count_length=seg_count * seg_len,
            array_length=int(params["array_length"]),
        )
        fps = codec.decode(cls.kind, payload, _storage_dtype(fp_bits),
                           header.array_length)
        return cls(header, fps, arity, fp_bits, int(params["num_keys"]))
