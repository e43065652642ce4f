"""Reference implementations of the native filter kernels (test oracle).

The library runs only the C kernels in ``filterz_spark/native/kernels.c``.
Each function here reproduces one kernel's output byte for byte in numpy or
plain Python, and ``tests/test_native.py`` compares the two:

- sbbf: numpy scatter-OR (``np.bitwise_or.at``); OR is order-insensitive,
  so the blocks equal the kernel's;
- xorf: a sequential stack peel transcribed from ``kernels.c::xorf_attempt``
  — same initial stack, same pop order, same reverse-order assignment — so
  the fingerprints equal the kernel's;
- ribbon: Python banded elimination over the kernel's stable start-position
  bucket order, plus the bit-plane back-substitution, so the solutions equal
  the kernel's.

Geometry, sizing and seed sequences come from the library modules: they are
not kernels. These loops run per key in Python and are for tests only.
"""

from __future__ import annotations

import numpy as np

from filterz_spark.filters import ribbon, xorf
from filterz_spark.hashing import murmur64_mix, splitmix64_array

_M64 = (1 << 64) - 1


def mulhi64(a: np.ndarray, b: int) -> np.ndarray:
    """High 64 bits of a 64x64->128 product, via 32-bit limbs (vectorized).

    The binary-fuse reference implementation's range reduction
    (arXiv:2201.01174) uses mulhi of the FULL 64-bit hash, which decorrelates
    the segment selector from the in-segment offset bits."""
    lo32 = np.uint64(0xFFFFFFFF)
    a_lo = a & lo32
    a_hi = a >> np.uint64(32)
    bb = np.uint64(b)
    b_lo = bb & lo32
    b_hi = bb >> np.uint64(32)
    ll = a_lo * b_lo
    lh = a_lo * b_hi
    hl = a_hi * b_lo
    hh = a_hi * b_hi
    mid = (ll >> np.uint64(32)) + (lh & lo32) + (hl & lo32)
    return hh + (lh >> np.uint64(32)) + (hl >> np.uint64(32)) + (mid >> np.uint64(32))


# ---------------- sbbf (ref src/sbbf.zig) ----------------

# ref src/sbbf.zig:80
SALT = np.array(
    [0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
     0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31],
    dtype=np.uint64,
)


def _masks(hashes: np.ndarray) -> np.ndarray:
    """(n, 8) uint64 block masks — one bit per lane (ref src/sbbf.zig:72-80)."""
    x = (hashes[:, None] * SALT[None, :]) >> np.uint64(27)
    return np.uint64(1) << (x & np.uint64(63))


def _block_indices(num_blocks: int, hashes: np.ndarray) -> np.ndarray:
    """Block per key from low 32 hash bits (ref src/sbbf.zig:28-30, :55)."""
    low = hashes & np.uint64(0xFFFFFFFF)
    return ((np.uint64(num_blocks) * low) >> np.uint64(32)).astype(np.int64)


def sbbf_insert(blocks: np.ndarray, hashes: np.ndarray) -> None:
    np.bitwise_or.at(blocks, _block_indices(blocks.shape[0], hashes),
                     _masks(hashes))


def sbbf_contains(blocks: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    m = _masks(hashes)
    return ((blocks[_block_indices(blocks.shape[0], hashes)] & m) == m).all(axis=1)


# ---------------- xorf (ref src/xorf.zig) ----------------

def _span(arity: int) -> int:
    return 18 if arity == 3 else 12


def make_subhashes(arity: int, header: xorf.Header, h: np.ndarray) -> np.ndarray:
    """(n, arity) int64 positions of seeded hashes: the binary-fuse
    derivation (see POSITION DEVIATION in filters/xorf.py)."""
    hl = mulhi64(h, header.segment_count_length)
    seg_len = np.uint64(header.segment_length)
    seg_mask = np.uint64(header.segment_length_mask)
    span = _span(arity)
    hh = h & np.uint64((1 << (span * arity)) - 1)
    out = np.empty((h.size, arity), dtype=np.int64)
    for i in range(arity):
        shift = np.uint64(span * (arity - 1 - i))
        out[:, i] = ((hl + np.uint64(i) * seg_len) ^ ((hh >> shift) & seg_mask)).astype(np.int64)
    return out


def make_fingerprint(h: np.ndarray, fp_bits: int) -> np.ndarray:
    """``truncate(h ^ (h >> 32))`` to fp_bits (ref src/xorf.zig:11-13)."""
    f = h ^ (h >> np.uint64(32))
    if fp_bits >= 64:
        return f
    return f & np.uint64((1 << fp_bits) - 1)


def xorf_attempt(hashes: np.ndarray, seed: int, arity: int,
                 header: xorf.Header, fp_bits: int) -> np.ndarray | None:
    """One construction attempt: the u64 fingerprint array, or None when
    the peel leaves a non-empty 2-core."""
    h = murmur64_mix(hashes, seed)
    sub = make_subhashes(arity, header, h)
    alen = header.array_length
    count = np.bincount(sub.ravel(), minlength=alen).tolist()
    xmask = np.zeros(alen, dtype=np.uint64)
    np.bitwise_xor.at(xmask, sub.ravel(), np.repeat(h, arity))
    xmask = xmask.tolist()

    scl = header.segment_count_length
    seg_len = header.segment_length
    seg_mask = header.segment_length_mask
    span = _span(arity)
    hh_mask = (1 << (span * arity)) - 1

    def positions(k: int) -> list[int]:
        hl = (k * scl) >> 64
        hh = k & hh_mask
        return [(hl + j * seg_len) ^ ((hh >> (span * (arity - 1 - j))) & seg_mask)
                for j in range(arity)]

    stack = [i for i, c in enumerate(count) if c == 1]
    peeled = []  # (key, chosen slot) in peel order
    while stack:
        slot = stack.pop()
        if count[slot] != 1:
            continue
        k = xmask[slot]  # sole remaining key in this slot
        for p in positions(k):
            xmask[p] ^= k
            count[p] -= 1
            if p != slot and count[p] == 1:
                stack.append(p)
        peeled.append((k, slot))
    if len(peeled) != hashes.size:
        return None

    fmask = _M64 if fp_bits >= 64 else (1 << fp_bits) - 1
    fps = [0] * alen
    for k, slot in reversed(peeled):
        f = (k ^ (k >> 32)) & fmask
        for p in positions(k):
            f ^= fps[p]  # the chosen slot holds 0 before its assignment
        fps[slot] = f & fmask
    return np.array(fps, dtype=np.uint64)


def xorf_construct(hashes: np.ndarray, arity: int, fp_bits: int):
    """(header, fingerprints) over the library's seed sequence."""
    hashes = hashes.astype(np.uint64, copy=False)
    header = xorf.calculate_header(arity, int(hashes.size))
    for seed in splitmix64_array(xorf.SEED_SEQUENCE_INIT, xorf.MAX_ATTEMPTS):
        header.seed = int(seed)
        fps = xorf_attempt(hashes, header.seed, arity, header, fp_bits)
        if fps is not None:
            return header, fps.astype(xorf._storage_dtype(fp_bits))
    raise xorf.ConstructError("oracle: every seed failed")


def xorf_contains(header: xorf.Header, fingerprints: np.ndarray, arity: int,
                  fp_bits: int, hashes: np.ndarray) -> np.ndarray:
    """Membership equation (ref src/xorf.zig:42-50)."""
    h = murmur64_mix(hashes.astype(np.uint64, copy=False), header.seed)
    sub = make_subhashes(arity, header, h)
    mask = np.uint64(_M64 if fp_bits >= 64 else (1 << fp_bits) - 1)
    acc = make_fingerprint(h, fp_bits)
    for i in range(arity):
        acc = acc ^ (fingerprints[sub[:, i]].astype(np.uint64) & mask)
    return acc == np.uint64(0)


# ---------------- ribbon (ref src/ribbon.zig) ----------------

COEFF_FACTOR0 = 0x876F170BE4F1FCB9  # ref src/ribbon.zig:19
COEFF_FACTOR1 = 0xF0433A4AECDA4C5F  # ref src/ribbon.zig:20


def _byteswap64(x: int) -> int:
    return int.from_bytes((x & _M64).to_bytes(8, "little"), "big")


def _coeff_row_int(coeff_bits: int, seed: int, hash_: int) -> int:
    """Python-int coefficient row (ref src/ribbon.zig:22-35)."""
    if coeff_bits == 64:
        return ((seed ^ hash_) | 1) & _M64
    if coeff_bits == 32:
        return ((seed ^ hash_) | 1) & 0xFFFFFFFF
    if coeff_bits == 128:
        a = ((seed * COEFF_FACTOR0) & _M64) ^ hash_
        b = ((seed * COEFF_FACTOR1) & _M64) ^ _byteswap64(hash_)
        return ((a << 64) | b) | 1
    raise ValueError(f"unsupported coeff_bits {coeff_bits}")


def _start_pos_int(coeff_bits: int, seed: int, n: int, hash_: int) -> int:
    """ref src/ribbon.zig:9-17 (scalar form)."""
    w = coeff_bits // 8
    hash0 = (seed ^ hash_) & _M64
    h32 = (hash0 ^ (hash0 >> 32)) & 0xFFFFFFFF
    smash_pos = ((n + w * 2) * h32) >> 32
    pos = max(smash_pos - w, 0)
    return min(n - 1, pos)


def _result_row_int(result_bits: int, seed: int, hash_: int) -> int:
    """ref src/ribbon.zig:46-49."""
    h = (seed ^ hash_) & _M64
    return ((h >> 32) ^ h) & ((1 << result_bits) - 1)


def _coeff_rows_vec(coeff_bits: int, seed: int, h: np.ndarray):
    """Vectorized coefficient rows -> (hi, lo) uint64 pair (hi unused <=64)."""
    s = np.uint64(seed)
    if coeff_bits == 64:
        return np.zeros_like(h), (s ^ h) | np.uint64(1)
    if coeff_bits == 32:
        return np.zeros_like(h), ((s ^ h) & np.uint64(0xFFFFFFFF)) | np.uint64(1)
    if coeff_bits == 128:
        sa = np.uint64((seed * COEFF_FACTOR0) & _M64)
        sb = np.uint64((seed * COEFF_FACTOR1) & _M64)
        return sa ^ h, (sb ^ h.byteswap()) | np.uint64(1)
    raise ValueError(f"unsupported coeff_bits {coeff_bits}")


def _key_params_vec(coeff_bits: int, result_bits: int, seed: int, n: int,
                    h: np.ndarray):
    """Vectorized (start_pos, coeff_hi, coeff_lo, result_row) for all keys —
    the numpy form of _start_pos_int/_coeff_row_int/_result_row_int."""
    if h.size == 0 or n <= 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.astype(np.uint64), z.astype(np.uint64), z
    s = np.uint64(seed)
    hash0 = s ^ h
    h32 = (hash0 ^ (hash0 >> np.uint64(32))) & np.uint64(0xFFFFFFFF)
    w = np.uint64(coeff_bits // 8)
    smash = (np.uint64(n) + w * np.uint64(2)) * h32 >> np.uint64(32)
    pos = np.where(smash > w, smash - w, np.uint64(0))
    start = np.minimum(np.uint64(n - 1), pos).astype(np.int64)
    hi, lo = _coeff_rows_vec(coeff_bits, seed, h)
    mask = np.uint64((1 << result_bits) - 1)
    rr = (((hash0 >> np.uint64(32)) ^ hash0) & mask).astype(np.int64)
    return start, hi, lo, rr


def ribbon_attempt(harr: np.ndarray, seed: int, size: int, coeff_bits: int,
                   result_bits: int) -> np.ndarray | None:
    """One (size, seed) try: the u64 solution, or None on an inconsistent
    system."""
    start_range = size + 1 - coeff_bits
    starts, chi, clo, rrs = _key_params_vec(
        coeff_bits, result_bits, seed, start_range, harr)
    # stable bucket sort on the top 16 bits of start position — the
    # kernel's insertion order
    shift = max(0, int(start_range - 1).bit_length() - 16)
    order = np.argsort(starts >> shift, kind="stable")
    crs = clo[order].tolist()
    if coeff_bits == 128:
        crs = [(hi << 64) | lo for hi, lo in zip(chi[order].tolist(), crs)]

    coeff = [0] * size
    result = [0] * size
    for pos, cr, rr in zip(starts[order].tolist(), crs, rrs[order].tolist()):
        while True:
            existing = coeff[pos]
            if existing == 0:
                coeff[pos] = cr
                result[pos] = rr
                break
            cr ^= existing
            rr ^= result[pos]
            if cr == 0:
                if rr != 0:
                    return None  # inconsistent system
                break  # redundant (duplicate-consistent) row
            tz = (cr & -cr).bit_length() - 1
            pos += tz
            cr >>= tz

    # back-substitution bottom-up, bit-plane form (ref src/ribbon.zig:108-134):
    # planes[j] holds bit j of the last coeff_bits solution rows; per row,
    # bit j = parity(plane<<1 & coeff) ^ result bit
    cmask = (1 << coeff_bits) - 1
    planes = [0] * result_bits
    solution = [0] * size
    for i in range(size - 1, -1, -1):
        cr = coeff[i]
        rr = result[i]
        srow = 0
        for j in range(result_bits):
            tmp = (planes[j] << 1) & cmask
            bit = ((tmp & cr).bit_count() & 1) ^ ((rr >> j) & 1)
            planes[j] = tmp | bit
            srow |= bit << j
        solution[i] = srow
    return np.array(solution, dtype=np.uint64)


def ribbon_construct(hashes: np.ndarray, coeff_bits: int, result_bits: int):
    """(seed, solution) over the library's (multiplier, seed) sweep."""
    harr = np.asarray(hashes, dtype=np.uint64)
    n = int(harr.size)
    multipliers = range(ribbon._start_multiplier(coeff_bits, n),
                        ribbon.MAX_MULTIPLIER + 1)
    seeds = iter(splitmix64_array(ribbon.INITIAL_SEED,
                                  len(multipliers) * ribbon.NUM_TRIES))
    for multiplier in multipliers:
        size = ribbon.calculate_size(coeff_bits, n, multiplier)
        for _ in range(ribbon.NUM_TRIES):
            seed = int(next(seeds))
            sol = ribbon_attempt(harr, seed, size, coeff_bits, result_bits)
            if sol is not None:
                return seed, sol.astype(ribbon._storage_dtype(result_bits))
    raise ribbon.ConstructError("oracle: every (multiplier, seed) failed")


def ribbon_contains(solution: np.ndarray, seed: int, coeff_bits: int,
                    result_bits: int, hashes: np.ndarray) -> np.ndarray:
    """Probe (ref src/ribbon.zig:141-192): XOR of the solution rows selected
    by the coefficient bits equals the expected result row."""
    h = np.asarray(hashes, dtype=np.uint64)
    start_range = solution.shape[0] + 1 - coeff_bits
    start, hi, lo, rr = _key_params_vec(coeff_bits, result_bits, seed,
                                        start_range, h)
    window = solution[start[:, None] + np.arange(coeff_bits)[None, :]]
    ks = np.arange(coeff_bits, dtype=np.uint64)
    if coeff_bits <= 64:
        bits = (lo[:, None] >> ks[None, :]) & np.uint64(1)
    else:
        bits_lo = (lo[:, None] >> ks[None, :64]) & np.uint64(1)
        bits_hi = (hi[:, None] >> (ks[None, 64:] - np.uint64(64))) & np.uint64(1)
        bits = np.concatenate([bits_lo, bits_hi], axis=1)
    mask = (np.uint64(0) - bits).astype(solution.dtype)
    acc = np.bitwise_xor.reduce(window & mask, axis=1)
    return acc.astype(np.uint64) == rr.astype(np.uint64)
