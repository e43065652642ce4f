"""Pin the documented xor-filter position deviation (filters/xorf.py).

The reference (steelcake/filterz src/xorf.zig:29-40) derives the segment
selector from ``reduce32`` of the LOW 32 hash bits and the in-segment
offsets from 21-bit rotations of the same 64-bit word. At several sizes the
rotation windows overlap the selector's dominant bits, the hypergraph's
2-core stays non-empty for EVERY seed, and construction can never succeed.
The repo instead uses the published binary-fuse derivation
(arXiv:2201.01174): selector = mulhi of the FULL 64 bits, offsets from an
18-bit-spaced window — independent bits, so peeling succeeds with the
paper's probability at every size.

This test re-implements the reference's exact rotation scheme locally and
demonstrates the failure empirically, so a future round can never "restore
parity" with src/xorf.zig:29-40 and silently break construction:

- reference scheme at n in {1500, 8000}: 0 of 20 seeds fully peel;
- reference scheme at the reference's OWN test sizes (42, 10000): peels
  (which is why the bug is invisible in the reference's test suite);
- shipped scheme: 20 of 20 seeds peel at every size tried.

Peel-success equivalence: the round-layered peel used here fully exhausts
the 2-core iff the reference's queue peel does (both remove singletons
until none remain), so "fully peels" is scheme-dependent only.
"""

from __future__ import annotations

import numpy as np
import pytest

from filter_oracle import make_subhashes
from filterz_spark.filters.xorf import calculate_header
from filterz_spark.hashing import murmur64_mix, splitmix64_array

SEED_SEQUENCE_INIT = 0x726B2B9D438B9D4D  # ref src/xorf.zig:134
NUM_SEEDS = 20


def _ref_rotation_subhashes(arity: int, header, h: np.ndarray) -> np.ndarray:
    """Bit-exact numpy port of ref src/xorf.zig:29-40 (the scheme the repo
    deliberately does NOT use)."""
    hl = (np.uint64(header.segment_count_length)
          * (h & np.uint64(0xFFFFFFFF))) >> np.uint64(32)
    seg_len = np.uint64(header.segment_length)
    seg_mask = np.uint64(header.segment_length_mask)
    out = np.empty((h.size, arity), dtype=np.int64)
    rot = 0
    for i in range(arity):
        r = rot % 64
        rotated = ((h << np.uint64(r)) | (h >> np.uint64(64 - r))) if r else h
        rotated = rotated & np.uint64(0xFFFFFFFF)
        pos = ((hl + np.uint64(i) * seg_len) ^ (rotated & seg_mask))
        out[:, i] = pos.astype(np.int64)
        rot += 64 // arity
    return out


def _fully_peels(sub: np.ndarray, alen: int, n: int) -> bool:
    """Round-layered singleton peel: True iff the 2-core is empty."""
    flat = sub.ravel()
    count = np.bincount(flat, minlength=alen)
    # represent each key by its row index; slot xor tracks member sums via
    # xor of (index+1) tokens (distinct hashes -> distinct tokens suffices
    # for identifying the lone member of a count-1 slot at these sizes)
    token = np.repeat(np.arange(1, n + 1, dtype=np.int64), sub.shape[1])
    xsum = np.zeros(alen, dtype=np.int64)
    np.bitwise_xor.at(xsum, flat, token)
    alive = np.ones(n + 1, dtype=bool)
    peeled = 0
    while True:
        singles = np.flatnonzero(count == 1)
        if singles.size == 0:
            break
        keys = np.unique(xsum[singles])
        keys = keys[(keys >= 1) & (keys <= n)]
        keys = keys[alive[keys]]
        if keys.size == 0:
            break
        alive[keys] = False
        peeled += keys.size
        rows = sub[keys - 1].ravel()
        np.subtract.at(count, rows, 1)
        np.bitwise_xor.at(xsum, rows, np.repeat(keys, sub.shape[1]))
    return peeled == n


def _peel_successes(n: int, scheme: str) -> int:
    header = calculate_header(3, n)
    hashes = np.unique(splitmix64_array(7, n))[:n]
    ok = 0
    for seed in splitmix64_array(SEED_SEQUENCE_INIT, NUM_SEEDS):
        h = murmur64_mix(hashes, seed)
        if scheme == "reference":
            sub = _ref_rotation_subhashes(3, header, h)
        else:
            sub = make_subhashes(3, header, h)
        if _fully_peels(sub, header.array_length, int(h.size)):
            ok += 1
    return ok


@pytest.mark.parametrize("n", [1500, 8000])
def test_reference_rotation_scheme_cannot_construct(n):
    """The scheme the repo deviates FROM fails every seed at these sizes."""
    assert _peel_successes(n, "reference") == 0


@pytest.mark.parametrize("n", [42, 10000])
def test_reference_rotation_scheme_passes_its_own_test_sizes(n):
    """...but works at the reference's own test sizes (src/tests.zig),
    which is why the reference's suite never catches it."""
    assert _peel_successes(n, "reference") > 0


@pytest.mark.parametrize("n", [42, 1500, 8000, 10000])
def test_shipped_binary_fuse_scheme_peels_everywhere(n):
    """Las-Vegas: an individual seed may legitimately fail (hence the
    100-attempt retry in construct()); the contrast that matters is
    ~all-seeds-succeed vs the reference scheme's zero-seeds-succeed."""
    assert _peel_successes(n, "shipped") >= NUM_SEEDS - 2
