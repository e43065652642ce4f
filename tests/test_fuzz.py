"""Property-based fuzz tests mirroring the reference's fuzz harness
(/root/reference/src/fuzz.zig: arbitrary byte-string key sets -> dedup ->
build -> assert zero false negatives; src/tests.zig:128-132 runs the whole
filter matrix under fuzz).

Keys here are arbitrary byte strings hashed with xxhash64 semantics stand-in
(blake2b-derived u64 — the kernels are hash-agnostic); hypothesis drives the
key-set shapes (sizes, duplicates, adversarial patterns like shared prefixes
and tiny alphabets).
"""

import hashlib

import numpy as np
from hypothesis import HealthCheck, given, settings, strategies as st

from filterz_spark.filters import RibbonFilter, SbbfFilter, XorFilter


def _hash_keys(keys: list[bytes]) -> np.ndarray:
    out = np.empty(len(keys), dtype=np.uint64)
    for i, k in enumerate(keys):
        out[i] = int.from_bytes(hashlib.blake2b(k, digest_size=8).digest(), "little")
    return np.unique(out)


key_sets = st.lists(
    st.binary(min_size=0, max_size=40), min_size=1, max_size=300,
)

structured_key_sets = st.lists(
    st.tuples(st.sampled_from([b"http://", b"https://", b""]),
              st.text(alphabet="ab", min_size=0, max_size=20)),
    min_size=1, max_size=200,
).map(lambda ps: [p + s.encode() for p, s in ps])


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=key_sets)
def test_fuzz_zero_fn_all_kinds(keys):
    hashes = _hash_keys(keys)
    for build in (
        lambda h: SbbfFilter.build(h, 16),
        lambda h: XorFilter.build(h, 3, 16),
        lambda h: XorFilter.build(h, 4, 8),
        lambda h: RibbonFilter.build(h, 64, 16),
    ):
        f = build(hashes)
        assert f.check(hashes).all(), "false negative under fuzz"


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=structured_key_sets)
def test_fuzz_adversarial_key_shapes(keys):
    """Shared prefixes + 2-letter alphabet: worst-case key structure must not
    break construction (hashing decorrelates; mirrors the url key domain)."""
    hashes = _hash_keys(keys)
    f = XorFilter.build(hashes, 3, 16)
    assert f.check(hashes).all()
    r = RibbonFilter.build(hashes, 128, 16)
    assert r.check(hashes).all()


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**32 - 1),
       n=st.integers(min_value=1, max_value=5000))
def test_fuzz_random_sizes_roundtrip(seed, n):
    """Construction succeeds and serialization round-trips at arbitrary n
    (the reference's own scheme failed at specific sizes — guard ours)."""
    from filterz_spark.hashing import splitmix64_array

    hashes = np.unique(splitmix64_array(seed, n))
    f = XorFilter.build(hashes, 3, 16)
    g = XorFilter.deserialize(f.serialize(), f.params())
    assert g.check(hashes).all()


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                     min_size=0, max_size=2000),
       cuts=st.lists(st.integers(min_value=0, max_value=1999),
                     min_size=0, max_size=6))
def test_hll_merged_partials_equal_one_shot_under_arbitrary_splits(keys, cuts):
    """For ANY key multiset and ANY split of it into partials, the partials
    shipped as payloads and merged from the identity must reproduce the
    one-shot state byte for byte."""
    from filterz_spark.sketches import HllSketch

    h = np.array(keys, dtype=np.uint64)
    whole = HllSketch.zero(p=10)
    whole.update(h)
    bounds = sorted({0, len(keys), *[c % (len(keys) + 1) for c in cuts]})
    acc = HllSketch.zero(p=10)
    for a, b in zip(bounds, bounds[1:]):
        s = HllSketch.zero(p=10)
        s.update(h[a:b])
        acc = acc.merge(HllSketch.deserialize(s.serialize(), s.params()))
    assert acc.serialize() == whole.serialize()
    assert acc.estimate() == whole.estimate()


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(payloads=st.lists(st.binary(min_size=0, max_size=600),
                         min_size=1, max_size=20))
def test_resize_preserves_byte_sum_for_arbitrary_payloads(payloads):
    """Box-filter resize: sum(pixels) * block_area == sum of the first 256
    payload bytes, exactly, for arbitrary binary payloads."""
    import pyarrow as pa
    from filterz_spark.ops.multimodal import _resize_fn, fake_grid_decoder

    batch = pa.RecordBatch.from_arrays(
        [pa.array(list(range(len(payloads))), pa.int64()),
         pa.array(payloads, pa.binary())],
        names=["media_id", "payload"])
    [out] = list(_resize_fn(8, 8, fake_grid_decoder)([batch]))
    for i, px in enumerate(out.column(1).to_pylist()):
        assert len(px) == 64
        assert sum(px) * 4 == sum(payloads[i][:256])


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(payloads=st.lists(st.one_of(st.none(), st.binary(max_size=600)),
                         min_size=1, max_size=20))
def test_feature_decoder_matches_per_row_reference(payloads):
    """The batch fake feature codec equals its per-row definition: zero-pad
    the payload to little-endian u64 blocks, splitmix64 each block,
    histogram the hashes into the feature buckets and divide by the block
    count (a NULL or empty payload gives zeros)."""
    import pyarrow as pa
    from filterz_spark.hashing import splitmix64
    from filterz_spark.ops.multimodal import IMAGE_FEATURE_DIM, fake_feature_decoder

    got = fake_feature_decoder(pa.array(payloads, pa.binary()))
    assert got.shape == (len(payloads), IMAGE_FEATURE_DIM)
    for row, p in zip(got, payloads):
        p = p or b""
        blocks = np.frombuffer(p + bytes(-len(p) % 8), dtype="<u8")
        want = np.zeros(IMAGE_FEATURE_DIM)
        for z in splitmix64(blocks):
            want[int(z) % IMAGE_FEATURE_DIM] += 1
        np.testing.assert_array_equal(
            row, (want / max(blocks.size, 1)).astype(np.float32))
