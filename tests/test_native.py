"""Native (C) filter kernels — byte-identical to the reference oracle.

The library's only filter backend is ``filterz_spark/native/kernels.c``;
``tests/filter_oracle.py`` reimplements each kernel in numpy/Python. Every
contract here is exact equality:

- sbbf: insert is an order-insensitive OR, so the blocks equal the
  oracle's;
- ribbon: a consistent system's solution with every free slot zero is
  unique, so the chosen seed and the solution equal the oracle's;
- xorf: the oracle transcribes the kernel's sequential stack peel, so the
  chosen seed and the fingerprint bytes equal the oracle's;
- every probe answers exactly as the oracle probe does;
- the km_md5 MinHash kernel equals a ``hashlib`` reference and, through
  Spark, the JVM ``md5``/``conv`` expression it replaced.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

import filter_oracle as oracle
from filterz_spark import native
from filterz_spark.filters import RibbonFilter, SbbfFilter, XorFilter, ribbon, sbbf, xorf
from filterz_spark.hashing import splitmix64_array


def _keys(n: int, seed: int = 7) -> np.ndarray:
    return np.unique(splitmix64_array(seed, n))


class TestSbbfBackends:
    def test_insert_byte_identical(self):
        h = _keys(50_000)
        b_c = sbbf.empty_blocks(h.size, 24)
        sbbf.insert(b_c, h)
        b_ref = sbbf.empty_blocks(h.size, 24)
        oracle.sbbf_insert(b_ref, h)
        assert np.array_equal(b_c, b_ref)

    def test_contains_matches_numpy(self):
        h = _keys(20_000)
        b = sbbf.empty_blocks(h.size, 16)
        sbbf.insert(b, h)
        probes = splitmix64_array(123, 30_000)
        assert np.array_equal(sbbf.contains(b, probes),
                              oracle.sbbf_contains(b, probes))
        assert sbbf.contains(b, h).all()  # zero FN


class TestRibbonBackends:
    @pytest.mark.parametrize("cb,rb", [(32, 8), (64, 16), (64, 7), (128, 16)])
    def test_solution_byte_identical(self, cb, rb):
        h = _keys(30_000)
        seed_c, sol_c = ribbon.construct(h, cb, rb)
        seed_ref, sol_ref = oracle.ribbon_construct(h, cb, rb)
        assert seed_c == seed_ref
        assert sol_c.dtype == sol_ref.dtype
        assert np.array_equal(sol_c, sol_ref)
        assert ribbon.contains(sol_c, seed_c, cb, rb, h.size, h).all()
        probes = splitmix64_array(55, 20_000)
        assert np.array_equal(
            ribbon.contains(sol_c, seed_c, cb, rb, h.size, probes),
            oracle.ribbon_contains(sol_c, seed_c, cb, rb, probes))

    def test_tiny_and_empty(self):
        for n in (0, 1, 2, 5):
            h = _keys(n) if n else np.zeros(0, dtype=np.uint64)
            seed, sol = ribbon.construct(h, 64, 8)
            seed_ref, sol_ref = oracle.ribbon_construct(h, 64, 8)
            assert seed == seed_ref and np.array_equal(sol, sol_ref)
            if n:
                assert ribbon.contains(sol, seed, 64, 8, n, h).all()


class TestXorfBackends:
    @pytest.mark.parametrize("arity,fp_bits", [(3, 16), (4, 16), (3, 8), (4, 7)])
    def test_same_seed_same_semantics(self, arity, fp_bits):
        """Same succeeding seed, same geometry and the same fingerprint
        bytes as the oracle's transcribed queue peel; zero FN through
        both probes."""
        h = _keys(40_000)
        hdr_c, fp_c = xorf.construct(h, arity, fp_bits)
        hdr_ref, fp_ref = oracle.xorf_construct(h, arity, fp_bits)
        assert hdr_c == hdr_ref
        assert fp_c.dtype == fp_ref.dtype
        assert np.array_equal(fp_c, fp_ref)
        assert xorf.contains(hdr_c, fp_c, arity, fp_bits, h).all()
        assert oracle.xorf_contains(hdr_c, fp_c, arity, fp_bits, h).all()

    def test_probe_matches_numpy_probe(self):
        h = _keys(25_000)
        hdr, fp = xorf.construct(h, 3, 16)
        probes = splitmix64_array(55, 50_000)
        assert np.array_equal(xorf.contains(hdr, fp, 3, 16, probes),
                              oracle.xorf_contains(hdr, fp, 3, 16, probes))

    def test_fpr_within_bound(self):
        h = _keys(100_000)
        hdr, fp = xorf.construct(h, 3, 16)
        probes = splitmix64_array(999, 400_000)
        hits = int(xorf.contains(hdr, fp, 3, 16, probes).sum())
        # bound 2^-16; Poisson tolerance at 400k probes (expect ~6, allow 3x)
        assert hits <= 20

    def test_deterministic_within_backend(self):
        h = _keys(30_000)
        hdr1, fp1 = xorf.construct(h, 3, 16)
        hdr2, fp2 = xorf.construct(h, 3, 16)
        assert hdr1.seed == hdr2.seed
        assert np.array_equal(fp1, fp2)

    def test_empty_and_tiny(self):
        for n in (0, 1, 2):
            h = _keys(n) if n else np.zeros(0, dtype=np.uint64)
            hdr, fp = xorf.construct(h, 3, 16)
            hdr_ref, fp_ref = oracle.xorf_construct(h, 3, 16)
            assert hdr == hdr_ref and np.array_equal(fp, fp_ref)
            if n:
                assert xorf.contains(hdr, fp, 3, 16, h).all()


@pytest.mark.parametrize("build", [
    lambda h: RibbonFilter.build(h, coeff_bits=16, result_bits=8),
    lambda h: RibbonFilter.build(h, coeff_bits=256, result_bits=8),
    lambda h: RibbonFilter.build(h, coeff_bits=64, result_bits=0),
    lambda h: RibbonFilter.build(h, coeff_bits=64, result_bits=33),
    lambda h: XorFilter.build(h, arity=2, fp_bits=16),
    lambda h: XorFilter.build(h, arity=5, fp_bits=16),
    lambda h: XorFilter.build(h, arity=3, fp_bits=0),
    lambda h: XorFilter.build(h, arity=3, fp_bits=65),
], ids=["ribbon_coeff16", "ribbon_coeff256", "ribbon_result0",
        "ribbon_result33", "xorf_arity2", "xorf_arity5", "xorf_fp0", "xorf_fp65"])
@pytest.mark.parametrize("n", [0, 1000])
def test_out_of_range_params_raise(build, n):
    """Geometry the kernels do not implement is refused before any kernel
    call, for empty and non-empty key sets alike."""
    with pytest.raises(ValueError):
        build(_keys(n) if n else np.zeros(0, dtype=np.uint64))


def test_broken_compiler_fails_loudly(monkeypatch, tmp_path):
    """With no working C compiler and no cached .so, the first filter build
    raises an error naming the compile failure; nothing falls back."""
    import tempfile
    monkeypatch.setenv("CC", "/bin/false")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(native, "_lib", None)  # force a fresh load attempt
    try:
        assert native.available() is False
        with pytest.raises(native.NativeLoadError, match="failed to compile.*/bin/false"):
            XorFilter.build(_keys(5_000), 3, 16)
        assert not list(tmp_path.glob("filterz_native_*/kernels.so"))
    finally:
        monkeypatch.setattr(native, "_lib", None)  # re-probe real gcc later


def test_native_sbbf_insert_rejects_read_only_blocks():
    """ndpointer does not check WRITEABLE: without the guard, inserting
    into a bytes-backed (read-only) block array would silently corrupt
    the immutable payload every other holder shares. Deserialize decodes
    into a writable copy, so inserting there leaves the payload as is."""
    f = SbbfFilter.build(splitmix64_array(1, 2000), bits_per_key=16)
    payload = f.serialize()
    snapshot = bytes(payload)
    view = np.frombuffer(payload, dtype=np.uint64).reshape(-1, sbbf.LANES)
    with pytest.raises(ValueError, match="read-only"):
        native.sbbf_insert(view, splitmix64_array(2, 10))
    g = SbbfFilter.deserialize(payload, f.params())
    native.sbbf_insert(g.blocks, splitmix64_array(2, 10))
    assert bytes(payload) == snapshot


def test_mulhi64_exact():
    """The oracle's limb-wise mulhi equals exact 128-bit multiplication."""
    rng = np.random.default_rng(3)
    a = rng.integers(0, 1 << 63, 1000, dtype=np.int64).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    for b in (1, 12345, 0xFFFFFFFF, 0x123456789ABCDEF0):
        hi = oracle.mulhi64(a, b)
        for x, h in zip(a[:50], hi[:50]):
            assert (int(x) * b) >> 64 == int(h)


def _km_md5_ref(text: str, k: int, num_hashes: int) -> list[int]:
    """Per-band min of h1 + b*h2 over the word k-grams of ``text``, with
    h1/h2 the first/second 14 hex digits of each shingle's md5."""
    words = text.split(" ")
    grams = [" ".join(words[i:i + k])
             for i in range(max(len(words) - k + 1, 1))]
    mins = [None] * num_hashes
    for g in grams:
        hx = hashlib.md5(g.encode()).hexdigest()
        h1, h2 = int(hx[:14], 16), int(hx[14:28], 16)
        mins = [h1 + b * h2 if m is None else min(m, h1 + b * h2)
                for b, m in enumerate(mins)]
    return mins


def _km_md5_kernel(texts: list[str], k: int, num_hashes: int) -> np.ndarray:
    raw = [t.encode() for t in texts]
    data = np.frombuffer(b"".join(raw), dtype=np.uint8)
    offsets = np.r_[0, np.cumsum([len(r) for r in raw])].astype(np.int64)
    return native.km_md5_minhash(data, offsets, k, num_hashes)


class TestKmMd5Minhash:
    @pytest.mark.parametrize("length", [0, 55, 56, 63, 64, 65, 119, 120,
                                        128, 10_240])
    def test_md5_padding_edges(self, length):
        """One shingle per doc (k above the word count), so each row is one
        md5 over ``length`` bytes: 55/56 and 119/120 straddle the one- vs
        two-block padding, 64 and 128 end on a block boundary."""
        texts = ["y" * length, ("a b " * length)[:length]]
        got = _km_md5_kernel(texts, 10_000, 15)
        assert [r.tolist() for r in got] == [_km_md5_ref(t, 10_000, 15)
                                             for t in texts]

    @pytest.mark.parametrize("k", [1, 2, 3, 4, 5])
    def test_word_kgrams(self, k):
        texts = [" ".join(f"w{i}" for i in range(n)) for n in range(1, 6)]
        texts += ["", " ", "a  b", " lead", "trail ", "tab\tnl\n x",
                  "h\u00e9llo \u6f22\u5b57 \U0001f600 end"]
        got = _km_md5_kernel(texts, k, 8)
        assert [r.tolist() for r in got] == [_km_md5_ref(t, k, 8) for t in texts]

    def test_k_below_one_refused(self):
        with pytest.raises(ValueError, match="k must be"):
            _km_md5_kernel(["a b"], 0, 8)

    def test_spark_signatures_match_jvm_expression(self, spark):
        """Through ``minhash_signature_arrays``, the kernel's signatures
        equal the JVM expression it replaced: md5 per exploded shingle, its
        hex digits 1-14 and 15-28 through ``conv`` to longs, and a per-band
        min in one groupBy(doc_id). A repeated doc_id gets one signature
        over all its rows; a NULL text gets none."""
        from pyspark.sql import functions as F

        from filterz_spark.ops.dedup import minhash_signature_arrays, shingles
        texts = [None, "", " ", "  ", " lead", "trail ", "dbl  space",
                 "tab\tand\nnewline x", 'quote " and \\ back',
                 "h\u00e9llo w\u00f6rld \u6f22\u5b57 \U0001f600 ok",
                 "one", "a b c d e f g", "x " * 40, "z" * 130 + " tail"]
        rows = [(i, t) for i, t in enumerate(texts)]
        rows += [(5, "a repeated doc id"), (5, "its second row")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for k in (1, 2, 3):
            hs = (shingles(docs, k).select("doc_id", F.md5("shingle").alias("mh"))
                  .select("doc_id",
                          F.conv(F.substring("mh", 1, 14), 16, 10)
                          .cast("long").alias("h1"),
                          F.conv(F.substring("mh", 15, 14), 16, 10)
                          .cast("long").alias("h2")))
            jvm = hs.groupBy("doc_id").agg(*[
                F.min(F.col("h1") + F.lit(b) * F.col("h2")).cast("string")
                .alias(f"m{b}") for b in range(8)]).select(
                "doc_id", F.array(*[f"m{b}" for b in range(8)]).alias("sig"))
            want = {r.doc_id: r.sig for r in jvm.collect()}
            got = {r.doc_id: r.sig
                   for r in minhash_signature_arrays(docs, 8, k).collect()}
            assert got == want
            assert 0 not in got and len(got) == len(texts) - 1
