"""Ops-layer tests: dedup, similarity, text analysis, multimodal plumbing —
each checked against an exact Spark SQL computation on the driver testdata
(the DuckDB oracle twin runs in tools/check_oracles.py / driver harness).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_covers_all_docs(self, spark, docs):
        from filterz_spark.ops.dedup import exact_dedup
        groups = exact_dedup(docs)
        assert groups.agg(F.sum("dup_count")).collect()[0][0] == docs.count()

    def test_minhash_zero_fn_on_identical_docs(self, spark, docs):
        """A doc unioned with itself (new id) must collide on ALL bands."""
        from filterz_spark.ops.dedup import lsh_candidate_pairs
        clone = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        pairs = lsh_candidate_pairs(docs.unionByName(clone), num_hashes=8, k=2)
        full = pairs.filter(
            (F.col("doc_b") == F.col("doc_a") + 1_000_000) & (F.col("n_bands") == 8)
        ).count()
        assert full == 5

    def test_km_family_zero_fn_and_distinct_bands(self, spark, docs):
        """Kirsch-Mitzenmacher family: identical docs still collide on all
        bands (h1 + b*h2 is a pure function of the shingle set), the bands
        are genuinely distinct hash functions (signature entries differ
        across bands), and num_hashes > 15 is rejected (overflow guard)."""
        from filterz_spark.ops.dedup import (lsh_candidate_pairs,
                                             minhash_signature_arrays)
        clone = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        pairs = lsh_candidate_pairs(docs.unionByName(clone), num_hashes=8,
                                    k=2, hash_family="km_md5")
        full = pairs.filter(
            (F.col("doc_b") == F.col("doc_a") + 1_000_000) & (F.col("n_bands") == 8)
        ).count()
        assert full == 5
        sigs = minhash_signature_arrays(docs.limit(20), num_hashes=8, k=2,
                                        hash_family="km_md5").collect()
        assert all(len(set(r["sig"])) > 1 for r in sigs)
        with pytest.raises(ValueError, match="num_hashes <= 15"):
            minhash_signature_arrays(docs, num_hashes=16, hash_family="km_md5")
        for fam in ("nope", "km_xxh"):  # km_xxh: the retired JVM family
            with pytest.raises(ValueError, match="unknown hash_family"):
                minhash_signature_arrays(docs, hash_family=fam)
            with pytest.raises(ValueError, match="unknown hash_family"):
                lsh_candidate_pairs(docs, hash_family=fam)

    def test_default_family_is_km(self, spark, docs):
        """Round-5 default flip: the no-arg signature table must equal the
        explicit km_md5 table (the rehearsal-identified scale choice), not
        band_md5."""
        from filterz_spark.ops.dedup import minhash_signature_arrays
        d = docs.limit(20)
        default = {(r["doc_id"], tuple(r["sig"])) for r in
                   minhash_signature_arrays(d).collect()}
        km = {(r["doc_id"], tuple(r["sig"])) for r in
              minhash_signature_arrays(d, hash_family="km_md5").collect()}
        band = {(r["doc_id"], tuple(r["sig"])) for r in
                minhash_signature_arrays(d, hash_family="band_md5").collect()}
        assert default == km and default != band

    def test_km_md5_family_matches_band_decisions(self, spark, docs):
        """The two hash families must make the SAME dedup decisions on
        seeded near-dup data: docs perturbed in one trailing word
        (J ~ 0.96) verify to the identical final pair set at
        min_jaccard=0.9 under both, and that set holds every clone pair."""
        from filterz_spark.ops.dedup import (lsh_candidate_pairs,
                                             ngram_jaccard_pairs)
        base = docs.limit(30)
        near = base.withColumn("doc_id", F.col("doc_id") + 1_000_000) \
                   .withColumn("text", F.concat("text", F.lit(" zzqq")))
        corpus = base.unionByName(near)
        finals = {}
        for fam in ("band_md5", "km_md5"):
            pairs = ngram_jaccard_pairs(
                corpus, k=2, min_jaccard=0.9, num_hashes=8,
                candidates=lsh_candidate_pairs(corpus, 8, 2, hash_family=fam))
            finals[fam] = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        expected = {(r["doc_id"], r["doc_id"] + 1_000_000)
                    for r in base.select("doc_id").collect()}
        assert finals["band_md5"] >= expected
        assert finals["band_md5"] == finals["km_md5"]

    def test_jaccard_prefilter_identity_and_reduction(self, spark, docs):
        """Signature-level pre-filter: identical final pairs at the
        verification threshold, with the exact-verify workload cut by the
        free n_bands/num_hashes estimate. Margin 0.15 at threshold 0.9
        keeps every pair whose estimate can reach 0.75 (>= 6 of 8 bands) —
        on this corpus all true >= 0.9 pairs sit at n_bands >= 6 while the
        bulk of LSH candidates collide on 1-3 bands."""
        from filterz_spark.ops.dedup import (lsh_candidate_pairs,
                                             ngram_jaccard_pairs)
        cand = lsh_candidate_pairs(docs, 8, 2).cache()
        try:
            n_all = cand.count()
            n_kept = cand.filter(F.col("n_bands") / 8.0 >= 0.75).count()
            assert n_kept * 3 < n_all  # the verify workload shrank >= 3x
            full = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(
                docs, k=2, min_jaccard=0.9, candidates=cand).collect()}
            pre = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(
                docs, k=2, min_jaccard=0.9, candidates=cand,
                prefilter_margin=0.15).collect()}
            assert pre == full and full
            # entry regime (threshold 0.1, margin 0): cut 0.1 < 1/8 — the
            # prefilter provably drops nothing, plumbing exercised
            e_full = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(
                docs, k=2, min_jaccard=0.1, candidates=cand).collect()}
            e_pre = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(
                docs, k=2, min_jaccard=0.1, candidates=cand,
                prefilter_margin=0.0).collect()}
            assert e_pre == e_full
        finally:
            cand.unpersist()
        with pytest.raises(ValueError, match="n_bands"):
            ngram_jaccard_pairs(docs, k=2, min_jaccard=0.5,
                                candidates=cand.select("doc_a", "doc_b"),
                                prefilter_margin=0.1)

    def test_jaccard_edge_texts(self, spark):
        """Each doc's set is its own row's distinct shingles: a NULL text
        pairs with nothing, an empty text and a doc shorter than k are one
        whole-text shingle, and a repeated doc_id pairs each of its rows
        (no union of their texts)."""
        from filterz_spark.ops.dedup import ngram_jaccard_pairs
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, None), (3, ""), (4, ""), (5, "a"),
             (6, "a"), (7, "a b c d"), (7, "x y")],
            "doc_id long, text string")
        cand = spark.createDataFrame(
            [(1, 2), (3, 4), (1, 3), (5, 6), (1, 5), (1, 7)],
            "doc_a long, doc_b long")
        got = sorted(tuple(r) for r in ngram_jaccard_pairs(
            docs, k=2, candidates=cand).collect())
        # 1 vs 7: {a b, b c} against {a b, b c, c d} and against {x y}
        assert got == [(1, 3, 0.0), (1, 5, 0.0), (1, 7, 0.0),
                       (1, 7, 0.6667), (3, 4, 1.0), (5, 6, 1.0)]

    def test_jaccard_identical_is_one(self, spark, docs):
        from filterz_spark.ops.dedup import ngram_jaccard_pairs
        clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        j = ngram_jaccard_pairs(docs.limit(50).unionByName(clone), k=2, min_jaccard=0.99)
        exact_pairs = j.filter(F.col("doc_b") == F.col("doc_a") + 1_000_000).count()
        assert exact_pairs == 3

    def test_simhash_identical_and_near(self, spark, docs):
        from filterz_spark.ops.dedup import simhash, simhash_near_pairs
        sh = {r["doc_id"]: r["simhash"] for r in simhash(docs.limit(10)).collect()}
        sh2 = {r["doc_id"]: r["simhash"] for r in simhash(docs.limit(10)).collect()}
        assert sh == sh2  # deterministic
        clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        near = simhash_near_pairs(docs.limit(50).unionByName(clone), max_hamming=0)
        assert near.filter(F.col("doc_b") == F.col("doc_a") + 1_000_000).count() == 3

    def test_simhash_near_pairs_bucket_cap(self, spark, docs):
        from filterz_spark.ops.dedup import simhash_near_pairs
        # cap of 1 drops every >=2-member bucket: no candidates at all
        clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        both = docs.limit(50).unionByName(clone)
        assert simhash_near_pairs(both, max_hamming=0,
                                  max_bucket_size=1).count() == 0
        # uncapped equals the default-capped result at test scale
        a = set(map(tuple, simhash_near_pairs(both, 2, None)
                    .select("doc_a", "doc_b").collect()))
        b = set(map(tuple, simhash_near_pairs(both, 2, 10_000)
                    .select("doc_a", "doc_b").collect()))
        assert a == b


class TestSignatureStore:
    """Family-pinned batch signature stores: persisted signatures carry a
    marker, and every open/append validates family AND shape — the hazard
    is the round-5 default flip (band_md5 -> km_md5): families' values
    never collide, so a silent mix disables dedup entirely."""

    def _sigs(self, spark, docs, family="km_md5", num_hashes=8):
        from filterz_spark.ops.dedup import minhash_signature_arrays
        return minhash_signature_arrays(docs.limit(50), num_hashes, 2,
                                        hash_family=family)

    def test_roundtrip_and_family_mismatch(self, spark, docs, tmp_path):
        from filterz_spark.ops.dedup import (read_signature_store,
                                             write_signature_store)
        p = str(tmp_path / "store")
        sigs = self._sigs(spark, docs)
        write_signature_store(sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2)
        back = read_signature_store(spark, p, hash_family="km_md5",
                                    num_hashes=8, k=2)
        assert back.count() == sigs.count()
        with pytest.raises(RuntimeError, match="km_md5"):
            read_signature_store(spark, p, hash_family="band_md5")
        with pytest.raises(RuntimeError, match="num_hashes"):
            read_signature_store(spark, p, hash_family="km_md5",
                                 num_hashes=16)

    def test_append_validates_and_unmarked_refused(self, spark, docs,
                                                   tmp_path):
        from filterz_spark.ops.dedup import (read_signature_store,
                                             write_signature_store)
        p = str(tmp_path / "store")
        sigs = self._sigs(spark, docs)
        write_signature_store(sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2)
        # matching append doubles the rows
        write_signature_store(sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2, mode="append")
        assert read_signature_store(spark, p, hash_family="km_md5") \
            .count() == 2 * sigs.count()
        # family / shape mismatches refuse before any write
        for kw in ({"hash_family": "band_md5", "num_hashes": 8, "k": 2},
                   {"hash_family": "km_md5", "num_hashes": 4, "k": 2}):
            with pytest.raises(RuntimeError, match="signature store"):
                write_signature_store(
                    self._sigs(spark, docs, kw["hash_family"],
                               kw["num_hashes"]), p, mode="append", **kw)
        # a pre-marker store (plain parquet, no marker): read and append
        # are both refused
        legacy = str(tmp_path / "legacy")
        sigs.write.parquet(legacy)
        with pytest.raises(RuntimeError, match="no _filterz"):
            read_signature_store(spark, legacy, hash_family="km_md5")
        with pytest.raises(RuntimeError, match="no _filterz"):
            write_signature_store(sigs, legacy, hash_family="km_md5",
                                  num_hashes=8, k=2, mode="append")

    def test_round6_part_file_marker_accepted(self, spark, docs, tmp_path):
        """Round-6 signature stores wrote their marker with a Spark job
        (``coalesce(1).write.json``: a part file plus ``_SUCCESS`` and
        ``.crc`` side files); read and append must still validate it."""
        import os
        import shutil
        from filterz_spark.ops.dedup import (read_signature_store,
                                             write_signature_store)
        p = str(tmp_path / "store")
        sigs = self._sigs(spark, docs)
        write_signature_store(sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2)
        meta = os.path.join(p, "_filterz_signature_meta")
        shutil.rmtree(meta)
        spark.createDataFrame(
            [("km_md5", 8, 2, 1)],
            "hash_family string, num_hashes int, k int, version int",
        ).coalesce(1).write.json(meta)
        names = os.listdir(meta)
        assert "_SUCCESS" in names
        assert any(n.startswith("part-") for n in names)
        assert any(n.endswith(".crc") for n in names)
        with pytest.raises(RuntimeError, match="num_hashes"):
            read_signature_store(spark, p, hash_family="km_md5",
                                 num_hashes=16)
        with pytest.raises(RuntimeError, match="signature store"):
            write_signature_store(self._sigs(spark, docs, "band_md5"), p,
                                  hash_family="band_md5", num_hashes=8,
                                  k=2, mode="append")
        write_signature_store(sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2, mode="append")
        assert read_signature_store(spark, p, hash_family="km_md5",
                                    num_hashes=8, k=2).count() \
            == 2 * sigs.count()

    def test_dedup_against_store_path_and_frame(self, spark, docs, tmp_path):
        """Incremental dedup: batch docs LSH-colliding with the corpus
        store are dropped; the DataFrame-store and path-store flavors
        agree; parity split cross-checked against a direct band join."""
        from filterz_spark.ops.dedup import (dedup_against_store,
                                             minhash_signature_arrays,
                                             minhash_signatures,
                                             write_signature_store)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        corpus_sigs = minhash_signature_arrays(corpus, 8, 2)
        p = str(tmp_path / "corpus_store")
        write_signature_store(corpus_sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2)
        novel_path = dedup_against_store(batch, p)
        novel_frame = dedup_against_store(batch, corpus_sigs)
        got = {r.doc_id for r in novel_path.select("doc_id").collect()}
        assert got == {r.doc_id
                       for r in novel_frame.select("doc_id").collect()}
        # ground truth: batch docs sharing any (band, minhash) with corpus
        nb = minhash_signatures(batch, 8, 2)
        cb = minhash_signatures(corpus, 8, 2)
        dup = {r.doc_id for r in nb.join(cb, ["band", "minhash"], "left_semi")
               .select("doc_id").distinct().collect()}
        batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
        assert got == batch_ids - dup
        assert dup, "sf0.01 should produce cross-parity LSH collisions"
        # original columns survive
        assert set(novel_path.columns) == set(batch.columns)

    def test_dedup_against_store_append_idempotent(self, spark, docs,
                                                   tmp_path):
        """append=True grows the store with the KEPT docs' signatures;
        re-running the same batch then yields zero novel docs (self-
        collision), and a family-mismatched store refuses."""
        from filterz_spark.ops.dedup import (dedup_against_store,
                                             minhash_signature_arrays,
                                             write_signature_store)
        corpus = docs.filter(F.col("doc_id") % 2 == 0).limit(100)
        batch = docs.filter(F.col("doc_id") % 2 == 1).limit(100)
        p = str(tmp_path / "grow_store")
        write_signature_store(minhash_signature_arrays(corpus, 8, 2), p,
                              hash_family="km_md5", num_hashes=8, k=2)
        novel = dedup_against_store(batch, p, append=True)
        n_novel = novel.count()
        assert 0 < n_novel
        # replay: every batch doc now collides (kept ones with themselves)
        assert dedup_against_store(batch, p).count() == 0
        with pytest.raises(RuntimeError, match="hash_family"):
            dedup_against_store(batch, p, hash_family="band_md5")
        with pytest.raises(ValueError, match="path store"):
            dedup_against_store(batch, minhash_signature_arrays(corpus, 8, 2),
                                append=True)

    def test_marker_invisible_to_plain_parquet_read(self, spark, docs,
                                                    tmp_path):
        """The underscore-prefixed marker dir must not leak into a plain
        spark.read.parquet of the store (the _SUCCESS convention)."""
        from filterz_spark.ops.dedup import write_signature_store
        p = str(tmp_path / "store")
        sigs = self._sigs(spark, docs)
        write_signature_store(sigs, p, hash_family="km_md5",
                              num_hashes=8, k=2)
        plain = spark.read.parquet(p)
        assert set(plain.columns) == {"doc_id", "sig"}
        assert plain.count() == sigs.count()


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark, emb):
        from filterz_spark.ops.similarity import cosine_topk
        rows = emb.collect()
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        ids = np.array([r["vec_id"] for r in rows])
        q = mat[ids == 0][0]
        sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        order = np.lexsort((ids, -np.round(sims, 6)))[:10]
        want = list(ids[order])
        got = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
        assert got == want

    def test_lsh_ann_recall(self, spark, emb):
        """Multiprobe LSH top-10 must share most of brute-force top-10."""
        from filterz_spark.ops.similarity import cosine_topk, lsh_ann_topk
        q = emb.filter("vec_id = 0").collect()[0]["embedding"]
        brute = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
        ann = {r["vec_id"] for r in lsh_ann_topk(emb, q, 10, num_planes=8).collect()}
        assert len(brute & ann) >= 5  # recall with 8-bit sig + hamming-1 probe

    def test_buckets_deterministic(self, spark, emb):
        from filterz_spark.ops.similarity import lsh_buckets
        a = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb, 12).collect()}
        b = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb.repartition(7), 12).collect()}
        assert a == b


class TestText:
    def test_token_counts_match_python(self, spark, docs):
        from filterz_spark.ops.text import token_counts
        got = {r["doc_id"]: r["n_tokens"] for r in token_counts(docs).collect()}
        for r in docs.limit(50).collect():
            assert got[r["doc_id"]] == len(r["text"].split(" "))

    def test_lang_guess_populated(self, spark, docs):
        from filterz_spark.ops.text import lang_id_scores
        out = lang_id_scores(docs)
        assert out.filter(F.col("lang_guess").isNull()).count() == 0

    def test_fingerprint_order_insensitive(self, spark, docs):
        """Fingerprint = xor over word hashes: shuffling words preserves it."""
        from filterz_spark.ops.text import doc_fingerprints
        shuffled = docs.withColumn(
            "text", F.array_join(F.shuffle(F.split("text", " ")), " "))
        a = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprints(docs).collect()}
        b = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprints(shuffled).collect()}
        assert a == b


class TestMultimodal:
    def test_fake_decode_shape_and_determinism(self, spark, docs):
        from filterz_spark.ops.multimodal import attach_media, decode_image_features
        media = attach_media(docs.limit(20))
        f1 = {r["media_id"]: r["features"] for r in decode_image_features(media).collect()}
        f2 = {r["media_id"]: r["features"] for r in
              decode_image_features(media.repartition(5)).collect()}
        assert f1 == f2
        assert all(len(v) == 16 for v in f1.values())

    def test_custom_decoder_injection(self, spark, docs):
        """The codec boundary is the decoder= callable: a user-supplied
        batch decoder replaces the fake codec without touching the
        operator (API seam, not a boolean gate)."""
        import numpy as np
        from filterz_spark.ops.multimodal import (
            attach_media, decode_image_features, resize_image, RESIZE_SRC)
        media = attach_media(docs.limit(10))

        def byte_len_decoder(payloads):
            lens = np.array([len(p.as_py() or b"") for p in payloads],
                            dtype=np.float32)
            return np.repeat(lens[:, None], 16, axis=1)

        out = {r["media_id"]: r["features"] for r in
               decode_image_features(media, decoder=byte_len_decoder).collect()}
        lens = {r["media_id"]: len(bytes(r["payload"])) for r in
                media.select("media_id", "payload").collect()}
        assert out.keys() == lens.keys()
        for mid, feats in out.items():
            assert feats == [float(lens[mid])] * 16

        def flat_gray_decoder(payloads):
            return np.full((len(payloads), RESIZE_SRC * RESIZE_SRC), 7.0)

        px = resize_image(media, out_h=4, out_w=4,
                          decoder=flat_gray_decoder).collect()
        assert all(r["pixels"] == [7.0] * 16 for r in px)

    def test_resize_box_filter_exact(self, spark, docs):
        """Box resample preserves the source byte sum exactly and is
        parallelism-independent; short payloads are zero-padded."""
        from filterz_spark.ops.multimodal import attach_media, resize_image
        media = attach_media(docs.limit(20))
        px = {r["media_id"]: r["pixels"] for r in resize_image(media).collect()}
        px2 = {r["media_id"]: r["pixels"]
               for r in resize_image(media.repartition(5)).collect()}
        assert px == px2
        payloads = {r["media_id"]: bytes(r["payload"])
                    for r in media.select("media_id", "payload").collect()}
        for mid, p in payloads.items():
            assert len(px[mid]) == 64
            assert sum(px[mid]) * 4 == sum(p[:256])

    def test_null_payload_decodes_like_empty(self, spark):
        """A NULL payload decodes and resizes exactly like an empty one,
        also when the NULL slot's offsets span bytes of the values buffer
        (Arrow leaves a NULL slot's contents undefined)."""
        import numpy as np
        import pyarrow as pa
        from filterz_spark.ops.multimodal import (
            decode_image_features, fake_feature_decoder, fake_grid_decoder,
            resize_image)
        media = spark.createDataFrame(
            [(1, None), (2, b""), (3, b"some payload bytes"), (4, None)],
            "media_id long, payload binary")
        feats = {r["media_id"]: r["features"]
                 for r in decode_image_features(media).collect()}
        px = {r["media_id"]: r["pixels"] for r in resize_image(media).collect()}
        for out in (feats, px):
            assert out[1] == out[2] == out[4] == [0.0] * len(out[2])
            assert any(out[3])
        # NULL slot 1 spans "xyz" in the values buffer
        arr = pa.Array.from_buffers(
            pa.binary(), 3,
            [pa.py_buffer(np.packbits([1, 0, 1], bitorder="little").tobytes()),
             pa.py_buffer(np.array([0, 2, 5, 5], np.int32).tobytes()),
             pa.py_buffer(b"abxyz")], null_count=1)
        empty = pa.array([b"ab", b"", b""], pa.binary())
        for decode in (fake_feature_decoder, fake_grid_decoder):
            np.testing.assert_array_equal(decode(arr), decode(empty))

    def test_resize_rejects_non_divisor_dims(self, spark, docs):
        from filterz_spark.ops.multimodal import attach_media, resize_image
        with pytest.raises(ValueError, match="must divide"):
            resize_image(attach_media(docs.limit(1)), out_h=5)


class TestRepetitionAndDecontamination:
    def test_repetition_extremes(self, spark):
        from filterz_spark.ops.text import repetition_scores
        df = spark.createDataFrame(
            [(1, "spam spam spam spam"), (2, "all words here differ")],
            ["doc_id", "text"])
        r = {x["doc_id"]: x for x in repetition_scores(df).collect()}
        assert r[1]["distinct_ratio"] == 0.25 and r[1]["top_word_frac"] == 1.0 \
            and r[1]["top_bigram_frac"] == 1.0
        assert r[2]["distinct_ratio"] == 1.0 and r[2]["top_word_frac"] == 0.25

    def test_repetition_matches_python_reference(self, spark):
        """Word and bigram statistics vs a python reference: tied top
        words and bigrams, empty words from runs of spaces, short and
        empty texts; a NULL text yields no row and a repeated doc_id one
        row per input row."""
        from collections import Counter
        from filterz_spark.ops.text import repetition_scores
        rows = [(1, "a b a b c"), (2, "x  y   x"), (3, "one"), (4, ""),
                (5, None), (6, "b a b a"), (6, "q q q r")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in repetition_scores(df).collect())

        def ref(doc_id, text):
            words = text.split(" ")
            bigrams = ([" ".join(words[i:i + 2])
                        for i in range(len(words) - 1)]
                       if len(words) >= 2 else [text])
            n = len(words)
            return (doc_id, n, round(len(set(words)) / n, 4),
                    round(max(Counter(words).values()) / n, 4),
                    round(max(Counter(bigrams).values()) / len(bigrams), 4))

        assert got == sorted(ref(d, t) for d, t in rows if t is not None)
        assert [g[0] for g in got].count(6) == 2

    def test_decontaminate_bounds(self, spark):
        from filterz_spark.ops.dedup import ngram_decontaminate
        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "totally novel text body")],
            ["doc_id", "text"])
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps")], ["doc_id", "text"])
        c = {x["doc_id"]: x for x in ngram_decontaminate(train, bench).collect()}
        assert c[1]["contamination"] == 1.0  # verbatim benchmark doc
        assert c[2]["contamination"] == 0.0
        flagged = ngram_decontaminate(train, bench, min_contamination=0.5)
        assert [r["doc_id"] for r in flagged.collect()] == [1]
        with pytest.raises(ValueError, match="unknown shingle_key"):
            ngram_decontaminate(train, bench, shingle_key="md5")

    def test_decontaminate_xxhash64_key_matches_string(self, spark, docs):
        """The scale mode (join on xxhash64(shingle), 8-byte broadcast
        entries) must make IDENTICAL contamination decisions — row-for-row
        equal output incl. counts — to the oracle-mode string join."""
        from filterz_spark.ops.dedup import ngram_decontaminate
        train = docs.filter("doc_id % 50 != 0")
        bench = docs.filter("doc_id % 50 = 0")
        s = ngram_decontaminate(train, bench, k=3)
        x = ngram_decontaminate(train, bench, k=3, shingle_key="xxhash64")
        assert s.exceptAll(x).count() == 0 and x.exceptAll(s).count() == 0

    # (broadcast-plan gate lives in test_plans.py::
    # test_decontaminate_benchmark_is_broadcast, which also covers the
    # composed pipeline)


class TestTemporalJoins:
    def test_asof_join_semantics(self, spark):
        from filterz_spark.ops.relational import asof_join
        import datetime as dt
        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
        left = spark.createDataFrame(
            [(1, 10, t(5)), (2, 10, t(20)), (3, 20, t(5)), (4, 30, t(9))],
            ["event_id", "user_id", "ts"])
        right = spark.createDataFrame(
            [(10, t(3), 100, 1.0), (10, t(5), 101, 2.0), (10, t(7), 102, 3.0),
             (20, t(6), 200, 9.0)],
            ["user_id", "ts", "event_id", "value"])
        out = {r["event_id"]: (r["event_id_asof"], r["value_asof"]) for r in
               asof_join(left, right, "user_id", "ts",
                         ("event_id", "value")).collect()}
        assert out[1] == (101, 2.0)   # right row AT the left ts wins
        assert out[2] == (102, 3.0)   # latest before
        assert out[3] == (None, None)  # right rows only in the future
        assert out[4] == (None, None)  # user with no right rows at all

    def test_asof_equal_ts_tie_deterministic(self, spark):
        from filterz_spark.ops.relational import asof_join
        import datetime as dt
        t0 = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame([(1, 5, t0)], ["event_id", "user_id", "ts"])
        right = spark.createDataFrame(
            [(5, t0, 7, 1.0), (5, t0, 9, 2.0), (5, t0, 8, 3.0)],
            ["user_id", "ts", "event_id", "value"])
        for _ in range(3):
            row = asof_join(left, right.repartition(3), "user_id", "ts",
                            ("event_id", "value")).collect()[0]
            # highest unique id wins (last in the nulls-first ascending order)
            assert (row["event_id_asof"], row["value_asof"]) == (9, 2.0)

    def test_asof_null_value_in_latest_row_not_spliced(self, spark):
        """A NULL in the latest right row must surface as NULL — not be
        silently replaced by an OLDER row's value (atomic-row contract)."""
        from filterz_spark.ops.relational import asof_join
        import datetime as dt
        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
        left = spark.createDataFrame([(1, 5, t(10))],
                                     ["event_id", "user_id", "ts"])
        right = spark.createDataFrame(
            [(5, t(1), 100, 7.0), (5, t(2), 101, None)],
            "user_id long, ts timestamp, event_id long, value double")
        row = asof_join(left, right, "user_id", "ts",
                        ("event_id", "value")).collect()[0]
        assert row["event_id_asof"] == 101
        assert row["value_asof"] is None, \
            "older row's value was spliced into the latest row's annotation"

    def test_range_join_keys_and_bounds(self, spark):
        from filterz_spark.ops.relational import range_join
        import datetime as dt
        t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        clicks = spark.createDataFrame(
            [(1, 10, t(5)), (2, 10, t(31)), (3, 20, t(5)), (4, 10, t(0))],
            ["event_id", "user_id", "ts"])
        inc = spark.createDataFrame(
            [(10, 99, t(0), t(30))],
            ["user_id", "incident_id", "start_ts", "end_ts"])
        got = {(r["event_id"], r["incident_id"]) for r in
               range_join(clicks, inc, "ts", "start_ts", "end_ts",
                          keys=("user_id",), bucket_seconds=600).collect()}
        # in-range same-user only: start inclusive, end exclusive, and the
        # same-time click of ANOTHER user (id 3) must NOT match — the case
        # a trivially-true key predicate would get wrong
        assert got == {(1, 99), (4, 99)}

    def test_range_join_no_nested_loop(self, spark):
        """The bucketed plan must be a real equi-join, not a broadcast
        nested loop / cartesian product."""
        from filterz_spark.ops.relational import range_join
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
        inc = (ev.filter("event_type = 'error'")
               .select("user_id", F.col("event_id").alias("incident_id"),
                       F.col("ts").alias("start_ts"),
                       (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts")))
        p = range_join(clicks, inc, "ts", "start_ts", "end_ts",
                       keys=("user_id",))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in p and "CartesianProduct" not in p, p


class TestCurationPipeline:
    def test_pipeline_stage_contracts(self, spark, docs):
        from filterz_spark.ops.pipeline import curate_training_set
        bench = docs.filter("doc_id % 50 = 0")
        out = curate_training_set(docs, bench, {"en": 1.0, "de": 1.0},
                                  max_contamination=0.2).cache()
        rows = out.collect()
        ids = {r["doc_id"] for r in rows}
        # benchmark docs are verbatim-contaminated: never in the output
        assert not any(i % 50 == 0 for i in ids)
        # unlisted strata dropped
        assert {r["lang"] for r in rows} <= {"en", "de"}
        assert all(r["n_tokens"] >= 5 for r in rows)
        assert 0 < len(ids) < docs.count()
        # dedup: one survivor per normalized hash, the min doc_id
        from filterz_spark.ops.text import normalize_text
        nh = {r["doc_id"]: r["norm_hash"]
              for r in normalize_text(docs).collect()}
        by_hash = {}
        for i in ids:
            by_hash.setdefault(nh[i], []).append(i)
        assert all(len(v) == 1 for v in by_hash.values())

    def test_pipeline_requires_strata(self, spark, docs):
        from filterz_spark.ops.pipeline import curate_training_set
        with pytest.raises(ValueError, match="at least one stratum"):
            curate_training_set(docs, docs.limit(1), {})

    def test_first_doc_per_content(self, spark):
        """Exact dedup keeps each normalized content's min doc_id: a
        case/punctuation copy collapses onto the lower id, a doc_id
        repeated with the same content comes out once (doc_id is the row
        key), and a NULL text never survives."""
        from filterz_spark.ops.pipeline import curate_training_set
        fox = "The quick brown fox jumps over the lazy dog"
        greek = "Alpha beta gamma delta epsilon zeta eta"
        docs = spark.createDataFrame(
            [(7, fox, "en"),
             (2, "the QUICK, brown fox -- jumps over the lazy dog!", "en"),
             (3, None, "en"),
             (4, greek, "en"), (4, greek, "en"),
             (5, "lorem ipsum dolor sit amet consectetur adipiscing", "de")],
            "doc_id long, text string, lang string")
        bench = spark.createDataFrame(
            [(100, "an unrelated benchmark passage", "en")],
            "doc_id long, text string, lang string")
        got = sorted(tuple(r) for r in curate_training_set(
            docs, bench, {"en": 1.0, "de": 1.0}).collect())
        assert got == [(2, "en", 9), (4, "en", 7), (5, "de", 7)]

    def test_checkpoint_dir_changes_nothing(self, spark, docs, tmp_path):
        """A session checkpoint dir neither changes the curated rows nor
        gets written to: the plan has no checkpoint."""
        from filterz_spark.ops.pipeline import curate_training_set
        bench = docs.filter("doc_id % 50 = 0")

        def rows():
            return {tuple(r) for r in curate_training_set(
                docs, bench, {"en": 1.0, "de": 1.0}).collect()}

        base = rows()
        assert base
        # SparkContext has no public unset: restore through the JVM setter
        sc = spark.sparkContext._jsc.sc()
        saved = sc.getCheckpointDir()
        ckpt = tmp_path / "ckpt"
        try:
            spark.sparkContext.setCheckpointDir(str(ckpt))
            assert rows() == base
        finally:
            getattr(sc, "checkpointDir_$eq")(saved)
        assert not any(f.is_file() for f in ckpt.rglob("*"))


class TestSamplingAndNormalization:
    def test_stratified_sample_deterministic_and_proportional(self, spark, docs):
        from filterz_spark.ops.relational import stratified_sample
        fr = {"en": 0.5, "de": 1.0}
        a = {r["doc_id"] for r in
             stratified_sample(docs, "doc_id", fr).select("doc_id").collect()}
        b = {r["doc_id"] for r in
             stratified_sample(docs.repartition(7), "doc_id", fr)
             .select("doc_id").collect()}
        assert a == b, "sample membership must be partition-independent"
        by_lang = {r["lang"]: r["n"] for r in
                   stratified_sample(docs, "doc_id", fr).groupBy("lang")
                   .agg(F.count("*").alias("n")).collect()}
        n_en = docs.filter("lang = 'en'").count()
        n_de = docs.filter("lang = 'de'").count()
        assert set(by_lang) == {"en", "de"}, "unlisted strata must drop"
        assert by_lang["de"] == n_de, "fraction 1.0 keeps the whole stratum"
        assert abs(by_lang["en"] / n_en - 0.5) < 0.15
        with pytest.raises(ValueError, match="at least one stratum"):
            stratified_sample(docs, "doc_id", {})

    def test_stratified_sample_seed_changes_membership(self, spark, docs):
        from filterz_spark.ops.relational import stratified_sample
        fr = {"en": 0.5}
        a = {r["doc_id"] for r in stratified_sample(docs, "doc_id", fr).collect()}
        b = {r["doc_id"] for r in
             stratified_sample(docs, "doc_id", fr, seed="7").collect()}
        assert a != b

    def test_normalize_text_idempotent(self, spark):
        from filterz_spark.ops.text import normalize_text
        df = spark.createDataFrame(
            [(1, "  Hello,   WORLD!! it's 42  "), (2, "already clean words")],
            ["doc_id", "text"])
        out = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
        assert out[1] == "hello world it s 42"
        assert out[2] == "already clean words"
        again = normalize_text(
            spark.createDataFrame([(1, out[1])], ["doc_id", "text"]))
        assert again.collect()[0]["norm_text"] == out[1]


class TestLshStrategies:
    def test_pairs_match_python_bucketing(self, spark, docs):
        """The one-shuffle group plan must emit exactly the pairs (and
        shared-band counts) of a plain Python bucketing of the same
        signatures."""
        from itertools import combinations

        from filterz_spark.ops.dedup import (lsh_candidate_pairs,
                                             minhash_signature_arrays)
        buckets = {}
        for r in minhash_signature_arrays(docs).collect():
            for band, mh in enumerate(r["sig"]):
                buckets.setdefault((band, mh), []).append(r["doc_id"])
        want = {}
        for ids in buckets.values():
            if len(ids) > 10_000:  # the default max_bucket_size
                continue
            for a, b in combinations(sorted(ids), 2):
                want[(a, b)] = want.get((a, b), 0) + 1
        got = {(r["doc_a"], r["doc_b"]): r["n_bands"]
               for r in lsh_candidate_pairs(docs).collect()}
        assert got == want and len(got) > 0

    def test_group_strategy_respects_bucket_cap(self, spark, docs):
        from filterz_spark.ops.dedup import lsh_candidate_pairs
        # cap of 1 excludes every bucket with >= 2 members: no pairs at all
        assert lsh_candidate_pairs(docs, max_bucket_size=1).count() == 0


class TestPq:
    def test_pq_encode_shape_and_determinism(self, spark, emb):
        from filterz_spark.ops.similarity import pq_encode, pq_train
        cb = pq_train(emb, m=4, k_sub=16, iters=2)
        assert cb.shape == (4, 16, 16)
        cb2 = pq_train(emb.repartition(7), m=4, k_sub=16, iters=2)
        assert np.allclose(cb, cb2), "PQ training must be partition-independent"
        codes = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb).collect()}
        assert len(codes) == emb.count()
        assert all(len(c) == 4 and all(0 <= v < 16 for v in c)
                   for c in codes.values())

    def test_pq_adc_recall_and_exact_regime(self, spark, emb):
        from filterz_spark.ops.similarity import (cosine_topk, pq_ann_topk,
                                                  pq_train)
        cb = pq_train(emb, m=4, k_sub=16, iters=2)
        q = emb.filter("vec_id = 0").collect()[0]["embedding"]
        brute = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
        ann = [r["vec_id"] for r in pq_ann_topk(emb, q, cb, 10, rerank=50).collect()]
        assert len(set(brute) & set(ann)) >= 5, f"ADC recall too low: {set(brute) & set(ann)}"
        # rerank >= corpus: provably the exact top-k, same order
        full = [r["vec_id"] for r in
                pq_ann_topk(emb, q, cb, 10, rerank=emb.count()).collect()]
        assert full == brute

    def test_ivfpq_recall_and_exact_regime(self, spark, emb):
        from filterz_spark.ops.similarity import (cosine_topk, ivf_train,
                                                  ivfpq_ann_topk, ivfpq_index,
                                                  pq_train)
        centroids = ivf_train(emb, n_clusters=8, iters=2)
        cb = pq_train(emb, m=4, k_sub=16, iters=2)
        idx = ivfpq_index(emb, centroids, cb)
        q = emb.filter("vec_id = 0").collect()[0]["embedding"]
        brute = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
        # lossy regime: partial probe + bounded rerank, gated on recall
        ann = [r["vec_id"] for r in
               ivfpq_ann_topk(emb, q, centroids, cb, 10, n_probe=4,
                              rerank=50, index=idx).collect()]
        assert len(set(brute) & set(ann)) >= 5, set(brute) & set(ann)
        # exact regime: all lists probed + rerank everything == exact top-k
        n = emb.count()
        full = [r["vec_id"] for r in
                ivfpq_ann_topk(emb, q, centroids, cb, 10, n_probe=8,
                               rerank=n, index=idx).collect()]
        assert full == brute

    def test_pq_codes_table_layout_independent(self, spark, emb):
        """A persisted codes table with reordered or extra columns must
        score identically (columns are selected by name, not position)."""
        from filterz_spark.ops.similarity import (cosine_topk, pq_ann_topk,
                                                  pq_encode, pq_train)
        cb = pq_train(emb, m=4, k_sub=16, iters=2)
        q = emb.filter("vec_id = 0").collect()[0]["embedding"]
        messy = pq_encode(emb, cb).select(
            F.lit(0).alias("junk"), "codes", "vec_id")
        got = [r["vec_id"] for r in
               pq_ann_topk(emb, q, cb, 10, rerank=emb.count(),
                           codes=messy).collect()]
        want = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
        assert got == want

    def test_pq_rejects_non_divisor_m(self, spark, emb):
        from filterz_spark.ops.similarity import pq_train
        with pytest.raises(ValueError, match="not divisible"):
            pq_train(emb, m=5, k_sub=8, iters=1)


class TestIvf:
    def test_ivf_recall_and_determinism(self, spark, emb):
        from filterz_spark.ops.similarity import cosine_topk, ivf_ann_topk, ivf_train
        centroids = ivf_train(emb, n_clusters=16, iters=3)
        c2 = ivf_train(emb.repartition(7), n_clusters=16, iters=3)
        assert np.allclose(centroids, c2), "IVF training must be partition-independent"
        q = emb.filter("vec_id = 0").collect()[0]["embedding"]
        brute = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
        ann = {r["vec_id"] for r in ivf_ann_topk(emb, q, centroids, 10, n_probe=4).collect()}
        assert len(brute & ann) >= 5, f"IVF recall too low: {brute & ann}"

    def test_ivf_assign_covers_all(self, spark, emb):
        from filterz_spark.ops.similarity import ivf_assign, ivf_train
        centroids = ivf_train(emb, n_clusters=8, iters=2)
        assigned = ivf_assign(emb, centroids)
        assert assigned.count() == emb.count()
        assert assigned.select("cluster").distinct().count() >= 4

    def test_ivf_recenter_collects_one_row_per_cluster_at_wide_dim(self, spark):
        """Lloyd re-centering must pull n_clusters rows to the driver, not
        n_clusters x dim scalar rows (~3.1M rows/iteration at 4096x768),
        and the packed means must match a numpy k-means step exactly."""
        from filterz_spark.ops.similarity import _recenter_means, ivf_assign
        rng = np.random.default_rng(7)
        dim, n, k = 256, 400, 8
        mat = rng.normal(size=(n, dim))
        df = spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(n)],
            "vec_id long, embedding array<double>")
        centroids = mat[:k].astype(np.float64)
        joined = ivf_assign(df, centroids).join(df, "vec_id")
        per_cluster = _recenter_means(joined, "embedding")
        rows = per_cluster.collect()
        assert len(rows) <= k  # ONE row per non-empty cluster
        # numpy ground truth for the same assignment
        cn = np.linalg.norm(centroids, axis=1)
        sims = (mat @ centroids.T) / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12) / cn
        assign = np.argmax(sims, axis=1)
        for r in rows:
            expect = mat[assign == r["cluster"]].mean(axis=0)
            got = np.array([e["m"] for e in r["dm"]])
            assert [e["d"] for e in r["dm"]] == list(range(dim))
            assert np.allclose(got, expect)


class TestPipelineRelational:
    def test_latest_per_key_one_row_per_key_max_order(self, spark):
        from filterz_spark.ops.relational import latest_per_key
        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        latest = latest_per_key(ev, "user_id", "ts", "event_id").cache()
        assert latest.count() == ev.select("user_id").distinct().count()
        maxes = ev.groupBy("user_id").agg(F.max("ts").alias("mx"))
        joined = latest.join(maxes, "user_id")
        assert joined.filter(F.col("ts") != F.col("mx")).count() == 0
        latest.unpersist()

    def test_hash_split_deterministic_and_partition_independent(self, spark):
        from filterz_spark.ops.relational import hash_split
        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        a = {r["doc_id"]: r["split"]
             for r in hash_split(docs, "doc_id", 0.8, "42").select("doc_id", "split").collect()}
        b = {r["doc_id"]: r["split"]
             for r in hash_split(docs.repartition(7), "doc_id", 0.8, "42")
             .select("doc_id", "split").collect()}
        assert a == b, "split must be a pure function of (seed, key)"
        frac = sum(v == "train" for v in a.values()) / len(a)
        assert 0.7 < frac < 0.9  # binomial around 0.8 at n=500
        c = {r["doc_id"]: r["split"]
             for r in hash_split(docs, "doc_id", 0.8, "43").select("doc_id", "split").collect()}
        assert a != c, "different seed must reshuffle the split"

    def test_hash_split_is_map_only(self, spark):
        from filterz_spark.ops.relational import hash_split
        import io
        from contextlib import redirect_stdout
        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        buf = io.StringIO()
        with redirect_stdout(buf):
            hash_split(docs, "doc_id").explain("simple")
        assert "Exchange" not in buf.getvalue()


class TestScaleHardening:
    """Round-2 scale fixes: LSH hot-bucket cap, recall-1 ANN regimes,
    materialized IVF index, convergence guard, rolling-window semantics."""

    def test_lsh_hot_bucket_cap_bounds_output(self, spark, docs):
        from filterz_spark.ops.dedup import lsh_candidate_pairs
        # 40 copies of one doc = a degenerate bucket; cap 10 must drop it
        hot = docs.limit(1)
        clones = [hot.withColumn("doc_id", F.col("doc_id") + 1_000 + i)
                  for i in range(40)]
        poisoned = docs.limit(20)
        for c in clones:
            poisoned = poisoned.unionByName(c)
        capped = lsh_candidate_pairs(poisoned, num_hashes=4, k=2,
                                     max_bucket_size=10)
        uncapped = lsh_candidate_pairs(poisoned, num_hashes=4, k=2,
                                       max_bucket_size=None)
        n_capped, n_uncapped = capped.count(), uncapped.count()
        assert n_uncapped >= 41 * 40 // 2  # quadratic blowup without the cap
        assert n_capped < n_uncapped / 5   # cap removes the hot bucket
        # a no-op cap reproduces the uncapped result exactly
        same = lsh_candidate_pairs(poisoned, num_hashes=4, k=2,
                                   max_bucket_size=10_000)
        assert same.count() == n_uncapped

    def test_lsh_ann_all_bucket_multiprobe_equals_exact(self, spark, emb):
        from filterz_spark.ops.similarity import cosine_topk, lsh_ann_topk
        qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
        exact = cosine_topk(emb, qvec, k=10).collect()
        ann = lsh_ann_topk(emb, qvec, k=10, num_planes=4, multiprobe=4).collect()
        assert [(r["vec_id"], r["cosine"]) for r in exact] == \
               [(r["vec_id"], r["cosine"]) for r in ann]

    def test_ivf_full_probe_equals_exact_and_index_reused(self, spark, emb):
        from filterz_spark.ops.similarity import (
            cosine_topk, ivf_ann_topk, ivf_index, ivf_train)
        qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
        centroids = ivf_train(emb, n_clusters=8, iters=2)
        index = ivf_index(emb, centroids)
        exact = cosine_topk(emb, qvec, k=10).collect()
        got = ivf_ann_topk(emb, qvec, centroids, k=10, n_probe=8,
                           index=index).collect()
        assert [(r["vec_id"], r["cosine"]) for r in exact] == \
               [(r["vec_id"], r["cosine"]) for r in got]
        # serving from the materialized index must not re-run assignment:
        # the executed plan reads the cached index (InMemoryTableScan); the
        # MapInArrow assignment only appears INSIDE the InMemoryRelation's
        # recorded lineage, never as a live stage above the scan
        plan = ivf_ann_topk(emb, qvec, centroids, k=10, n_probe=2,
                            index=index)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert "MapInArrow" not in plan.split("InMemoryRelation")[0]
        index.unpersist()

    def test_cosine_near_dups_defaults_to_lsh_path(self, spark, emb):
        import inspect
        from filterz_spark.ops.similarity import cosine_near_dup_pairs
        sig = inspect.signature(cosine_near_dup_pairs)
        assert sig.parameters["exact"].default is False
        # degenerate single-bucket LSH == exact all-pairs
        lsh = cosine_near_dup_pairs(emb, threshold=0.3, num_planes=0)
        ex = cosine_near_dup_pairs(emb, threshold=0.3, exact=True)
        assert sorted(map(tuple, lsh.collect())) == sorted(map(tuple, ex.collect()))

    def test_simhash_recall_contract(self, spark, docs):
        """Pairs within the advertised hamming threshold are always found
        (pigeonhole: max_hamming+1 blocks)."""
        from filterz_spark.ops.dedup import simhash_near_pairs
        clone = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        near = simhash_near_pairs(docs.limit(50).unionByName(clone))
        found = near.filter((F.col("doc_b") == F.col("doc_a") + 1_000_000)
                            & (F.col("hamming") == 0)).count()
        assert found == 5

    def test_dedup_components_raises_on_non_convergence(self, spark):
        from filterz_spark.ops.relational import dedup_components
        # a path graph 0-1-2-...-29 has diameter 29 > max_iters
        ids = spark.range(30).select(F.col("id").alias("doc_id"))
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(29)], "doc_a long, doc_b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(pairs, ids, max_iters=3)
        ok = dedup_components(pairs, ids, max_iters=40)
        assert ok.filter(F.col("cluster_id") != 0).count() == 0

    def test_rolling_fingerprints_window_semantics(self, spark):
        """Order sensitivity + exact window values vs a python reference,
        edge texts included; a NULL text yields no row and a repeated
        doc_id one row per input row."""
        import hashlib
        from filterz_spark.ops.text import (
            ROLLING_BASE, ROLLING_WINDOW, rolling_fingerprints)
        rows = [(1, "a b c d e f g h i j"), (2, "j i h g f e d c b a"),
                (3, "a b c"), (4, "a b c d e f g h i j"), (5, None),
                (6, ""), (7, "word"), (8, "a  b   c"),
                (9, "a b c d e f g h"), (9, "x y z")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted((r["doc_id"], r["n_windows"], r["rolling_min"],
                      r["rolling_max"])
                     for r in rolling_fingerprints(df).collect())

        def wh(w):
            return int(hashlib.md5(w.encode()).hexdigest()[:7], 16)

        def fps(text):
            hs = [wh(w) for w in text.split(" ")]
            if len(hs) < ROLLING_WINDOW:
                return [sum(h * ROLLING_BASE ** (len(hs) - 1 - j)
                            for j, h in enumerate(hs))]
            return [sum(hs[i + j] * ROLLING_BASE ** (ROLLING_WINDOW - 1 - j)
                        for j in range(ROLLING_WINDOW))
                    for i in range(len(hs) - ROLLING_WINDOW + 1)]

        exp = sorted((d, len(f), min(f), max(f))
                     for d, f in ((d, fps(t)) for d, t in rows if t is not None))
        assert got == exp
        by_id = {g[0]: g[1:] for g in got}
        assert by_id[1] != by_id[2]      # order-sensitive
        assert by_id[1] == by_id[4]      # content-deterministic
        assert by_id[6][0] == by_id[7][0] == 1 and by_id[8][0] == 1
        assert [g[0] for g in got].count(9) == 2

    def test_dedup_components_large_pair_count_no_lineage_blowup(self, spark):
        """VERDICT #8: 10x the sf0.01 candidate-pair count through the
        iterative propagation must complete with bounded lineage (the
        localCheckpoint cut) — a star-of-chains graph exercises several
        rounds over ~230k edges."""
        n_chains, chain_len = 2300, 10  # 230k pairs, diameter 2*chain_len
        ids = spark.range(n_chains * chain_len).select(F.col("id").alias("doc_id"))
        pairs = spark.range(n_chains * chain_len - 1).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        ).filter((F.col("doc_b") % chain_len) != 0)  # break into chains
        hub = spark.range(n_chains).select(
            F.lit(0).cast("long").alias("doc_a"),
            (F.col("id") * chain_len).alias("doc_b")).filter("doc_b > 0")
        from filterz_spark.ops.relational import dedup_components
        labels = dedup_components(pairs.unionByName(hub), ids, max_iters=30)
        # every chain hangs off the hub through node 0 -> one component
        assert labels.filter(F.col("cluster_id") != 0).count() == 0


class TestHypertableRollup:
    def test_coarse_levels_rebuild_from_fine(self, spark):
        from filterz_spark.ops.relational import hypertable_rollup
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        out = hypertable_rollup(ev, "ts", "value", ("hour", "day")).cache()
        day = {r["bucket_start"]: (r["cnt"], round(r["sum_value"], 2))
               for r in out.filter("resolution = 'day'").collect()}
        want = {r["d"]: (r["cnt"], round(r["sv"], 2)) for r in
                ev.groupBy(F.date_trunc("day", "ts").alias("d"))
                .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
                .collect()}
        assert day == want
        # total row conservation per level
        hours = out.filter("resolution = 'hour'")
        assert hours.agg(F.sum("cnt")).collect()[0][0] == ev.count()

    def test_rejects_empty_resolutions(self, spark):
        from filterz_spark.ops.relational import hypertable_rollup
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        with pytest.raises(ValueError, match="at least one resolution"):
            hypertable_rollup(ev, resolutions=())


class TestQuotaAndProps:
    def test_per_key_quota_cap_and_determinism(self, spark, docs):
        from filterz_spark.ops.relational import per_key_quota
        capped = per_key_quota(docs, "source", "doc_id", 7)
        sizes = {r["source"]: r["n"] for r in
                 capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert all(n <= 7 for n in sizes.values()) and max(sizes.values()) == 7
        a = {r["doc_id"] for r in capped.collect()}
        b = {r["doc_id"] for r in
             per_key_quota(docs.repartition(9), "source", "doc_id", 7).collect()}
        assert a == b, "kept set must be partition-independent"
        c = {r["doc_id"] for r in
             per_key_quota(docs, "source", "doc_id", 7, seed="9").collect()}
        assert a != c, "seed must change the kept set"
        with pytest.raises(ValueError, match="positive"):
            per_key_quota(docs, "source", "doc_id", 0)


class TestLmScores:
    def test_lm_score_orders_fluency(self, spark, docs):
        """A doc of corpus-frequent words must outscore a doc of words
        that appear nowhere else; scores are <= 0 and parallelism-stable."""
        from filterz_spark.ops.text import unigram_logprob_scores
        extra = spark.createDataFrame(
            [(900001, "the the the the"), (900002, "zzqx1 zzqx2 zzqx3 zzqx4")],
            ["doc_id", "text"]).withColumn("lang", F.lit("en"))
        both = docs.select("doc_id", "text", "lang").unionByName(extra)
        out = {r["doc_id"]: r["lm_score"] for r in
               unigram_logprob_scores(both).collect()}
        assert out[900001] > out[900002]
        assert all(v <= 0 for v in out.values())
        out2 = {r["doc_id"]: r["lm_score"] for r in
                unigram_logprob_scores(both.repartition(7)).collect()}
        assert out == out2
