"""Deduplication operators for training-data pipelines.

Exact dedup (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket groupBy), n-gram Jaccard verification, SimHash, and embedding-cosine
near-dup. All of them but one stage are JVM built-ins (md5 as the shared
word hash makes every value oracle-checkable in DuckDB, which has the same
md5). The one stage is the default (``km_md5``) MinHash signature pass: a
``mapInArrow`` that hands each batch of texts to one C kernel
(``native.km_md5_minhash``), which shingles and md5s each doc in place
with the same bits as the JVM ``md5``/``conv`` expression it replaced.
Nothing here runs per-row Python.

Scale posture: every operator is a groupBy/join on a derived key. The
fan-outs (x ~n_tokens per doc: band_md5 shingles, decontamination's
shingles, simhash's words, duplicate_spans' spans) are re-aggregated
map-side; the km_md5 signature pass and the Jaccard shingle sets (one
``array_distinct(shingle_array(k))`` per row) have no fan-out at all.
LSH bucketing replaces the O(n^2) all-pairs comparison with a groupBy
on (band, minhash) that Spark shuffles by bucket; Jaccard runs only on
LSH candidates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import native
from ..spark.fsio import check_marker, stamp_marker
from ..spark.partitioning import ensure_parallelism


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: (text_hash, keep_id, dup_count).

    NULL texts form ONE group (md5(NULL)=NULL, SQL GROUP BY semantics —
    matching the ANSI oracle). That is usually what dedup wants for a
    missing-content sentinel, but if NULL-text docs must each survive,
    filter them out before this operator and union them back.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").cast("long").alias("dup_count"))
    )


def shingle_array(k: int = 2, text_col: str = "text"):
    """Column expression: the word k-gram shingle ARRAY of a text column —
    the zero-shuffle building block behind ``shingles``.

    One ``regexp_extract_all`` pass: the pattern matches zero-width at
    every word start (the text start or just after a ``' '``) and captures
    the next k words, separators included, in a lookahead — exactly the
    ``concat_ws(' ', ...)`` of k consecutive ``split(text, ' ')`` words,
    empty words of runs of spaces included. A start with fewer than k
    words left matches nothing. Docs shorter than k words yield one
    whole-doc shingle (``size(split) < k``) — same contract as the DuckDB
    oracle; a NULL text yields NULL (no shingles).
    """
    text = F.col(text_col)
    pattern = f"(?:^|(?<= ))(?=([^ ]*(?: [^ ]*){{{k - 1}}}))"
    return F.when(text.isNotNull() & (F.size(F.split(text, " ")) < k),
                  F.array(text)).otherwise(
        F.regexp_extract_all(text, F.lit(pattern), F.lit(1)))


def shingles(docs: DataFrame, k: int = 2, text_col: str = "text") -> DataFrame:
    """Word k-gram shingles: (doc_id, shingle) — per-row expr (see
    ``shingle_array`` for the construction).

    The input is routed through ``ensure_parallelism`` first: the shingle
    expansion plus the hashing its consumers fuse on top of it (band_md5
    signatures, the benchmark side of ``ngram_decontaminate``) is their
    cost center, and
    Spark fuses it into the SCAN stage — a small or single-row-group input
    would otherwise run it on 1-2 tasks (measured 3-5x on the round-6 bench
    legs at local[32]). At corpus scale the helper is a no-op (scan
    partitions >= cores)."""
    base = ensure_parallelism(docs.select("doc_id", text_col))
    return base.select("doc_id",
                       F.explode(shingle_array(k, text_col)).alias("shingle"))


def minhash_signature_arrays(docs: DataFrame, num_hashes: int = 8,
                             k: int = 2,
                             hash_family: str = "km_md5") -> DataFrame:
    """Banded MinHash signature, ONE row per doc: (doc_id, sig array<string>).

    Hash families (both bit-identical in DuckDB, so fully oracle-checkable):

    - ``km_md5`` (DEFAULT since round 5): Kirsch-Mitzenmacher double
      hashing — ONE md5 per shingle split into two 56-bit halves (h1, h2:
      hex digits 1-14 and 15-28, i.e. ``conv(substring(md5, 1, 14), 16,
      10)`` and ``conv(substring(md5, 15, 14), 16, 10)``); band b's hash
      is ``h1 + b*h2`` (numeric min, stringified). The 10M-doc pipeline
      rehearsal (BENCH/PIPELINE.md) measured the signature pass as the
      single most expensive curation stage with band_md5's 8 md5s per
      shingle — km_md5 cuts the md5 count 8x with the standard KM
      guarantee (Kirsch & Mitzenmacher 2006: two-hash derived families
      preserve Bloom/MinHash-style error behavior). The pass runs in C,
      one call per Arrow batch of (doc_id, text) (``_km_sig_longs``): the
      kernel walks each text's word k-grams as byte ranges and folds the
      band minima, so no shingle row, md5 hex string or ``conv`` round
      trip exists; the values are the JVM expression's, bit for bit
      (tests/test_native.py keeps that expression as the oracle).
      56-bit halves keep ``h1 + b*h2`` < 2^61 for num_hashes <= 15 — no
      int64 overflow (enforced).
    - ``band_md5`` (the round-1..4 default): md5 of 'band:shingle' —
      ``num_hashes`` independent md5 evaluations per shingle; minhash =
      lexicographic min of fixed-width hex = numeric min of the underlying
      128-bit value. Kept for fully-independent band hashes and for
      signature stores written by earlier rounds (the two families'
      signatures are NOT comparable — never mix them in one store).

    Any other ``hash_family`` raises ``ValueError``. That includes the
    retired KM family over JVM ``xxhash64``: its win was measured against
    the JVM km_md5 expression, and the C km_md5 pass is ~3x faster.

    CHANGED in round 5: the default flipped from ``band_md5`` to
    ``km_md5`` — the builder's own rehearsal identified the 8-md5/shingle
    signature pass as the pipeline cost center. Pin ``band_md5``
    explicitly to reproduce round-1..4 signatures.

    This is the storage/compute form: all ``num_hashes`` band hashes are
    computed as columns of the SAME row (one per shingle, or one per doc
    under km_md5) and reduced in one groupBy(doc_id) with per-band min
    aggregates — no band-replication of the shingle rows (the former
    crossJoin form shuffled num_hashes x n_shingles rows through a
    (doc_id, band) aggregate; this shuffles only map-side-combined
    partials, one row per doc per map partition). At corpus scale this
    table is what you persist; downstream consumers explode it on demand.
    """
    if hash_family == "km_md5":
        return _km_sig_longs(docs, num_hashes, k).select(
            "doc_id", F.col("sig").cast("array<string>").alias("sig"))
    if hash_family != "band_md5":
        raise ValueError(f"unknown hash_family {hash_family!r}")
    mins = [
        F.min(F.md5(F.concat_ws(":", F.lit(b), F.col("shingle")))).alias(f"m{b}")
        for b in range(num_hashes)
    ]
    agg = shingles(docs, k=k).groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[f"m{b}" for b in range(num_hashes)]).alias("sig"))


def _km_md5_fn(k: int, num_hashes: int):
    """mapInArrow closure over (doc_id, text) batches: one row per non-NULL
    text, (doc_id, m0..m{num_hashes-1}), from one native kernel call per
    batch over the text column's Arrow buffers (no copy of the text)."""
    names = ["doc_id"] + [f"m{b}" for b in range(num_hashes)]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            text = batch.column(1)
            if text.null_count:  # explode(NULL) emitted no shingle either
                batch = batch.filter(text.is_valid())
                text = batch.column(1)
            if batch.num_rows == 0:
                continue
            _, offsets, data = text.buffers()
            wide = pa.types.is_large_string(text.type)  # useLargeVarTypes
            offs = np.frombuffer(offsets, np.int64 if wide else np.int32)
            mins = native.km_md5_minhash(
                np.frombuffer(data, np.uint8),
                offs[text.offset:text.offset + len(text) + 1], k, num_hashes)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)] + [pa.array(mins[:, b])
                                     for b in range(num_hashes)],
                names=names)

    return fn


def _km_sig_longs(docs: DataFrame, num_hashes: int, k: int) -> DataFrame:
    """(doc_id, sig array<bigint>): the km_md5 band minima, the one source
    of its signatures (``minhash_signature_arrays`` stringifies them;
    ``lsh_candidate_pairs`` buckets on them as they are).

    Each doc's shingles are hashed in one native pass
    (``native.km_md5_minhash``, a ``mapInArrow`` over (doc_id, text)) that
    emits one row per doc; ONE groupBy(doc_id) then takes the per-band
    min, so a repeated doc_id still gets one signature over all its rows.
    """
    if num_hashes > 15:
        raise ValueError("km_md5 supports num_hashes <= 15 "
                         "(56-bit halves keep h1 + b*h2 overflow-free)")
    base = ensure_parallelism(docs.select("doc_id", "text"))
    schema = StructType([base.schema["doc_id"]] + [
        StructField(f"m{b}", LongType()) for b in range(num_hashes)])
    hs = base.mapInArrow(_km_md5_fn(k, num_hashes), schema)
    agg = hs.groupBy("doc_id").agg(*[F.min(f"m{b}").alias(f"m{b}")
                                     for b in range(num_hashes)])
    return agg.select(
        "doc_id", F.array(*[f"m{b}" for b in range(num_hashes)]).alias("sig"))


# family-pinned batch signature stores: the hash families' signatures
# NEVER collide with each other (km decimal vs band hex strings), so a
# pipeline that joins old signatures written under one family with new
# ones derived under another silently stops deduplicating — the exact
# hazard the round-5 default flip (band_md5 -> km_md5) created for any
# persisted pre-flip store. The marker follows the pinned-store protocol
# of ``spark.fsio`` (underscore-prefixed, invisible to
# ``spark.read.parquet``, portable to any Spark-writable filesystem).
SIGSTORE_META_DIR = "_filterz_signature_meta"
_SIG_MISMATCH = ("signatures from different families or shapes never "
                 "collide, so dedup against the store would silently match "
                 "nothing or misalign band positions. Re-derive under the "
                 "store's parameters, or rewrite the store.")


def write_signature_store(sig_arr: DataFrame, path: str, *,
                          hash_family: str, num_hashes: int, k: int,
                          mode: str = "error") -> None:
    """Persist an array-form signature table (as produced by
    ``minhash_signature_arrays``) WITH its family marker.

    ``mode="append"`` validates the existing marker first (family AND
    signature shape must match — appending 16-hash signatures to an
    8-hash store corrupts every downstream band position); any other
    mode (over)writes marker and data together. Appending to a
    pre-existing UNMARKED store raises: its family is unknown — rewrite
    it through this function.
    """
    spark = sig_arr.sparkSession
    want = {"hash_family": hash_family, "num_hashes": num_hashes, "k": k}
    meta = None
    if mode == "append":
        meta = check_marker(spark, path, SIGSTORE_META_DIR, "signature store",
                            want, required=False, why=_SIG_MISMATCH)
    sig_arr.write.mode(mode).parquet(path)
    if meta is None:
        stamp_marker(spark, path, SIGSTORE_META_DIR, {**want, "version": 1})


def read_signature_store(spark, path: str, *, hash_family: str,
                         num_hashes: int | None = None,
                         k: int | None = None) -> DataFrame:
    """Open a family-pinned signature store, validating the marker against
    what the caller is about to join it with. A store without a marker is
    refused loudly (unknown family — never guess), same contract as the
    sketch store's marker."""
    check_marker(spark, path, SIGSTORE_META_DIR, "signature store",
                 {"hash_family": hash_family, "num_hashes": num_hashes,
                  "k": k}, required=True, why=_SIG_MISMATCH)
    return spark.read.parquet(path)


def dedup_against_store(docs: DataFrame, store, *,
                        hash_family: str = "km_md5",
                        num_hashes: int = 8, k: int = 2,
                        append: bool = False) -> DataFrame:
    """Incremental near-dedup: docs from a NEW batch that do not LSH-collide
    with an existing corpus signature store — the "dedup today's crawl
    against the corpus" step of a growing training set.

    ``store`` is either a PATH to a family-pinned store (as written by
    ``write_signature_store`` — the marker supplies AND validates
    hash_family/num_hashes/k, mismatches raise) or an array-form signature
    DataFrame (as produced by ``minhash_signature_arrays``; the three
    parameters then describe how it was derived — the caller owns that
    contract, same as joining any two signature tables).

    Returns ``docs`` (all original columns) minus every doc sharing ANY
    (band, minhash) bucket with the store. Matching is signature-level:
    one shared bucket drops the doc, with no Jaccard verification — chain
    ``ngram_jaccard_pairs`` on the dropped set where exact verification
    is required. Within-batch duplicates are intentionally NOT resolved
    here (keeping the first of each would make the answer depend on
    arrival order); run ``exact_dedup``/``dedup_clusters`` over the batch
    first. A doc whose signatures are ALREADY in the store
    collides with itself and is dropped, so re-running a partially
    appended batch is idempotent.

    ``append=True`` (path stores only) appends the KEPT docs' signatures
    via ``write_signature_store(mode="append")`` — marker re-validated,
    so a concurrent family flip still fails loudly.

    Scale shape: the batch side explodes to num_hashes rows/doc and
    semi-joins the store's exploded signatures on (band, minhash) — ONE
    shuffle on a ~16-byte key, no doc text moves, store never touches the
    driver. At 100 TB the store side is the big one; Spark's AQE picks
    the build side, and the join key is the same uniformly-hashed
    (band, minhash) space the LSH bucket analysis in BENCH/PIPELINE.md
    bounds (cap degenerate buckets upstream when WRITING the store, via
    lsh_candidate_pairs' max_bucket_size discipline).
    """
    spark = docs.sparkSession
    if isinstance(store, str):
        store_arr = read_signature_store(spark, store,
                                         hash_family=hash_family,
                                         num_hashes=num_hashes, k=k)
    else:
        store_arr = store
        if append:
            raise ValueError(
                "append=True requires a path store (a DataFrame store has "
                "no durable location to append to)")
    sig_new = minhash_signature_arrays(docs, num_hashes, k, hash_family)
    if append:
        # the append action runs first and would otherwise recompute the
        # signature pass and the store join for the caller's novel plan
        sig_new = sig_new.localCheckpoint(eager=False)
    new_bands = minhash_signatures(docs, signatures=sig_new)
    store_bands = minhash_signatures(docs, signatures=store_arr)
    collided = new_bands.join(store_bands, ["band", "minhash"],
                              "left_semi").select("doc_id")
    if append:
        collided = collided.localCheckpoint(eager=False)
        kept_sigs = sig_new.join(collided, "doc_id", "left_anti")
        write_signature_store(kept_sigs, store, hash_family=hash_family,
                              num_hashes=num_hashes, k=k, mode="append")
    return docs.join(collided, "doc_id", "left_anti")


def minhash_signatures(docs: DataFrame, num_hashes: int = 8, k: int = 2,
                       signatures: DataFrame | None = None,
                       hash_family: str = "km_md5") -> DataFrame:
    """Long-format MinHash signature: (doc_id, band, minhash) — the join
    form, an explode of the array form (pass a precomputed/materialized
    ``signatures`` array table to share one signature pass across the
    LSH -> Jaccard -> components pipeline)."""
    arr = signatures if signatures is not None \
        else minhash_signature_arrays(docs, num_hashes, k, hash_family)
    return arr.select("doc_id", F.posexplode("sig").alias("band", "minhash"))


def lsh_candidate_pairs(docs: DataFrame, num_hashes: int = 8, k: int = 2,
                        max_bucket_size: int | None = 10_000,
                        signatures: DataFrame | None = None,
                        hash_family: str = "km_md5") -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, minhash) bucket.

    The shuffle on the bucket key is the scale move: no all-pairs shuffle,
    only docs with a colliding band meet. Returns (doc_a, doc_b, n_bands).

    Plan: ONE shuffle — groupBy the bucket key, collect the sorted member
    list, expand ordered pairs expression-side (posexplode x slice). No
    self-join and no window sort, so the signature subtree is scanned
    exactly once and needs no materialization. To share one signature
    pass across the candidate -> Jaccard -> components pipeline, supply
    your own (materialized) ``signatures`` array table.

    ``max_bucket_size`` guards against degenerate hot buckets (e.g.
    millions of empty/boilerplate docs sharing a minhash): a bucket of b
    docs yields b^2/2 pairs, so one web-scale junk cluster would otherwise
    go quadratic. Buckets above the cap — a free ``size()`` filter on the
    aggregated row — are dropped from candidate generation (their members
    are boilerplate-identical; handle them with exact_dedup, which is
    linear). None disables the cap. A hot bucket still lands on one
    reducer as a whole member array; the cap is what bounds it.
    """
    if signatures is None and hash_family == "km_md5":
        # bucket on the bigint band minima: their decimal strings are
        # injective, so the buckets are those of the string form
        signatures = _km_sig_longs(docs, num_hashes, k)
    sig = minhash_signatures(docs, num_hashes, k, signatures=signatures,
                             hash_family=hash_family)
    buckets = (sig.groupBy("band", "minhash")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .filter(F.size("ids") >= 2))
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # ordered pairs from the sorted member list: (i, doc_a) x the tail
    # slice after i — doc_a < doc_b holds by construction
    e = buckets.select("ids", F.posexplode("ids").alias("i", "doc_a"))
    pairs = e.select(
        "doc_a",
        F.explode(F.slice("ids", F.col("i") + 2,
                          F.size("ids") - F.col("i") - 1)).alias("doc_b"))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("n_bands")))


def ngram_jaccard_pairs(docs: DataFrame, k: int = 2, min_jaccard: float = 0.0,
                        num_hashes: int = 8,
                        signatures: DataFrame | None = None,
                        candidates: DataFrame | None = None,
                        prefilter_margin: float | None = None,
                        hash_family: str = "km_md5") -> DataFrame:
    """Exact k-gram Jaccard for LSH candidate pairs (verification stage).

    (doc_a, doc_b, jaccard) for candidates with jaccard >= min_jaccard.
    Pass ``signatures`` (array form) and/or ``candidates`` to reuse work
    already done by an upstream LSH stage instead of recomputing it.

    ``prefilter_margin`` (opt-in): signature-level pre-filter BEFORE the
    exact shingle-set join. The LSH stage's ``n_bands`` column counts the
    matching MinHash positions whose bucket is within
    ``lsh_candidate_pairs``' ``max_bucket_size`` (default 10,000): a
    shared minhash in an over-cap bucket adds nothing, so ``n_bands`` is
    the number of matching positions only while no matching bucket
    exceeds the cap, and undercounts it otherwise. In that regime
    ``n_bands / num_hashes`` is the unbiased MinHash Jaccard estimate — a
    FREE per-pair filter (no extra join, no extra hash) that drops
    candidates whose estimate sits below ``min_jaccard - prefilter_margin``.
    The 10M rehearsal produced 757M LSH candidates; exactly verifying all
    of them is the next wall at corpus scale, and most collide on 1 band
    out of many. The margin
    bounds the estimator's noise: with H INDEPENDENT band hashes
    (``band_md5``) the estimate of a true-J pair is Binomial(H, J)/H, so
    P(drop a pair with J >= min_jaccard) <= exp(-2*H*margin^2)
    (Hoeffding) — e.g. H=16, margin=0.4 -> <= 0.6% per borderline pair.
    Under the KM families (the default) band matches are positively
    correlated through the shared (h1, h2) draw, so the binomial bound is
    approximate — the estimator stays unbiased, but size margins
    conservatively (or pin band_md5) where the bound must hold exactly.
    None (default) disables the filter: exact verification of every
    candidate, the oracle-entry regime.

    Contract: candidates must carry ``n_bands`` (lsh_candidate_pairs
    always emits it) and ``num_hashes`` MUST equal the value the
    candidates were built with — n_bands does not record it, so a
    mismatch silently rescales every estimate (e.g. 16-hash candidates
    divided by the default 8 double their estimates and the cut
    under-drops; the reverse over-drops qualifying pairs)."""
    if candidates is None:
        candidates = lsh_candidate_pairs(docs, num_hashes=num_hashes, k=k,
                                         signatures=signatures,
                                         hash_family=hash_family)
    if prefilter_margin is not None:
        if "n_bands" not in candidates.columns:
            raise ValueError("prefilter_margin requires candidates with an "
                             "n_bands column (as emitted by "
                             "lsh_candidate_pairs)")
        cut = min_jaccard - prefilter_margin
        candidates = candidates.filter(
            F.col("n_bands") / F.lit(float(num_hashes)) >= cut)
    cand = candidates.select("doc_a", "doc_b")
    # each doc's set is a per-row expression (no explode, no shuffle of
    # shingle strings); doc_id is the row key, so a repeated doc_id pairs
    # each of its rows rather than the union of their texts
    sets = (ensure_parallelism(docs.select("doc_id", "text"))
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.array_distinct(shingle_array(k)).alias("sh")))
    j = (
        cand.join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sa"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sb"), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb")).cast("double"), 4
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= min_jaccard)


def ngram_decontaminate(train: DataFrame, bench: DataFrame, k: int = 3,
                        min_contamination: float = 0.0,
                        shingle_key: str = "string") -> DataFrame:
    """Benchmark decontamination: per train doc, what fraction of its
    distinct k-gram shingles appears in ANY benchmark document —
    (doc_id, n_shingles, contaminated_n, contamination).

    The scale shape: the benchmark suite is tiny next to the corpus, so its
    distinct shingle set is BROADCAST and the check is a map-only left join
    on the corpus side (no corpus shuffle beyond the per-doc aggregate).
    Docs at or above ``min_contamination`` are returned — feed the ids to
    an anti-join to drop them from the training set.

    ``shingle_key`` picks the join-key representation:

    - ``"string"`` (default): the raw shingle text — exact set semantics,
      DuckDB-reproducible (the oracle mode).
    - ``"xxhash64"``: join on the JVM ``xxhash64`` of the shingle — the
      scale mode. Cuts the broadcast relation to 8 bytes/shingle and the
      probe-side compare to an int64 (the 10M rehearsal showed this stage
      DRAM-bound on hash-over-strings); a 64-bit collision can mark one
      extra shingle contaminated (P ~ n_bench_shingles * n_doc_shingles /
      2^64 per doc — vanishing), so it is OPT-IN and equivalence of
      contamination DECISIONS on seeded data is gated in tests/test_ops.py.

    Corpus-side plan: per-doc shingle dedup happens MAP-SIDE
    (``array_distinct`` on the row's shingle array before the explode) —
    a ``dropDuplicates(doc_id, shingle)`` would shuffle every corpus
    shingle (measured 424 MB for a 200k-doc slice; corpus-sized at scale)
    just to establish a per-row-computable property. The only remaining
    shuffle is the per-doc aggregate's map-side-combined partials: one
    row per doc per partition.
    """
    if shingle_key not in ("string", "xxhash64"):
        raise ValueError(f"unknown shingle_key {shingle_key!r}")
    bench_sh = shingles(bench, k=k).select("shingle")
    # same scan-parallelism guard as ``shingles``: the per-doc shingle
    # dedup + explode is the corpus-side cost center and would otherwise
    # run inside a 1-2-task scan stage on small/coarse inputs
    tr = ensure_parallelism(train.select("doc_id", "text")).select(
        "doc_id", F.explode(F.array_distinct(shingle_array(k))).alias("shingle"))
    if shingle_key == "xxhash64":
        bench_sh = bench_sh.select(F.xxhash64("shingle").alias("shingle"))
        tr = tr.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    bench_sh = F.broadcast(bench_sh.distinct().withColumn("hit", F.lit(1)))
    marked = tr.join(bench_sh, "shingle", "left")
    return (marked.groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("long")
                 .alias("contaminated_n"))
            .select("doc_id", F.col("n_shingles").cast("long").alias("n_shingles"),
                    "contaminated_n",
                    F.round(F.col("contaminated_n") / F.col("n_shingles"), 4)
                    .alias("contamination"))
            .filter(F.col("contamination") >= min_contamination))


SIMHASH_BITS = 60  # 15 md5 hex chars -> non-negative int64, portable SQL


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash int64): 60-bit SimHash from md5 word hashes.

    Word hash = first 15 hex chars of md5(word) as an integer (the same
    portable trick doc_fingerprints uses — md5 is identical in DuckDB, so
    the FULL simhash value is oracle-checkable in SQL). Per bit j, the vote
    is #words-with-bit-set*2 > #words; all-occurrence voting (a repeated
    word votes once per occurrence, standard SimHash). Whole pipeline is
    explode + groupBy with 60 conditional sums — JVM codegen, no Python.
    It keeps the explode: a row form (a per-word 60-counter ``aggregate``)
    gave the same rows in 62 s against this plan's 0.7-0.9 s (sf0.1
    documents, local[4] on a 4-core host, noop sink).
    """
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wh = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    hashed = words.select("doc_id", wh.alias("wh"))
    bit_sums = [
        F.sum(F.shiftrightunsigned("wh", j).bitwiseAND(F.lit(1))).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_sums)
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") * 2 > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       max_bucket_size: int | None = None) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole block bucketing.

    Recall contract: the simhash is split into ``max_hamming + 1`` equal-ish
    bit blocks; a pair within hamming distance ``max_hamming`` differs in at
    most ``max_hamming`` blocks, so it SHARES at least one exact block —
    candidate generation has guaranteed recall 1 for the advertised
    threshold (then an exact hamming check filters). More blocks = more
    bucket joins, so large max_hamming trades cost for recall guarantee.

    Pair generation uses the same single-shuffle group expansion as
    ``lsh_candidate_pairs``: groupBy the (block, bucket) key, collect the
    member list (with each member's simhash riding along), expand ordered
    pairs expression-side. ``max_bucket_size`` (OPT-IN, default None =
    uncapped so the recall guarantee above is unconditional) bounds the
    quadratic blow-up of a degenerate bucket (e.g. a boilerplate cluster
    collapsing one bit block): over-cap buckets are dropped from candidate
    generation — the recall guarantee then holds only for pairs outside
    such buckets (handle the dropped mass with exact_dedup, linear).
    """
    n_blocks = max_hamming + 1
    block_bits = (SIMHASH_BITS + n_blocks - 1) // n_blocks
    sh = simhash(docs)
    blocks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftrightunsigned("simhash", block_bits * q)
                .bitwiseAND(F.lit((1 << block_bits) - 1)).alias("bucket"))
            for q in range(n_blocks)
        ])).alias("e"),
    ).select("doc_id", "simhash", "e.q", "e.bucket")
    buckets = (blocks.groupBy("q", "bucket")
               .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash")))
                    .alias("mem"))
               .filter(F.size("mem") >= 2))
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("mem") <= max_bucket_size)
    e = buckets.select("mem", F.posexplode("mem").alias("i", "a"))
    pairs = e.select(
        F.col("a.doc_id").alias("doc_a"), F.col("a.simhash").alias("ha"),
        F.explode(F.slice("mem", F.col("i") + 2,
                          F.size("mem") - F.col("i") - 1)).alias("b"))
    cand = (pairs.select("doc_a", F.col("b.doc_id").alias("doc_b"),
                         "ha", F.col("b.simhash").alias("hb"))
            .distinct())
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming")) \
               .filter(F.col("hamming") <= max_hamming)


def duplicate_spans(docs: DataFrame, window: int = 16,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact substring-dedup statistics, the Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) signal at document granularity: every
    ``window``-token span is owned by the corpus-wide FIRST document
    containing it (min ``id_col``); a span occurring in any LATER doc is
    a duplicated span. Returns one row per doc:
    (doc_id, n_spans, n_dup_spans, dup_frac) — filter on ``dup_frac``
    to drop heavily-duplicated docs, or feed the flagged docs to a
    span-removal rewrite. Docs shorter than ``window`` tokens form ONE
    span over all their tokens; a doc's own repeats of a span it owns
    are NOT counted as duplicates (ownership is per-document). A NULL
    text is one NULL span, and all NULL texts share that key: every
    NULL-text doc after the first reports one duplicated span.

    Spans are keyed by the first 15 md5 hex chars (60 bits) —
    DuckDB-portable, oracle-checkable.

    Scale shape: the span fan-out (~n_tokens rows/doc) is MAP-ONLY and
    hashes each span string to an 8-byte key before anything moves —
    the exchange carries (doc_id, fp) pairs only, never span text. The
    corpus is exploded ONCE, into one chain of map-side-combined
    aggregates:

    - ``groupBy(doc_id, fp).count`` collapses a doc's own repeats;
    - ``groupBy(fp).min(struct(doc_id, count))`` picks each span's
      owner; its partials collapse a viral span (one 16-gram in 10^10
      rows at corpus scale) to ONE candidate row per map task;
    - ``groupBy(owner).sum(count)`` gives each doc's owned instances.

    ``n_spans`` is map-side arithmetic on the text (the explode's own
    length), summed per doc on the doc_id shuffle the join needs anyway,
    so ``n_dup = n_spans - owned`` is a left join of a doc table to that
    chain — never a per-instance join back. No stage receives all
    copies of a hot key on one task, which is why the owner is an
    aggregate and not an analytic window (a window partition can
    neither be pre-aggregated nor split). No all-pairs stage exists at
    any scale.
    """
    # the text is split ONCE, into a column the span lambda reads: a split
    # inside the lambda would run once per span (O(tokens^2) per doc)
    toks = F.col("__t")
    n_spans = F.greatest(F.size(toks) - F.lit(window - 1), F.lit(1))
    spans = F.transform(
        F.sequence(F.lit(1), n_spans),
        lambda i: F.array_join(F.slice(toks, i, window), " "))
    fp = F.conv(F.substring(F.md5("span"), 1, 15), 16, 10).cast("long")
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.split(F.col(text_col), " ").alias("__t"))
    # an instance is non-dup iff its doc IS the span's min owner, so
    #   n_dup(doc) = n_spans(doc) - sum of counts over spans doc owns
    owned = (ensure_parallelism(base)
             .select("doc_id", F.explode(spans).alias("span"))
             .groupBy("doc_id", fp.alias("fp"))
             .agg(F.count("*").alias("__c"))
             .groupBy("fp")
             .agg(F.min(F.struct("doc_id", "__c")).alias("__w"))
             .groupBy(F.col("__w.doc_id").alias("doc_id"))
             .agg(F.sum("__w.__c").alias("__own")))
    return (base.groupBy("doc_id")
            .agg(F.sum(n_spans).cast("long").alias("n_spans"))
            .join(owned, "doc_id", "left")
            .select("doc_id", "n_spans",
                    (F.col("n_spans") - F.coalesce("__own", F.lit(0)))
                    .cast("long").alias("n_dup_spans"))
            .select("doc_id", "n_spans", "n_dup_spans",
                    (F.col("n_dup_spans") / F.col("n_spans"))
                    .alias("dup_frac")))
