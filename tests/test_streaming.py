"""Structured Streaming tests: windowed sketch state over micro-batches.

Feeds the events table through a file-source stream in two chunks (out of
order arrival) and checks:
- built-in watermarked window counts equal the batch query;
- applyInPandasWithState HLL window states match per-window exact
  distinct counts within the published bound, regardless of arrival order
  (merge-monoid property under streaming).
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from filterz_spark.streaming.windowed import watermarked_window_counts

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture()
def stream_dirs(spark):
    base = tempfile.mkdtemp(prefix="fz_stream_")
    src = os.path.join(base, "in")
    os.makedirs(src)
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    # two out-of-order chunks: later half arrives first
    a, b = events.filter("event_id % 2 = 0"), events.filter("event_id % 2 = 1")
    b.coalesce(1).write.parquet(os.path.join(src, "chunk0"))
    a.coalesce(1).write.parquet(os.path.join(src, "chunk1"))
    yield base, src, events
    shutil.rmtree(base, ignore_errors=True)


def _read_stream(spark, src, schema):
    # parquet round-trip yields TIMESTAMP_NTZ; watermarks need TIMESTAMP
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(src, "chunk*"))
            .withColumn("ts", F.col("ts").cast("timestamp")))


def test_watermarked_window_counts(spark, stream_dirs):
    base, src, events = stream_dirs
    stream = _read_stream(spark, src, events.schema)
    agg = watermarked_window_counts(stream, "ts", "user_id", "1 day", "2 days")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", os.path.join(base, "ckpt1")).start())
    q.awaitTermination(120)
    got = {str(r["window_start"]): r["cnt"]
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    want = {str(r["d"]): r["cnt"] for r in
            events.groupBy(F.date_trunc("day", "ts").alias("d"))
            .agg(F.count("*").alias("cnt")).collect()}
    assert got == want


def test_apply_in_pandas_with_state_hll_windows(spark, stream_dirs):
    """Engine-state-store variant (applyInPandasWithState): final per-window
    HLL estimates must match the batch exact counts within the published
    3-sigma bound despite out-of-order arrival, and must agree with a batch
    HLL over the same data (same kernels -> same estimate)."""
    from filterz_spark.sketches import HllSketch
    from filterz_spark.spark.merge import sketch_column
    from filterz_spark.streaming.stateful import stateful_window_sketches

    base, src, events = stream_dirs
    stream = _read_stream(spark, src, events.schema)
    out = stateful_window_sketches(stream, ts_col="ts", key_col="user_id",
                                   kind="hll", params={"p": 14},
                                   window="1 day")
    q = (out.writeStream.format("memory").queryName("state_sketch")
         .outputMode("update")
         .option("checkpointLocation", os.path.join(base, "ckpt_state"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # update mode emits one row per touched window per batch: keep the last
    rows = spark.sql(
        "SELECT window_start, estimate FROM "
        "(SELECT *, row_number() OVER (PARTITION BY window_start "
        "ORDER BY n_updates DESC) AS rn FROM state_sketch) WHERE rn = 1"
    ).collect()
    got = {r["window_start"]: r["estimate"] for r in rows}
    exact = {r["d"].strftime("%Y-%m-%d %H:%M:%S"): r["n"] for r in
             events.groupBy(F.date_trunc("day", "ts").alias("d"))
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(got) == set(exact)
    se = HllSketch.zero(p=14).std_error()
    for w, est in got.items():
        assert abs(est - exact[w]) <= 3 * se * exact[w], (w, est, exact[w])
    # streaming estimate == batch estimate (identical sketch kernels)
    for w in list(got)[:2]:
        batch_est = sketch_column(
            events.filter(F.date_format(F.date_trunc("day", "ts"),
                                        "yyyy-MM-dd HH:mm:ss") == w),
            "user_id", "hll", {"p": 14}).estimate()
        assert abs(batch_est - got[w]) < 1e-6, (w, batch_est, got[w])


def test_streaming_exact_dedup_matches_batch(spark):
    """Streaming dedup must emit exactly the batch-distinct content hashes
    (first arrival per hash), across multi-chunk arrival, and a restart on
    the same checkpoint must not re-emit already-seen hashes."""
    from filterz_spark.streaming.windowed import streaming_exact_dedup

    base = tempfile.mkdtemp(prefix="fz_sdedup_")
    try:
        src = os.path.join(base, "in")
        os.makedirs(src)
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        a, b = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        b.coalesce(1).write.parquet(os.path.join(src, "chunk0"))
        a.coalesce(1).write.parquet(os.path.join(src, "chunk1"))
        stream = (spark.readStream.schema(docs.schema)
                  .option("pathGlobFilter", "*.parquet")
                  .parquet(os.path.join(src, "chunk*")))
        out_dir = os.path.join(base, "out")

        def run_once():
            q = (streaming_exact_dedup(stream, key_col="text")
                 .select("doc_id", "text_hash")
                 .writeStream.format("parquet").outputMode("append")
                 .trigger(availableNow=True)
                 .option("path", out_dir)
                 .option("checkpointLocation", os.path.join(base, "ckpt"))
                 .start())
            q.awaitTermination(120)

        run_once()
        got = [r["text_hash"] for r in
               spark.read.parquet(out_dir).collect()]
        want = {r[0] for r in
                docs.select(F.md5("text")).distinct().collect()}
        assert len(got) == len(set(got)), "a hash was emitted twice"
        assert set(got) == want
        # restart on the same checkpoint: nothing new to process, and the
        # dedup state store must survive (no re-emission)
        run_once()
        assert spark.read.parquet(out_dir).count() == len(want)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_matches_batch_greedy(spark):
    """Streaming near-dup dedup over chunked arrival must emit exactly the
    docs the shared order-greedy novelty rule selects over the concatenated
    chunks, and a replayed run must not re-emit or grow the store."""
    from filterz_spark.ops.dedup import minhash_signature_arrays
    from filterz_spark.streaming.neardup import (StreamingNearDupDedup,
                                                 greedy_novel)

    base = tempfile.mkdtemp(prefix="fz_sneardup_")
    try:
        src = os.path.join(base, "in")
        os.makedirs(src)
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        # chunk0 = odd ids, chunk1 = even ids (file order => batch order)
        docs.filter("doc_id % 2 = 1").coalesce(1) \
            .write.parquet(os.path.join(src, "chunk0"))
        docs.filter("doc_id % 2 = 0").coalesce(1) \
            .write.parquet(os.path.join(src, "chunk1"))

        dd = StreamingNearDupDedup(os.path.join(base, "state"),
                                   num_hashes=8, k=2, run_token="t1")
        stream = (spark.readStream.schema(docs.schema)
                  .option("pathGlobFilter", "*.parquet")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(src, "chunk*")))
        q = (stream.writeStream.foreachBatch(dd).trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(base, "ckpt"))
             .start())
        q.awaitTermination(180)

        got = sorted(r["doc_id"] for r in dd.novel_docs(spark).collect())

        # expected: the same greedy rule applied chunk-by-chunk
        seen = set()
        want = []
        for pred in ("doc_id % 2 = 1", "doc_id % 2 = 0"):
            sigs = [(r["doc_id"], list(r["sig"])) for r in
                    minhash_signature_arrays(docs.filter(pred), 8, 2).collect()]
            want += greedy_novel(sigs, seen)
        assert got == sorted(want) and 0 < len(got) < docs.count()

        # replayed batch ids (fresh query, same state dir + run token):
        # high-watermark skips them — no growth anywhere
        n_store = spark.read.parquet(dd.store_dir).count()
        q2 = (stream.writeStream.foreachBatch(dd).trigger(availableNow=True)
              .option("checkpointLocation", os.path.join(base, "ckpt"))
              .start())
        q2.awaitTermination(180)
        assert sorted(r["doc_id"] for r in
                      dd.novel_docs(spark).collect()) == sorted(want)
        assert spark.read.parquet(dd.store_dir).count() == n_store
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_sessions_match_batch_sessionize(spark, stream_dirs):
    """Native session_window streaming sessions must equal the batch
    lag-based sessionize on (user, session_start, n_events) despite
    out-of-order chunk arrival."""
    from filterz_spark.ops.relational import sessionize
    from filterz_spark.streaming.windowed import streaming_sessions

    base, src, events = stream_dirs
    stream = _read_stream(spark, src, events.schema)
    q = (streaming_sessions(stream, "ts", "user_id", "30 minutes")
         .writeStream.format("memory").queryName("ssessions")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", os.path.join(base, "ckpt_sess"))
         .start())
    q.awaitTermination(180)
    got = {(r["user_id"], str(r["session_start"]), r["n_events"])
           for r in spark.sql("SELECT * FROM ssessions").collect()}
    want = {(r["user_id"], r["session_start"], r["n_events"])
            for r in sessionize(events, gap_minutes=30).collect()}
    # session_start formats: batch emits strings, streaming emits
    # timestamps — normalize to seconds precision
    got_n = {(u, s[:19], n) for u, s, n in got}
    assert got_n == want and len(want) > 100


def test_streaming_neardup_null_text_docs_pass_through(spark):
    """Docs with NULL text have no shingles: they must be EMITTED as
    trivially novel (they can never collide), not silently dropped."""
    from filterz_spark.streaming.neardup import StreamingNearDupDedup
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    base = tempfile.mkdtemp(prefix="fz_ndnull_")
    try:
        schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
        src = os.path.join(base, "in")
        os.makedirs(src)
        spark.createDataFrame(
            [(1, "real words here"), (2, None), (3, "other words entirely")],
            schema).coalesce(1).write.parquet(os.path.join(src, "c0"))
        dd = StreamingNearDupDedup(os.path.join(base, "state"), run_token="t")
        q = (spark.readStream.schema(schema)
             .option("pathGlobFilter", "*.parquet")
             .parquet(os.path.join(src, "c*"))
             .writeStream.foreachBatch(dd).trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(base, "ckpt"))
             .start())
        q.awaitTermination(120)
        emitted = sorted(r["doc_id"] for r in dd.novel_docs(spark).collect())
        assert 2 in emitted, "null-text doc was dropped"
        assert emitted == [1, 2, 3]
        # nothing stored for the sig-less doc
        stored = {r["doc_id"] for r in
                  spark.read.parquet(dd.store_dir).select("doc_id")
                  .distinct().collect()}
        assert stored == {1, 3}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_overfat_batch_raises_loudly(spark):
    """The driver-sized-micro-batch assumption is GUARDED: a batch with
    more signature rows than max_batch_rows must raise with the
    trigger-bounding guidance, not silently OOM the driver — and the
    failed batch must be neither emitted nor recorded as applied."""
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_ndcap_")
    try:
        dd = StreamingNearDupDedup(os.path.join(base, "state"),
                                   run_token="t", max_batch_rows=2)
        batch = spark.createDataFrame(
            [(i, f"document number {i} words") for i in range(5)],
            "doc_id long, text string")
        with pytest.raises(RuntimeError, match="maxFilesPerTrigger"):
            dd(batch, 0)
        assert not os.path.exists(dd.out_dir)
        assert dd._load_meta() == -1  # batch not recorded: a re-trigger
        # with a bounded source can still apply batch 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_store_is_family_pinned(spark):
    """A signature store written under one hash family must REFUSE batches
    from an instance configured with another: the families' signatures
    never collide, so mixing them silently stops dedup against everything
    stored. A pre-round-5 meta (no recorded family) is attributed to the
    then-default band_md5."""
    import json as _json
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_ndfam_")
    try:
        batch = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
            "doc_id long, text string")
        state = os.path.join(base, "state")
        dd_km = StreamingNearDupDedup(state, run_token="t")  # km_md5 default
        dd_km(batch, 0)
        meta = _json.load(open(dd_km.meta_path))
        assert meta["hash_family"] == "km_md5"
        # same family continues fine (replay no-op)
        StreamingNearDupDedup(state, run_token="t")(batch, 0)
        # different family refuses loudly, BEFORE touching the store
        with pytest.raises(RuntimeError, match="hash_family"):
            StreamingNearDupDedup(state, run_token="t",
                                  hash_family="band_md5")(batch, 1)
        # legacy meta without the key = band_md5 era: km instance refuses
        legacy = dict(meta)
        del legacy["hash_family"]
        _json.dump(legacy, open(dd_km.meta_path, "w"))
        with pytest.raises(RuntimeError, match="band_md5"):
            StreamingNearDupDedup(state, run_token="t")(batch, 1)
        # ...and a band-pinned instance proceeds against it
        StreamingNearDupDedup(state, run_token="t",
                              hash_family="band_md5")(batch, 0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_greedy_novel_distributed_equals_driver_on_chain(spark):
    """The distributed MIS rounds must equal the sequential greedy on its
    hardest shape — a dependency CHAIN (doc i shares one bucket with doc
    i+1 only), which forces one round per link and where any 'local
    minimum' shortcut that ignored rejected docs' non-blocking semantics
    would diverge. Sequential greedy keeps exactly the even positions."""
    from filterz_spark.streaming.neardup import (greedy_novel,
                                                 greedy_novel_distributed)
    n = 20
    rows = []
    for i in range(n):
        sig = [None, None]
        sig[i % 2] = f"link{i}"            # shared with doc i+1
        sig[(i - 1) % 2] = f"link{i-1}" if i > 0 else "solo"
        rows.append((i, sig))
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<string>")
    seq = sorted(greedy_novel(rows, set()))
    # three driver-finish regimes: engaged immediately (default — the
    # whole chain fits), strictly distributed to convergence (0), and
    # engaged MID-CHAIN after some distributed rounds (tiny threshold —
    # exercises the kept_all ∪ driver-tail union on the induced subgraph)
    for finish_rows in (1_000_000, 0, 6):
        dist = sorted(r["doc_id"] for r in
                      greedy_novel_distributed(
                          sigs, driver_finish_rows=finish_rows).collect())
        assert dist == seq == list(range(0, n, 2)), finish_rows


def test_streaming_neardup_distributed_matches_driver_mode(spark):
    """Both within_batch implementations must emit the identical doc set
    and identical store rows over the same chunked arrival (including
    NULL-text pass-through docs)."""
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_nddist_")
    try:
        docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .select("doc_id", "text").limit(120))
        clones = docs.limit(40).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        nulls = spark.createDataFrame(
            [(2_000_000, None), (2_000_001, None)], "doc_id long, text string")
        full = docs.unionByName(clones).unionByName(nulls).cache()
        chunks = [full.filter("doc_id % 3 = 0"),
                  full.filter("doc_id % 3 = 1"),
                  full.filter("doc_id % 3 = 2")]
        results = {}
        for mode in ("driver", "distributed"):
            dd = StreamingNearDupDedup(os.path.join(base, mode),
                                       run_token="t", within_batch=mode)
            for bid, chunk in enumerate(chunks):
                dd(chunk, bid)
            emitted = frozenset(r["doc_id"] for r in
                                dd.novel_docs(spark).collect())
            stored = frozenset((r["doc_id"], r["band"], r["minhash"])
                               for r in spark.read.parquet(dd.store_dir)
                               .collect())
            results[mode] = (emitted, stored)
        assert results["driver"] == results["distributed"]
        assert 2_000_000 in results["driver"][0]  # null-text pass-through
        full.unpersist()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_rejects_unknown_within_batch():
    from filterz_spark.streaming.neardup import StreamingNearDupDedup
    base = tempfile.mkdtemp(prefix="fz_ndwb_")
    try:
        with pytest.raises(ValueError, match="within_batch"):
            StreamingNearDupDedup(base, within_batch="magic")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_greedy_novel_distributed_nonconvergence_raises(spark):
    """A dependency chain longer than max_rounds must raise loudly (every
    round resolves at least one link), never return a partial novel set."""
    from filterz_spark.streaming.neardup import greedy_novel_distributed
    rows = []
    for i in range(12):
        sig = [None, None]
        sig[i % 2] = f"link{i}"
        sig[(i - 1) % 2] = f"link{i-1}" if i > 0 else "solo"
        rows.append((i, sig))
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<string>")
    # driver_finish_rows=0: the strictly-distributed path is the one that
    # can fail to converge (the driver finish would just complete the chain)
    with pytest.raises(RuntimeError, match="did not converge"):
        greedy_novel_distributed(sigs, max_rounds=3, driver_finish_rows=0)

def test_streaming_neardup_out_is_batch_partitioned_and_replay_scoped(spark):
    """Round-6 emit-guard contract: novel output is PARTITIONED by
    __batch_id (so the crash-replay anti-join partition-prunes to the
    current batch instead of scanning the emitted corpus), and a replay
    of the CURRENT batch after any crash point is exactly-once."""
    import json as _json
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_ndscope_")
    try:
        state = os.path.join(base, "state")
        b0 = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
             (3, None)], "doc_id long, text string")
        b1 = spark.createDataFrame(
            [(4, "iota kappa lambda mu"), (5, None)],
            "doc_id long, text string")
        dd = StreamingNearDupDedup(state, run_token="t")
        dd(b0, 0)
        dd(b1, 1)
        # layout: one partition directory per batch
        assert os.path.isdir(os.path.join(dd.out_dir, "__batch_id=0"))
        assert os.path.isdir(os.path.join(dd.out_dir, "__batch_id=1"))
        emitted = sorted(r["doc_id"] for r in dd.novel_docs(spark).collect())
        assert emitted == [1, 2, 3, 4, 5]

        def _reset_meta(last):
            meta = _json.load(open(dd.meta_path))
            meta["last_batch_id"] = last
            _json.dump(meta, open(dd.meta_path, "w"))

        # crash point A: out + stores written, meta not — replay batch 1:
        # docs collide with their own stored buckets / sig-less ids, the
        # scoped guard suppresses nothing new, out unchanged
        n_store = spark.read.parquet(dd.store_dir).count()
        _reset_meta(0)
        dd(b1, 1)
        assert sorted(r["doc_id"] for r in
                      dd.novel_docs(spark).collect()) == [1, 2, 3, 4, 5]
        assert spark.read.parquet(dd.store_dir).count() == n_store
        # crash point B: out written, stores NOT (wipe batch-1 rows from
        # both stores) — replay must NOT re-emit (scoped guard) but MUST
        # append the missing store rows
        store = spark.read.parquet(dd.store_dir).where("doc_id < 4") \
            .collect()
        shutil.rmtree(dd.store_dir)
        spark.createDataFrame(store, "doc_id long, band int, minhash string") \
            .write.parquet(dd.store_dir)
        sigless = spark.read.parquet(dd.sigless_dir).where("doc_id < 4") \
            .collect()
        shutil.rmtree(dd.sigless_dir)
        spark.createDataFrame([(r["doc_id"],) for r in sigless],
                              "doc_id long").write.parquet(dd.sigless_dir)
        _reset_meta(0)
        dd(b1, 1)
        got = sorted(r["doc_id"] for r in dd.novel_docs(spark).collect())
        assert got == [1, 2, 3, 4, 5], "replay re-emitted or dropped docs"
        assert spark.read.parquet(dd.store_dir).where("doc_id = 4").count() > 0
        assert spark.read.parquet(dd.sigless_dir).where("doc_id = 5").count() == 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_sigless_rearrival_suppressed_across_batches(spark):
    """A NULL-text doc re-arriving in a LATER batch must not re-emit:
    sig-less first-arrival dedup runs against the dedicated sig-less id
    store (the signature store can never suppress it)."""
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_ndsigless_")
    try:
        dd = StreamingNearDupDedup(os.path.join(base, "state"), run_token="t")
        dd(spark.createDataFrame([(1, "alpha beta gamma"), (7, None)],
                                 "doc_id long, text string"), 0)
        dd(spark.createDataFrame([(7, None), (8, None)],
                                 "doc_id long, text string"), 1)
        emitted = [r["doc_id"] for r in dd.novel_docs(spark).collect()]
        assert sorted(emitted) == [1, 7, 8], emitted
        assert emitted.count(7) == 1, "sig-less doc re-emitted on re-arrival"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_refuses_legacy_flat_out_layout(spark):
    """A pre-round-6 novel store (flat files, no out_layout marker) must
    be refused loudly: partitioned appends into a flat directory would
    break partition discovery on every later read."""
    import json as _json
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_ndlegacy_")
    try:
        state = os.path.join(base, "state")
        os.makedirs(state)
        # hand-build the legacy shape: flat novel parquet + meta without
        # the out_layout key
        spark.createDataFrame([(1, "x", 0)],
                              "doc_id long, text string, __batch_id int") \
            .write.parquet(os.path.join(state, "novel"))
        _json.dump({"last_batch_id": 0, "run_token": "t",
                    "hash_family": "km_md5"},
                   open(os.path.join(state, "meta.json"), "w"))
        dd = StreamingNearDupDedup(state, run_token="t")
        with pytest.raises(RuntimeError, match="flat layout"):
            dd(spark.createDataFrame([(2, "y z w v")],
                                     "doc_id long, text string"), 1)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_neardup_refuses_orphan_store_without_meta(spark):
    """A populated store directory with no meta.json has an UNKNOWN hash
    family (e.g. crash-corrupted or foreign state): init must refuse
    rather than attribute a default family and silently mix signatures."""
    from filterz_spark.streaming.neardup import StreamingNearDupDedup

    base = tempfile.mkdtemp(prefix="fz_ndorphan_")
    try:
        state = os.path.join(base, "state")
        os.makedirs(os.path.join(state, "store"))
        with pytest.raises(RuntimeError, match="meta.json is missing"):
            StreamingNearDupDedup(state, run_token="t")
    finally:
        shutil.rmtree(base, ignore_errors=True)
