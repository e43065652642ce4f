"""Streaming near-duplicate dedup against a persistent signature store.

The incremental-crawl shape: documents arrive in micro-batches; each batch
is LSH-checked against EVERYTHING ingested so far (a parquet store of
(doc_id, band, minhash) bucket rows) plus itself, novel docs are emitted,
and their signatures are appended to the store — so a page seen in any
earlier batch (or earlier in this batch, by doc_id order) never re-emits.

Novelty contract (deterministic, order-greedy): WITHIN a micro-batch,
docs are scanned in ascending doc_id; a doc is NOVEL iff none of its
(band, minhash) buckets has been seen before — in the store or on an
already-kept doc. ACROSS batches, arrival order wins (a doc in an earlier
batch keeps its buckets regardless of id) — first-arrival semantics, like
any streaming dedup. The streaming result therefore equals the same
``greedy_novel`` applied chunk-by-chunk in arrival order (gated in
tests/test_streaming.py), NOT a globally id-sorted batch pass over the
concatenation. Docs with NULL text produce no shingles: they cannot
collide, so they are emitted as trivially novel with nothing in the
SIGNATURE store — their first-arrival dedup runs against a dedicated
doc_id store instead (see below).

Scale posture: every per-batch cost is bounded by the BATCH plus
store-sized semi-joins that never leave the executors:

- store-vs-batch collision check: a distributed semi-join on the bucket
  key (at corpus scale the store is bucketed-by-minhash parquet).
- within-batch greedy: two implementations producing the identical novel
  set — the default collects only the BATCH's signatures (a micro-batch
  is driver-sized by definition; bound the trigger on fat sources, and
  the ``max_batch_rows`` guard raises loudly if not), and
  ``within_batch="distributed"`` runs iterated local-minima MIS rounds
  (``greedy_novel_distributed``) with nothing batch-sized on the driver.
- emit idempotence on crash-replay: the novel output is PARTITIONED BY
  ``__batch_id`` and the guard anti-joins only the CURRENT batch's
  partition (partition-pruned to near-zero) — never the entire emitted
  corpus. Earlier batches cannot re-emit anyway: applied batch ids are
  skipped by the high-watermark, sig-bearing re-arrivals collide with
  the signature store, and sig-less re-arrivals are suppressed by the
  sig-less id store.

Replay discipline: at-least-once foreachBatch redeliveries are skipped
via a batch-id high-watermark tied to a run token, and the store appends
are guarded so a replayed batch neither re-emits nor double-appends.
``meta.json`` is written at INIT (before any store append), so a store
directory without meta is always a foreign / corrupted state and is
refused loudly rather than silently attributed a default hash family.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window, functions as F

from ..ops.dedup import minhash_signature_arrays

STORE_SCHEMA = "doc_id long, band int, minhash string"
# novel-output layout marker: round-6 onward partitions the out store by
# __batch_id so the crash-replay emit guard is partition-pruned to the
# current batch. A pre-round-6 store (flat files, __batch_id as a data
# column) cannot be appended to in the partitioned layout — refused loudly.
OUT_LAYOUT = "batch_id_dirs"


def greedy_novel_distributed(sigs: DataFrame, max_rounds: int = 200,
                             driver_finish_rows: int = 1_000_000) -> DataFrame:
    """The order-greedy novelty rule, computed DISTRIBUTED: (doc_id) frame
    of the docs ``greedy_novel`` would keep, without collecting signatures.

    The greedy scan is a lexicographic maximal-independent-set over the
    conflict graph "shares >= 1 (band, minhash) bucket", and lexicographic
    greedy MIS equals iterated local-minima selection: each round KEEPS
    every undecided doc that is the minimum doc_id in ALL of its buckets
    (= minimum among its conflict neighbors), REJECTS undecided docs
    sharing a bucket with a newly-kept doc, and recurses on the rest.
    Rejected docs never claim buckets — identical to the driver greedy
    (equivalence gated in tests/test_streaming.py).

    Each round is ONE materialized pass (localCheckpoint) over the
    remaining rows annotated with a doc-level status in {kept, rejected,
    undecided}: per-bucket mins and per-doc blocked flags are window
    functions over the same frame, and "shares a bucket with a kept doc"
    reduces to "the bucket's min doc is kept" (a kept doc is the min of
    every bucket it is in), resolved by one self-join on the min doc id —
    no separate kept/next-frontier materializations and no per-round
    emptiness probe job (the frontier count rides on the checkpointed
    round result). A NULL minhash is a bucket VALUE (two docs with a NULL
    band entry collide), matching ``greedy_novel``'s tuple semantics.

    The frontier shrinks by at least the global-minimum doc per round (in
    practice geometrically: everything outside collision clusters resolves
    in round 1, chains inside a cluster take one round per link).
    Per-round state is localCheckpointed to cut compounding lineage, same
    discipline as ops.relational.dedup_components; ALL checkpoint blocks
    — including the frontier and per-round frames on the non-convergence
    raise path — are freed in a finally. Raises if ``max_rounds`` rounds
    leave docs undecided (a pathological >200-link dependency chain — at
    that depth the corpus needs exact_dedup first, not near-dup).

    ``driver_finish_rows``: everything outside collision clusters resolves
    in round 1, so the later rounds iterate a TINY frontier through
    fixed-cost distributed jobs — the dominant cost for the common shape.
    Greedy MIS is self-reducible (after any number of rounds, the answer
    on the remainder is exactly greedy MIS on the induced subgraph,
    equivalence gated in tests), so once the frontier holds at most this
    many BUCKET rows it is collected and finished in one driver pass.
    This bounds driver memory by the constant you pass — collision-
    cluster-sized, never batch-sized (a 200k-doc/8-band batch START is
    1.6M rows and still runs its first rounds distributed). 0 disables
    the finish (strictly distributed to convergence).
    """
    und = (sigs.select("doc_id", F.posexplode("sig").alias("band", "minhash"))
           .localCheckpoint(eager=True))
    spark = sigs.sparkSession
    kept_all = spark.createDataFrame([], "doc_id long")
    rounds: list = []
    n_und = und.count()
    try:
        for _ in range(max_rounds):
            if not n_und:
                # materialize the union ONCE (the returned frame is
                # self-contained; caller unpersists it) — the per-round
                # blocks it was derived from are freed in finally
                return kept_all.localCheckpoint(eager=True)
            if driver_finish_rows and n_und <= driver_finish_rows:
                # collision-cluster-sized remainder: one driver pass over
                # the induced subgraph instead of one distributed round
                # per chain link (greedy-MIS self-reducibility)
                by_doc: dict = {}
                for r in und.collect():
                    by_doc.setdefault(r["doc_id"], []).append(
                        (r["band"], r["minhash"]))
                seen: set = set()
                tail_ids = []
                for d in sorted(by_doc):
                    if any(b in seen for b in by_doc[d]):
                        continue
                    seen.update(by_doc[d])
                    tail_ids.append(int(d))
                tail = spark.createDataFrame([(d,) for d in tail_ids],
                                             "doc_id long")
                return kept_all.unionByName(tail).localCheckpoint(eager=True)
            w_b = Window.partitionBy("band", "minhash")
            w_d = Window.partitionBy("doc_id")
            ann = (und
                   .withColumn("mn", F.min("doc_id").over(w_b))
                   .withColumn("self_blocked",
                               F.max((F.col("doc_id") != F.col("mn"))
                                     .cast("int")).over(w_d)))
            # a bucket contains a kept doc iff its min doc is kept, and a
            # doc is kept iff self_blocked = 0 — so each row only needs
            # its bucket-min's blocked flag, one equi-join on the min id
            mn_status = (ann.filter("doc_id = mn")
                         .select(F.col("doc_id").alias("mn"),
                                 F.col("self_blocked").alias("mn_blocked"))
                         .dropDuplicates(["mn"]))
            rnd = (ann.join(mn_status, "mn")
                   .withColumn("any_mn_kept",
                               F.max(1 - F.col("mn_blocked")).over(w_d))
                   .select("doc_id", "band", "minhash",
                           F.when(F.col("self_blocked") == 0, F.lit("kept"))
                           .when(F.col("any_mn_kept") == 1, F.lit("rejected"))
                           .otherwise(F.lit("undecided")).alias("status"))
                   .localCheckpoint(eager=True))
            rounds.append(rnd)
            kept_all = kept_all.unionByName(
                rnd.filter("status = 'kept'").select("doc_id").distinct())
            nxt = rnd.filter("status = 'undecided'") \
                     .select("doc_id", "band", "minhash")
            # emptiness probe over the already-checkpointed round result —
            # a narrow scan, not a recompute and not an extra shuffle
            n_und = nxt.count()
            und.unpersist()
            und = nxt
        raise RuntimeError(
            f"greedy_novel_distributed did not converge in {max_rounds} "
            "rounds: the batch contains a dependency chain longer than "
            "max_rounds (every round resolves at least one link). Raise "
            "max_rounds, or exact-dedup the batch first to collapse the "
            "chain.")
    finally:
        und.unpersist()
        for r in rounds:
            r.unpersist()


def greedy_novel(sig_rows: list, seen_buckets: set) -> list:
    """Order-greedy novelty: ``sig_rows`` = (doc_id, [minhash per band]),
    scanned in ascending doc_id. Mutates ``seen_buckets`` with kept docs'
    buckets; returns kept doc_ids."""
    novel = []
    for doc_id, sig in sorted(sig_rows, key=lambda r: r[0]):
        buckets = [(band, mh) for band, mh in enumerate(sig)]
        if any(b in seen_buckets for b in buckets):
            continue
        seen_buckets.update(buckets)
        novel.append(doc_id)
    return novel


class StreamingNearDupDedup:
    """foreachBatch sink: near-dup-dedup each micro-batch against the
    persistent store, emit novel docs to ``out_dir`` parquet (partitioned
    by ``__batch_id``), append their bucket rows to ``store_dir`` parquet,
    and record first-arrival of sig-less (NULL-text) docs in
    ``sigless_dir``.

    Usage:
        dd = StreamingNearDupDedup(base_dir, num_hashes=8, k=2)
        q = (stream.writeStream.foreachBatch(dd)
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt).start())
    """

    def __init__(self, base_dir: str, num_hashes: int = 8, k: int = 2,
                 run_token: str | None = None,
                 max_batch_rows: int = 5_000_000,
                 hash_family: str = "km_md5",
                 within_batch: str = "driver",
                 greedy_driver_finish_rows: int = 1_000_000) -> None:
        self.base_dir = base_dir
        self.store_dir = os.path.join(base_dir, "store")
        self.out_dir = os.path.join(base_dir, "novel")
        self.sigless_dir = os.path.join(base_dir, "sigless")
        self.meta_path = os.path.join(base_dir, "meta.json")
        self.num_hashes = num_hashes
        self.k = k
        self.run_token = run_token
        # ``within_batch`` picks the within-batch greedy implementation
        # (both produce the identical novel set — gated in tests):
        # - "driver" (default): collect the batch's signatures, one Python
        #   pass. Lowest latency for the common driver-sized micro-batch;
        #   guarded by max_batch_rows below.
        # - "distributed": iterated local-minima MIS rounds, nothing
        #   batch-sized ever reaches the driver — for fat replay/bootstrap
        #   batches (e.g. trigger(availableNow) over a month of backlog)
        #   where no trigger bound keeps the batch driver-sized.
        #   ``greedy_driver_finish_rows`` bounds the MIS driver-finish
        #   collect (bucket rows of the residual collision clusters, NOT
        #   the batch — see greedy_novel_distributed); 0 = strictly
        #   distributed to convergence.
        if within_batch not in ("driver", "distributed"):
            raise ValueError(f"unknown within_batch {within_batch!r}")
        self.within_batch = within_batch
        self.greedy_driver_finish_rows = greedy_driver_finish_rows
        # loud guard on the driver-sized-micro-batch assumption: the
        # "driver" greedy collects one signature row per doc, so a fat
        # batch would otherwise become a SILENT driver OOM. Sized for
        # ~1 KB/row -> a few GB of driver heap at the default. Not
        # consulted in "distributed" mode.
        self.max_batch_rows = max_batch_rows
        # the store is FAMILY-PINNED: signatures from different hash
        # families never collide (km decimal vs band hex strings), so
        # mixing them would silently disable dedup against everything
        # already stored. The family is recorded in meta.json and checked
        # on every batch; a pre-round-5 store (no recorded family) was
        # written by the then-default band_md5.
        self.hash_family = hash_family
        os.makedirs(base_dir, exist_ok=True)
        if not os.path.exists(self.meta_path):
            if any(os.path.exists(d) for d in
                   (self.store_dir, self.out_dir, self.sigless_dir)):
                # a populated store with no meta has an UNKNOWN hash
                # family and out layout (e.g. meta.json deleted, or a
                # foreign directory): attributing defaults would silently
                # mix families. Refuse instead of guessing.
                raise RuntimeError(
                    f"store directories exist under {base_dir} but "
                    "meta.json is missing: the store's hash_family and "
                    "novel-output layout are unknown. Restore meta.json "
                    "(with the family the store was written with), or "
                    "point at a fresh base_dir.")
            # write meta BEFORE any store append: a crash between the
            # first batch's append and its meta update can never leave a
            # family-less populated store
            self._store_meta(-1)

    def _load_meta(self) -> int:
        if not os.path.exists(self.meta_path):
            return -1
        with open(self.meta_path) as f:
            obj = json.load(f)
        # family mismatch is fatal regardless of lineage: the parquet
        # store under store_dir was written by obj's family, and a new
        # run_token does not rewrite it
        stored_fam = obj.get("hash_family", "band_md5")
        if stored_fam != self.hash_family:
            raise RuntimeError(
                f"signature store at {self.base_dir} was written with "
                f"hash_family={stored_fam!r} but this instance is "
                f"configured with {self.hash_family!r}: the families' "
                "signatures never collide, so continuing would silently "
                "stop deduplicating against everything already stored. "
                f"Pin hash_family={stored_fam!r}, or point at a fresh "
                "base_dir to start a new store.")
        # layout mismatch is equally fatal once novel output exists: a
        # pre-round-6 flat out store cannot take partitioned appends
        # (mixed layouts break partition discovery on read)
        if os.path.exists(self.out_dir) and obj.get("out_layout") != OUT_LAYOUT:
            raise RuntimeError(
                f"novel output at {self.out_dir} was written in the "
                "pre-round-6 flat layout (__batch_id as a data column); "
                f"this version partitions by __batch_id ({OUT_LAYOUT!r}) "
                "and appending would mix layouts. Migrate the store "
                "(rewrite novel/ partitioned by __batch_id and add "
                f"out_layout={OUT_LAYOUT!r} to meta.json), or point at a "
                "fresh base_dir.")
        if self.run_token is not None and obj.get("run_token") != self.run_token:
            return -1  # new checkpoint lineage: batch ids restart at 0
        return obj.get("last_batch_id", -1)

    def _store_meta(self, batch_id: int) -> None:
        tmp = f"{self.meta_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"last_batch_id": batch_id,
                       "run_token": self.run_token,
                       "hash_family": self.hash_family,
                       "out_layout": OUT_LAYOUT}, f)
        os.replace(tmp, self.meta_path)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self._load_meta():
            return  # at-least-once redelivery of an applied batch
        spark = batch_df.sparkSession
        sigs = minhash_signature_arrays(batch_df, self.num_hashes, self.k,
                                        hash_family=self.hash_family) \
            .localCheckpoint(eager=True)
        novel_ckpt = None
        new_sigless = None
        try:
            if self.within_batch == "driver":
                n_sig = sigs.count()  # metadata-cheap: sigs is checkpointed
                if n_sig > self.max_batch_rows:
                    raise RuntimeError(
                        f"micro-batch has {n_sig} signature rows > "
                        f"max_batch_rows={self.max_batch_rows}: the "
                        "within-batch greedy pass collects the BATCH's "
                        "signatures to the driver (the store never leaves "
                        "executors). Bound the trigger on the source "
                        "(maxFilesPerTrigger / maxOffsetsPerTrigger) so "
                        "micro-batches stay driver-sized, raise "
                        "max_batch_rows with matching driver memory, or "
                        "switch to within_batch='distributed'.")
            # distributed store-collision check: in driver mode only
            # COLLIDED batch ids come back to the driver; in distributed
            # mode nothing does — the store never leaves executors either way
            exploded = sigs.select(
                "doc_id", F.posexplode("sig").alias("band", "minhash"))
            if os.path.exists(self.store_dir):
                store = spark.read.schema(STORE_SCHEMA).parquet(self.store_dir)
                collided_ids = (exploded
                                .join(store, ["band", "minhash"], "left_semi")
                                .select("doc_id").distinct())
            else:
                collided_ids = None

            if self.within_batch == "distributed":
                cand = sigs if collided_ids is None else \
                    sigs.join(collided_ids, "doc_id", "left_anti")
                # returned frame is already materialized (localCheckpoint
                # inside greedy_novel_distributed); unpersisted in finally
                novel_ckpt = greedy_novel_distributed(
                    cand, driver_finish_rows=self.greedy_driver_finish_rows)
                novel_keep = novel_ckpt
                has_novel = bool(novel_keep.limit(1).count())
                store_novel_broadcastable = False
            else:
                collided = set() if collided_ids is None else \
                    {r["doc_id"] for r in collided_ids.collect()}
                # batch signatures are driver-sized; greedy pass resolves
                # within-batch collisions deterministically by doc_id order
                rows = [(r["doc_id"], list(r["sig"])) for r in sigs.collect()
                        if r["doc_id"] not in collided]
                novel = set(greedy_novel(rows, set()))
                # Kept-id filters are broadcast SEMI-JOINS against a
                # created-from-ids DataFrame, not isin() — a fat batch's
                # IN-list would bloat the plan (one literal per kept doc)
                # and serialize through expression parsing; a broadcast
                # hash relation is O(ids) bytes shipped once per executor.
                novel_keep = spark.createDataFrame(
                    [(int(i),) for i in sorted(novel)], "doc_id long")
                has_novel = bool(novel)
                store_novel_broadcastable = True
            # docs with NULL text have no shingles (the signature pipeline
            # drops them) — they can never collide with anything, so the
            # signature store cannot dedup them. First-arrival semantics
            # come from a dedicated doc_id store instead: a sig-less id is
            # emitted the first time it is seen and recorded, and a
            # re-arrival in ANY later batch anti-joins away. Everything is
            # distributed (anti-joins), never a collected id list: the
            # max_batch_rows guard bounds SIGNATURE rows only, and a batch
            # that is mostly sig-less (e.g. a broken upstream extractor
            # NULLing text) can be arbitrarily larger than it.
            sigless_ids = batch_df.select("doc_id").join(
                sigs.select("doc_id"), "doc_id", "left_anti")
            if os.path.exists(self.sigless_dir):
                seen_sigless = spark.read.schema("doc_id long") \
                    .parquet(self.sigless_dir)
                sigless_ids = sigless_ids.join(seen_sigless, "doc_id",
                                               "left_anti")
            # materialize once: read by the emit union AND appended to the
            # sig-less store below (which its plan reads — never write a
            # path a live lazy plan still scans)
            new_sigless = sigless_ids.localCheckpoint(eager=True)
            has_sigless = bool(new_sigless.limit(1).count())
            if has_novel or has_sigless:
                # crash ordering: OUT before STORES, with an idempotence
                # guard. crash after out/before stores -> replay recomputes
                # the same novel + sig-less sets (stores unchanged) and the
                # guard skips re-emission while the store appends proceed;
                # crash after stores/before meta -> replay sees the docs
                # collide with their own stored buckets / sig-less ids,
                # emits nothing, and out already has them from before the
                # crash. Either way: exactly once.
                emit_ids_df = novel_keep.unionByName(new_sigless)
                emit = batch_df.join(emit_ids_df, "doc_id", "left_semi")
                if os.path.exists(self.out_dir):
                    # replay guard for THIS batch only: docs the crashed
                    # attempt of the same batch already wrote. Earlier
                    # batches cannot re-emit (watermark skips applied ids;
                    # cross-batch re-arrivals are suppressed upstream by
                    # the signature / sig-less stores), so the anti-join
                    # is scoped to the current __batch_id partition —
                    # partition-pruned instead of scanning the entire
                    # emitted corpus on every batch. A lineage restart
                    # (new run_token) reuses batch ids: anti-joining an
                    # older lineage's same-id partition only suppresses
                    # identical doc_ids, which the stores suppress anyway.
                    prior = (spark.read.parquet(self.out_dir)
                             .where(F.col("__batch_id") == batch_id)
                             .select("doc_id"))
                    emit = emit.join(prior, "doc_id", "left_anti")
                (emit.withColumn("__batch_id", F.lit(batch_id))
                 .write.mode("append").partitionBy("__batch_id")
                 .parquet(self.out_dir))
                if has_novel:
                    store_keep = F.broadcast(novel_keep) \
                        if store_novel_broadcastable else novel_keep
                    (sigs.join(store_keep, "doc_id", "left_semi")
                     .select("doc_id",
                             F.posexplode("sig").alias("band", "minhash"))
                     .write.mode("append").parquet(self.store_dir))
                if has_sigless:
                    new_sigless.write.mode("append").parquet(self.sigless_dir)
            self._store_meta(batch_id)
        finally:
            sigs.unpersist()
            if novel_ckpt is not None:
                novel_ckpt.unpersist()
            if new_sigless is not None:
                new_sigless.unpersist()

    def novel_docs(self, spark) -> DataFrame:
        return spark.read.parquet(self.out_dir)
