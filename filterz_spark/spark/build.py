"""Partition filter builds — the Spark form of the reference's section model.

The reference cuts a 50M-key stream into ~1M-key sections and builds one
filter per section (src/bench.zig:33-50, :240-249). Here a "section" is one
of the P hash buckets of a shuffle partitioning: keys are hashed JVM-side with the built-in ``xxhash64``
(zero per-row Python), shuffled once by hash so duplicates co-locate, and
one task per core builds its sections inside one ``mapInArrow`` pass — per
section, sort+dedup via ``np.unique`` (the reference's hash_section,
src/bench.zig:258-280), then the C construction kernel
(``filterz_spark.native``). The result is a small "filter index" DataFrame
(one row per section: payload + params + lineage + metrics mirroring
BenchStats, src/bench.zig:186-193) that can be checkpointed and broadcast
for probes.

Scale posture: the single shuffle is by the key hash itself, so skew in raw
keys (hot urls/langs) is irrelevant — xxhash64 output is uniform. Section
count P sizes each build at num_keys/P; construction cost and failure
probability are per-section, and a failed section retries locally without
touching the others (attempts recorded in lineage).
"""

from __future__ import annotations

import json
import time
from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..filters import FILTER_KINDS

# filter-index schema: one row per partition SHARD (normally one shard per
# partition; a partition whose Las-Vegas construction exhausts its seed
# budget is re-split into halves — ref ConstructError is a real code path,
# src/xorf.zig:52-56, src/ribbon.zig:136-138)
INDEX_SCHEMA = (
    "partition_id int, shard int, kind string, params string, num_keys long, "
    "payload binary, build_ns long, mem_usage long, ideal_mem_usage long, "
    "attempts int"
)

INDEX_FIELDS = ["partition_id", "shard", "kind", "params", "num_keys", "payload",
                "build_ns", "mem_usage", "ideal_mem_usage", "attempts"]

MAX_SPLIT_DEPTH = 4  # a partition may re-split at most this many times

# explicit Arrow schema: pyarrow would otherwise infer int64 for the int32
# fields and Spark's ArrowColumnVector rejects the width mismatch
_ARROW_INDEX_SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("shard", pa.int32()),
    ("kind", pa.string()),
    ("params", pa.string()),
    ("num_keys", pa.int64()),
    ("payload", pa.binary()),
    ("build_ns", pa.int64()),
    ("mem_usage", pa.int64()),
    ("ideal_mem_usage", pa.int64()),
    ("attempts", pa.int32()),
])


def hashed_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Project the key column to its u64 hash JVM-side (xxhash64, seed 42).

    Catalyst prunes the scan to this single column (check ReadSchema in
    .explain); no Python touches raw keys.
    """
    return df.select(F.xxhash64(key_col).alias("h"))


def _construct_errors() -> tuple:
    """The Las-Vegas construction-failure types (executor-side import)."""
    from ..filters import ribbon, xorf
    return (xorf.ConstructError, ribbon.ConstructError, MemoryError)


def section_id(h: str, num_sections: int) -> Column:
    """The section of hash column ``h``: ``pmod(murmur3(h), P)``, the
    placement of ``repartition(P, h)``. The build labels its rows with it
    and the cogrouped probe routes with it, so the two agree by construction.
    """
    return F.pmod(F.hash(h), F.lit(num_sections)).cast("int")


def _build_sections_fn(kind: str, params: dict):
    """mapInArrow closure: group the task's hashes by section id, then
    dedup and build one filter per section."""
    # resolved driver-side: the closure ships kinds registered only here
    filter_cls = FILTER_KINDS[kind]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np  # executor-side

        hs, sids = [], []
        for batch in batches:
            hs.append(batch.column(0).to_numpy(zero_copy_only=False))
            sids.append(batch.column(1).to_numpy(zero_copy_only=False))
        if not hs:
            return
        # int64 -> uint64 reinterpret; one argsort groups the sections
        sid = np.concatenate(sids)
        order = np.argsort(sid)
        sid = sid[order]
        h_all = np.concatenate(hs).astype(np.int64).view(np.uint64)[order]
        bounds = np.flatnonzero(np.diff(sid)) + 1
        for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, sid.size]):
            yield from _build_section(filter_cls, kind, params, int(sid[lo]),
                                      np.unique(h_all[lo:hi]))

    return fn


def _build_section(filter_cls, kind: str, params: dict, pid: int,
                   hashes) -> Iterator[pa.RecordBatch]:
    """Build one section's sorted, deduplicated hashes (ref
    src/bench.zig:258-280) into its index rows."""
    # Las-Vegas construction can fail after its seed budget; re-split the
    # section's keys in halves and build shard filters (probe semantics
    # are OR-over-filters, so shards compose transparently)
    pending = [(hashes, 0)]
    shards = []
    attempts = 0
    while pending:
        h, depth = pending.pop()
        attempts += 1
        t0 = time.monotonic_ns()
        try:
            filt = filter_cls.build(h, **params)
        except _construct_errors() as exc:  # noqa: F841
            # ONLY Las-Vegas seed exhaustion triggers a re-split —
            # a bad param / type error is not size-dependent and would
            # otherwise burn 2^depth redundant rebuild attempts before
            # surfacing from a leaf
            if depth >= MAX_SPLIT_DEPTH:
                raise
            mid = h.size // 2
            pending.append((h[:mid], depth + 1))
            pending.append((h[mid:], depth + 1))
            continue
        shards.append((filt, int(h.size), time.monotonic_ns() - t0))
    for shard_id, (filt, nk, build_ns) in enumerate(shards):
        yield pa.RecordBatch.from_pydict({
            "partition_id": [pid],
            "shard": [shard_id],
            "kind": [kind],
            "params": [json.dumps(filt.params())],
            "num_keys": [nk],
            "payload": [filt.serialize()],
            "build_ns": [build_ns],
            "mem_usage": [filt.mem_usage()],
            "ideal_mem_usage": [filt.ideal_mem_usage()],
            "attempts": [attempts],
        }, schema=_ARROW_INDEX_SCHEMA)


def build_filter_index(df: DataFrame, key_col: str, kind: str = "xorf",
                       params: dict | None = None,
                       num_partitions: int | None = None,
                       skip_pids: frozenset | None = None) -> DataFrame:
    """Hash keys, co-locate duplicates, build one filter per section.

    ``repartition(P, h)`` is the single shuffle: duplicates of a key land in
    the same section, so per-section ``np.unique`` yields globally
    deduplicated keys (xor/ribbon construction precondition) without a
    separate ``distinct()`` shuffle. P is ``num_partitions``, or
    ``spark.sql.shuffle.partitions`` when it is None; section ``s`` holds
    the keys whose ``section_id`` is ``s``, so the section count is fixed
    before the run and the cogrouped probe can route to it.

    After the exchange the P sections are coalesced into
    ``min(P, defaultParallelism)`` Python tasks, one per core, each
    building every section it holds.

    ``skip_pids``: sections not to build (resume); they are filtered out
    JVM-side before the exchange, so they never reach the shuffle or Python.
    """
    params = params or {}
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    hashed = hashed_keys(df, key_col)
    if skip_pids:
        hashed = hashed.filter(~section_id("h", p).isin(sorted(skip_pids)))
    return (hashed.repartition(p, "h")
            .select("h", section_id("h", p).alias("sid"))
            .coalesce(spark.sparkContext.defaultParallelism)
            .mapInArrow(_build_sections_fn(kind, params), INDEX_SCHEMA))
