"""Checkpointed, resumable filter-index builds with lineage + metrics.

North-rule requirement: per-partition sketch state checkpointed with lineage
and metrics for resumable builds. The filter index (build.py schema) already
carries metrics (build_ns, mem_usage, ideal_mem_usage, attempts — mirroring
the reference's BenchStats, src/bench.zig:186-193); this module adds the
lineage envelope (input fingerprint, kind/params, partition count, epoch) and
the resume protocol:

1. A build writes its index as parquet under ``dir/state``, partitioned by
   ``partition_id``, plus a lineage marker in ``dir/_filterz_checkpoint_meta``
   (the pinned-store protocol of ``spark.fsio``: any path Spark can write,
   a mismatched or unmarked checkpoint is refused).
2. Resume re-derives the same deterministic partitioning (repartition by key
   hash is deterministic for fixed P), reads completed partition_ids from the
   lineage, and rebuilds ONLY the missing ones (the skip set is filtered
   out JVM-side before the exchange — completed partitions are scanned but
   never shuffled or rebuilt).
3. The state write overwrites exactly the partitions it rebuilt, so a
   replay after a lost lineage update replaces rows instead of appending
   copies; a rerun after full completion is a no-op read of the lineage.

Parquet stands in for Iceberg here (sandbox has no catalog); the layout maps
1:1 onto an Iceberg table partitioned by partition_id with snapshot lineage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import INDEX_FIELDS, INDEX_SCHEMA, build_filter_index
from .fsio import (check_marker, has_data, overwrite_partitions,
                   read_json_marker, stamp_marker)

CHECKPOINT_META_DIR = "_filterz_checkpoint_meta"


def _state_path(checkpoint_dir: str) -> str:
    return f"{checkpoint_dir.rstrip('/')}/state"


def read_lineage(spark: SparkSession, checkpoint_dir: str) -> dict | None:
    """The checkpoint's lineage (params, completed_partitions, epoch,
    snapshots), or ``None`` before its first build."""
    return read_json_marker(
        spark, f"{checkpoint_dir.rstrip('/')}/{CHECKPOINT_META_DIR}")


def checkpointed_build(spark: SparkSession, df: DataFrame, key_col: str,
                       checkpoint_dir: str, kind: str = "xorf",
                       params: dict | None = None,
                       num_partitions: int = 32,
                       fail_after: int | None = None) -> DataFrame:
    """Build (or resume) a filter index with checkpointing.

    ``fail_after``: test hook — build only the first N missing partitions
    this invocation (simulates a mid-build crash; a subsequent call
    resumes). Partition-atomic: every shard of a built partition persists.
    """
    params = params or {}
    expected = {
        "kind": kind,
        "params": {k: str(v) for k, v in params.items()},
        "key_col": key_col,
        "num_partitions": num_partitions,
    }
    lineage = check_marker(
        spark, checkpoint_dir, CHECKPOINT_META_DIR, "checkpoint", expected,
        required=False,
        why="resuming would mix filters built under other parameters.")
    if lineage is None:
        # pin the parameters before the first state write: a crash between
        # that write and the lineage update then resumes instead of leaving
        # unmarked (refused) state behind
        lineage = {**expected, "epoch": 0, "completed_partitions": [],
                   "snapshots": []}
        stamp_marker(spark, checkpoint_dir, CHECKPOINT_META_DIR, lineage)
    done = set(lineage["completed_partitions"])
    # partitions that come out empty after the shuffle are complete too —
    # without recording them, reruns would re-execute the build forever
    # (epoch inflation, never a no-op)
    new_pids = [p for p in range(num_partitions) if p not in done]
    if fail_after is not None:
        new_pids = new_pids[:fail_after]

    if new_pids:
        t0 = time.monotonic()
        new_index = build_filter_index(
            df, key_col, kind, params, num_partitions,
            skip_pids=frozenset(range(num_partitions)) - set(new_pids))
        overwrite_partitions(new_index, _state_path(checkpoint_dir),
                             "partition_id")
        # build wall stops HERE: the snapshot-stats read below is metrics
        # overhead, not build cost, and must not inflate wall_s
        build_wall = round(time.monotonic() - t0, 3)
        lineage["completed_partitions"] = sorted(done | set(new_pids))
        lineage["epoch"] += 1
        # Iceberg-style snapshot record: what this epoch added and its build
        # metrics, aggregated from the (tiny — one row per partition shard)
        # state table it just wrote, NOT from re-running the build plan
        stats = (_read_state(spark, checkpoint_dir)
                 .filter(F.col("partition_id").isin(new_pids))
                 .agg(F.count("*").alias("shards"),
                      F.coalesce(F.sum("num_keys"), F.lit(0)).alias("keys"),
                      F.coalesce(F.sum("build_ns"), F.lit(0)).alias("build_ns"),
                      F.coalesce(F.sum("mem_usage"), F.lit(0)).alias("mem"))
                 .collect()[0])
        lineage["snapshots"].append({
            "epoch": lineage["epoch"],
            "new_partitions": new_pids,
            "shards": int(stats["shards"]),
            "keys": int(stats["keys"]),
            "build_ns": int(stats["build_ns"]),
            "mem_usage": int(stats["mem"]),
            "wall_s": build_wall,
        })
        stamp_marker(spark, checkpoint_dir, CHECKPOINT_META_DIR, lineage)

    return _read_state(spark, checkpoint_dir)


def _read_state(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The persisted index rows in build.py's column order; empty when no
    partition produced a row."""
    state = _state_path(checkpoint_dir)
    if not has_data(spark, state):
        return spark.createDataFrame([], schema=INDEX_SCHEMA)
    return spark.read.schema(INDEX_SCHEMA).parquet(state).select(*INDEX_FIELDS)
