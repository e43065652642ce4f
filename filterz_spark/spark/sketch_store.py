"""Epoch-partitioned persisted sketch stores (incremental rollup tier).

The production sketch pattern at 100 TB: raw data is scanned ONCE per
epoch (a day of events, a crawl snapshot), reduced to kilobyte mergeable
states, and every later question ("distinct users over the last 90
days?") is answered by merging the stored states for the epoch range —
never by rescanning 100 TB. This is the persisted-rollup discipline of
Druid/Pinot-style sketch tiers, built here on the same mergeable-sketch
monoids as ``spark.merge`` (SURVEY.md §2.6) and the pinned-store
protocol of ``spark/fsio.py`` (shared with the signature store and the
build checkpoint): a store whose
marker disagrees with the caller refuses loudly instead of silently
merging incompatible states.

Reference parity: the reference (steelcake/filterz) persists filter
payloads and reloads them for membership probes (`src/bench.zig:71-117`
read_file -> build -> check loop); this module extends the same
build-once / probe-many shape to the mergeable-sketch tier the north
rule adds.

Scale shape per epoch write: ``sketch_column`` reduces the epoch's rows
(one map-side pass builds per-partition partials where the data lives, no
shuffle of raw rows; the ``spark.merge`` fan-in rounds; the same driver
fold), and the KB-sized result is written as one row from a one-row local
table. Merging a range reads only the requested epoch partitions
(partition-pruned scan over KB files) in one job and folds them on the
driver in (epoch, partition_id) order, like every other fold of the tier.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sketches import SKETCH_KINDS, MergeableSketch
from .fsio import check_marker, overwrite_partitions, stamp_marker
from .merge import STATE_SCHEMA, _fold, _project_values, sketch_column

SKETCHSTORE_META_DIR = "_filterz_sketch_meta"


def _params_key(params: dict) -> str:
    """Canonical (sorted-key) JSON so marker comparison is order-stable."""
    return json.dumps(params or {}, sort_keys=True)


# what a store written under other parameters would break
_MISMATCH = ("states with different parameters do not merge (register "
             "widths / hash planes misalign), so the store would be "
             "corrupted. Write to a fresh path or match the store's "
             "parameters.")


def write_sketch_epoch(df: DataFrame, col: str, path: str, epoch: str, *,
                       kind: str, params: dict | None = None,
                       value_kind: str | None = None) -> None:
    """Reduce one epoch of raw rows to one persisted sketch state.

    Overwrites ONLY this epoch's partition (dynamic partition overwrite),
    so re-running a failed/changed day replaces that day and nothing
    else — the write is idempotent per (path, epoch).

    Late data is handled by re-running the epoch over all of its rows.
    Because the write replaces the partition, a re-run never
    double-counts, for counting sketches (CMS) as much as for HLL.

    An epoch whose rows are all gone stores the kind's zero state (the
    monoid identity), so the re-run still replaces the old state.

    The reduction is ``sketch_column``'s: per-partition partials (one
    mapInArrow pass, no shuffle of raw rows), the ``spark.merge`` fan-in
    rounds and the driver fold. The one KB-sized state is then written
    from a one-row local table (one task, no empty write tasks).
    """
    if kind not in SKETCH_KINDS:
        raise ValueError(f"unknown sketch kind {kind!r}: {sorted(SKETCH_KINDS)}")
    params = params or {}
    # resolve value_kind for the marker; a bad one raises before any job
    _, value_kind = _project_values(df, col, kind, value_kind)
    spark = df.sparkSession

    want = {"kind": kind, "params": _params_key(params),
            "value_kind": value_kind}
    meta = check_marker(spark, path, SKETCHSTORE_META_DIR, "sketch store",
                        want, required=False, why=_MISMATCH)

    state = sketch_column(df, col, kind, params, value_kind)
    row = pa.table({
        "partition_id": pa.array([0], pa.int64()),
        "kind": [kind],
        "params": [json.dumps(state.params())],
        "payload": pa.array([state.serialize()], pa.binary()),
        "epoch": [str(epoch)],
    })
    overwrite_partitions(spark.createDataFrame(row), path, "epoch")
    if meta is None:
        stamp_marker(spark, path, SKETCHSTORE_META_DIR, {**want, "version": 1})


def read_sketch_store(spark: SparkSession, path: str, *,
                      kind: str | None = None,
                      params: dict | None = None) -> DataFrame:
    """Open a marker-pinned sketch store; refuse unmarked directories.

    Returns (partition_id, kind, params, payload, epoch) rows; the epoch
    column is the partition column, so ``.where(epoch between ...)`` is
    partition-pruned at the file listing.
    """
    check_marker(spark, path, SKETCHSTORE_META_DIR, "sketch store",
                 {"kind": kind,
                  "params": None if params is None else _params_key(params)},
                 required=True, why=_MISMATCH)
    return spark.read.schema(STATE_SCHEMA).parquet(path)


def merge_sketch_range(spark: SparkSession, path: str, *,
                       epoch_min: str | None = None,
                       epoch_max: str | None = None,
                       epochs: list[str] | None = None) -> MergeableSketch:
    """Merge the stored states of an epoch range into one sketch.

    The scan touches ONLY the requested epoch partitions (Hive-style
    partition pruning on the `epoch` directory column — gated by
    tests/test_plans.py) and runs as one job; with one state per epoch, a
    90-day range is 90 KB-sized rows, collected and folded on the driver
    in (epoch, partition_id) order — driver-trivial by construction,
    which is the entire point of the store.
    """
    states = read_sketch_store(spark, path)
    if epochs is not None:
        states = states.where(F.col("epoch").isin([str(e) for e in epochs]))
    if epoch_min is not None:
        states = states.where(F.col("epoch") >= str(epoch_min))
    if epoch_max is not None:
        states = states.where(F.col("epoch") <= str(epoch_max))
    rows = sorted(states.collect(),
                  key=lambda r: (r["epoch"], r["partition_id"]))
    if not rows:
        raise ValueError(
            f"sketch store at {path} has no states in the requested epoch "
            "range")
    return _fold(rows[0]["kind"], [r["payload"] for r in rows],
                 [r["params"] for r in rows])
