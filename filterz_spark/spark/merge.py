"""Distributed mergeable-sketch aggregation.

Pipeline (SURVEY.md §2.6): per-(group, partition) partial states via one
``mapInArrow`` pass over the scan (``_partials_fn``; NO shuffle — partials
build where the data lives, the map-side-combine of a hash aggregate), then
grouped ``applyInArrow`` merge rounds over the tiny state rows
(``_merge_by``/``_merge_group``), then a driver fold of the <= ``FANIN``
survivors (``_fold``). Column sketches run fan-in rounds of ``FANIN`` states
— the grouped-Arrow form of ``treeAggregate``: at 10^6 partitions and 16KB
HLL states, round one moves 16GB across the cluster in 32-row groups, round
two 500MB, etc. — never through the driver until the last handful. Grouped
rollups run one round keyed by group. The persisted store
(``spark.sketch_store``) writes the state ``sketch_column`` returns and
folds stored epochs with ``_fold``.

Every fold runs in partition order: each state row carries the
``partition_id`` of the input partition (or the fan-in range) it covers,
and ``_merge_group`` sorts by it before merging. Bloom/HLL/CMS states are
bit-identical under any tree shape (monoid with idempotent/commutative
merge); t-digest/KLL merges depend on order, so sorting makes their states
deterministic too — the same under a retried task or a different shuffle
arrival order — and they hold their rank bounds under any shape.
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, functions as F

from ..sketches import SKETCH_KINDS, MergeableSketch, deserialize_sketch
from .partitioning import plan_partitions

STATE_SCHEMA = "partition_id long, kind string, params string, payload binary"
# states merged per executor task in each fan-in round
FANIN = 32
_PARTIALS_ARROW = pa.schema([
    ("g", pa.string()), ("partition_id", pa.int64()), ("kind", pa.string()),
    ("params", pa.string()), ("payload", pa.binary()),
])


def _project_values(df: DataFrame, col: str, kind: str,
                   value_kind: str | None, *keep: str) -> tuple[DataFrame, str]:
    """Select ``keep`` plus the sketch input column ``v``; returns the frame
    and the resolved value_kind.

    value_kind: 'hash' (xxhash64 of the column, JVM-side), 'pass' (the
    column already holds int64 key hashes) or 'float' (raw numeric values
    for quantile sketches). ``None`` picks 'float' for t-digest/KLL and
    'hash' otherwise; anything else raises.
    """
    if value_kind is None:
        value_kind = "float" if kind in ("tdigest", "kll") else "hash"
    if value_kind == "hash":
        v = F.xxhash64(col)
    elif value_kind == "pass":
        v = F.col(col).cast("long")
    elif value_kind == "float":
        v = F.col(col).cast("double")
    else:
        raise ValueError(f"unknown value_kind {value_kind!r}: expected "
                         "'hash', 'pass' or 'float'")
    return df.select(*keep, v.alias("v")), value_kind


def _decode(arrow_col, value_kind: str):
    """Executor side: the numpy array a sketch's ``update`` takes."""
    import numpy as np

    vs = arrow_col.to_numpy(zero_copy_only=False)
    if value_kind == "float":
        return vs.astype(np.float64)
    return vs.astype(np.int64).view(np.uint64)


def _fold(kind: str, payloads, params) -> MergeableSketch | None:
    """Deserialize states in order and merge them left to right; ``None``
    when there are none."""
    acc = None
    for p, prm in zip(payloads, params):
        s = deserialize_sketch(kind, bytes(p), json.loads(prm))
        acc = s if acc is None else acc.merge(s)
    return acc


def _merge_group(states: pa.Table) -> pa.Table:
    """applyInArrow body: one group's states, folded in partition_id
    order -> one state row keyed ``g`` (a NULL group and the key's type
    pass through in the one-row slice)."""
    states = states.take(pc.sort_indices(states, [("partition_id", "ascending")]))
    acc = _fold(states["kind"][0].as_py(), states["payload"].to_pylist(),
                states["params"].to_pylist())
    return pa.table({
        "g": states["g"].slice(0, 1),
        "kind": states["kind"].slice(0, 1),
        "params": pa.array([json.dumps(acc.params())], states["params"].type),
        "payload": pa.array([acc.serialize()], states["payload"].type),
    })


def _merge_by(states: DataFrame, key: Column, key_type: str) -> DataFrame:
    """One executor round: merge the states sharing ``key`` (of SQL type
    ``key_type``) into one (g, kind, params, payload) row each."""
    return (states.select(key.alias("g"), "partition_id", "kind", "params",
                          "payload")
            .groupBy("g")
            .applyInArrow(_merge_group, f"g {key_type}, kind string, "
                          "params string, payload binary"))


def _fan_in(states: DataFrame, n: int) -> DataFrame:
    """Executor-side rounds of ``FANIN`` states per group until at most
    ``FANIN`` of the ``n`` input states remain.

    Round one groups by partition_id // FANIN and numbers each output row
    by its group, so every later round groups its input the same way and
    the surviving rows keep the order of the partitions they cover.
    """
    while n > FANIN:
        states = _merge_by(states, F.floor(F.col("partition_id") / FANIN),
                           "long").withColumnRenamed("g", "partition_id")
        n = (n + FANIN - 1) // FANIN
    return states


def _partials_fn(kind: str, params: dict, value_kind: str):
    """mapInArrow closure over (g, v) batches: one serialized state per
    (group, partition), as (g, partition_id, kind, params, payload) rows.

    Per-row work is ALL vectorized: dictionary-encode the group column
    (Arrow C++), argsort the int32 codes (numpy), cut group runs from the
    code diffs. Python touches one object per DISTINCT group per batch —
    not per row — so a 100-TB rollup's hot partial pass stays numpy-speed
    regardless of group cardinality skew. Nulls form their own group (SQL
    GROUP BY semantics) via a -1 code; an ungrouped column sketch is the
    one null group, whose stable sort keeps each batch's row order.
    """
    import numpy as np

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketches: dict = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vs = _decode(batch.column(1), value_kind)
            denc = batch.column(0).dictionary_encode()
            codes = (denc.indices.fill_null(-1)
                     .to_numpy(zero_copy_only=False).astype(np.int64))
            gvals = denc.dictionary
            order = np.argsort(codes, kind="stable")
            scodes = codes[order]
            svs = vs[order]
            bounds = np.flatnonzero(np.diff(scodes)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            for s, e in zip(starts, ends):
                c = scodes[s]
                g = None if c < 0 else gvals[c].as_py()
                sk = sketches.get(g)
                if sk is None:
                    sk = SKETCH_KINDS[kind].zero(**params)
                    sketches[g] = sk
                sk.update(svs[s:e])
        pid = TaskContext.get().partitionId()
        for g, sk in sketches.items():
            yield pa.RecordBatch.from_pydict({
                "g": [g], "partition_id": [pid], "kind": [kind],
                "params": [json.dumps(sk.params())],
                "payload": [sk.serialize()],
            }, schema=_PARTIALS_ARROW)

    return fn


def _partials(df: DataFrame, group: Column, col: str, kind: str,
              params: dict | None, value_kind: str | None) -> DataFrame:
    """(g, partition_id, kind, params, payload): one state per (group,
    partition) of ``df``, built map-side."""
    projected, value_kind = _project_values(df, col, kind, value_kind,
                                            group.alias("g"))
    return projected.mapInArrow(_partials_fn(kind, params or {}, value_kind),
                                "g string, " + STATE_SCHEMA)


def partial_states(df: DataFrame, col: str, kind: str, params: dict | None = None,
                   value_kind: str | None = None) -> DataFrame:
    """Per-partition sketch states (see ``_project_values`` for value_kind)."""
    return _partials(df, F.lit(None).cast("string"), col, kind, params,
                     value_kind).drop("g")


def tree_merge(states: DataFrame) -> MergeableSketch | None:
    """Fan-in tree of applyInArrow merge rounds, then a driver-side finish;
    ``None`` when ``states`` holds no rows (an empty input).

    Each round groups ``FANIN`` states by partition_id range and merges them
    in one executor task. The round count is derived from the PARTITION COUNT
    of the input (one state row per partition) — a metadata lookup, not a
    job — so the whole merge is a single pass with no count()/recompute.
    """
    # collect unordered and sort driver-side: an ``orderBy`` here plans a
    # range exchange whose boundary-sampling pass EXECUTES the whole
    # partials pipeline a second time (measured 2.3x wall on the sketch
    # legs); the surviving rows are <= FANIN KB-sized states, so the
    # driver sort is free and the merge order is identical
    rows = sorted(_fan_in(states, plan_partitions(states)).collect(),
                  key=lambda r: r["partition_id"])
    if not rows:
        return None
    return _fold(rows[0]["kind"], [r["payload"] for r in rows],
                 [r["params"] for r in rows])


def sketch_column(df: DataFrame, col: str, kind: str, params: dict | None = None,
                  value_kind: str | None = None) -> MergeableSketch:
    """End-to-end: partials -> tree merge -> final sketch object. A frame
    with no rows gives the kind's zero state (the monoid identity)."""
    merged = tree_merge(partial_states(df, col, kind, params, value_kind))
    if merged is None:
        return SKETCH_KINDS[kind].zero(**(params or {}))
    return merged


def grouped_sketch_states(df: DataFrame, group_col: str, value_col: str,
                          kind: str, params: dict | None = None,
                          value_kind: str | None = None) -> DataFrame:
    """Per-GROUP sketch states — the rollup primitive (one HLL/CMS/t-digest
    per lang/host/day instead of one global sketch).

    Two-phase: per-(partition, group) partials inside one mapInArrow pass
    (map-side combine — the hot group's rows never concentrate), then one
    shuffle of tiny states grouped by key and the fan-in's applyInArrow
    merge round (``_merge_by``) in partition order. Output: (group, kind,
    params, payload) — feed rows to ``deserialize_sketch`` or
    ``grouped_estimates``.
    """
    return _merge_by(_partials(df, F.col(group_col), value_col, kind, params,
                               value_kind), F.col("g"), "string")


def grouped_estimates(states_df: DataFrame) -> list[tuple]:
    """(group, estimate) per group from a grouped_sketch_states result."""
    out = []
    for r in states_df.collect():
        sk = deserialize_sketch(r["kind"], bytes(r["payload"]), json.loads(r["params"]))
        est = sk.estimate() if hasattr(sk, "estimate") else sk.quantile(0.5)
        out.append((r["g"], est))
    return sorted(out, key=lambda t: (t[0] is None, t[0] or ""))
