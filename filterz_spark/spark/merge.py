"""Distributed mergeable-sketch aggregation.

Pipeline (SURVEY.md §2.6): per-partition partial states via one
``mapInArrow`` pass over the scan (NO shuffle — partials build where the
data lives, the map-side-combine of a hash aggregate), then a fan-in tree of
``applyInPandas`` merge rounds over the tiny state rows, then a final driver
merge of the <= ``FANIN`` survivors. This is the applyInPandas form of
``treeAggregate``: at 10^6 partitions and 16KB HLL states, round one moves
16GB across the cluster in 32-row groups, round two 500MB, etc. — never
through the driver until the last handful. The persisted store
(``spark.sketch_store``) reduces each epoch with the same rounds.

Bloom/HLL/CMS states are bit-identical under any tree shape (monoid with
idempotent/commutative merge); t-digest/KLL are deterministic for the fixed
tree shape this module produces, and hold their rank bounds under any shape.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, functions as F

from ..sketches import SKETCH_KINDS, MergeableSketch, deserialize_sketch
from .partitioning import plan_partitions

STATE_SCHEMA = "partition_id long, kind string, params string, payload binary"
# states merged per executor task in each fan-in round
FANIN = 32


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


def _fold(kind: str, payloads, params) -> MergeableSketch:
    """Deserialize states in order and merge them left to right."""
    acc = None
    for p, prm in zip(payloads, params):
        s = deserialize_sketch(kind, bytes(p), json.loads(prm))
        acc = s if acc is None else acc.merge(s)
    return acc


def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas body: one group's states -> one state row keyed ``g``."""
    kind = pdf["kind"].iloc[0]
    acc = _fold(kind, pdf["payload"], pdf["params"])
    return pd.DataFrame({
        "g": [pdf["g"].iloc[0]],
        "kind": [kind],
        "params": [json.dumps(acc.params())],
        "payload": [acc.serialize()],
    })


def _merge_by(states: DataFrame, key: Column) -> DataFrame:
    """One executor round: merge the states sharing ``key`` into one row
    each, whose partition_id is the key."""
    return (states.select(key.alias("g"), "kind", "params", "payload")
            .groupBy("g")
            .applyInPandas(_merge_group,
                           "g long, kind string, params string, payload binary")
            .withColumnRenamed("g", "partition_id"))


def _fan_in(states: DataFrame, n: int) -> DataFrame:
    """Executor-side rounds of ``FANIN`` states per group until at most
    ``FANIN`` of the ``n`` input states remain.

    Round one groups by partition_id // FANIN and numbers each output row
    by its group, so every later round groups its input the same way and
    the surviving rows keep the order of the partitions they cover.
    """
    while n > FANIN:
        states = _merge_by(states, F.floor(F.col("partition_id") / FANIN))
        n = (n + FANIN - 1) // FANIN
    return states


def _partial_fn(kind: str, params: dict, value_kind: str):
    """mapInArrow closure: one serialized sketch state per partition."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketch = SKETCH_KINDS[kind].zero(**params)
        saw = False
        for batch in batches:
            sketch.update(_decode(batch.column(0), value_kind))
            saw = True
        if not saw:
            return
        pid = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict({
            "partition_id": [pid],
            "kind": [kind],
            "params": [json.dumps(sketch.params())],
            "payload": [sketch.serialize()],
        })

    return fn


def partial_states(df: DataFrame, col: str, kind: str, params: dict | None = None,
                   value_kind: str | None = None) -> DataFrame:
    """Per-partition sketch states (see ``_project_values`` for value_kind)."""
    projected, value_kind = _project_values(df, col, kind, value_kind)
    return projected.mapInArrow(_partial_fn(kind, params or {}, value_kind),
                                STATE_SCHEMA)


def tree_merge(states: DataFrame,
               num_states_hint: int | None = None) -> MergeableSketch:
    """Fan-in tree of applyInPandas merge rounds, then a driver-side finish.

    Each round groups ``FANIN`` states by partition_id range and merges them
    in one executor task. The round count is derived from the PARTITION COUNT
    of the input (one state row per partition) — a metadata lookup, not a
    job — so the whole merge is a single pass with no count()/recompute.
    """
    n = num_states_hint if num_states_hint is not None \
        else plan_partitions(states)
    # collect unordered and sort driver-side: an ``orderBy`` here plans a
    # range exchange whose boundary-sampling pass EXECUTES the whole
    # partials pipeline a second time (measured 2.3x wall on the sketch
    # legs); the surviving rows are <= FANIN KB-sized states, so the
    # driver sort is free and the merge order is identical
    rows = sorted(_fan_in(states, n).collect(),
                  key=lambda r: r["partition_id"])
    if not rows:
        raise ValueError("no sketch states to merge (empty input)")
    return _fold(rows[0]["kind"], [r["payload"] for r in rows],
                 [r["params"] for r in rows])


def sketch_column(df: DataFrame, col: str, kind: str, params: dict | None = None,
                  value_kind: str | None = None) -> MergeableSketch:
    """End-to-end: partials -> tree merge -> final sketch object."""
    return tree_merge(partial_states(df, col, kind, params, value_kind))


def grouped_sketch_states(df: DataFrame, group_col: str, value_col: str,
                          kind: str, params: dict | None = None,
                          value_kind: str | None = None) -> DataFrame:
    """Per-GROUP sketch states — the rollup primitive (one HLL/CMS/t-digest
    per lang/host/day instead of one global sketch).

    Two-phase: per-(partition, group) partials inside one mapInArrow pass
    (map-side combine — the hot group's rows never concentrate), then one
    shuffle of tiny states grouped by key and an applyInPandas merge. Output:
    (group, kind, params, payload) — feed rows to ``deserialize_sketch`` or
    ``grouped_estimates``.
    """
    import numpy as np

    params = params or {}
    projected, value_kind = _project_values(
        df, value_col, kind, value_kind, F.col(group_col).alias("g"))

    def partial_fn(batches):
        # Per-row work is ALL vectorized: dictionary-encode the group column
        # (Arrow C++), argsort the int32 codes (numpy), cut group runs from
        # the code diffs. Python touches one object per DISTINCT group per
        # batch — not per row — so a 100-TB rollup's hot partial pass stays
        # numpy-speed regardless of group cardinality skew. Nulls form their
        # own group (SQL GROUP BY semantics) via a -1 code.
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
        state_schema = pa.schema([
            ("g", pa.string()), ("kind", pa.string()),
            ("params", pa.string()), ("payload", pa.binary()),
        ])
        for g, sk in sketches.items():
            yield pa.RecordBatch.from_pydict({
                "g": [g], "kind": [kind],
                "params": [json.dumps(sk.params())],
                "payload": [sk.serialize()],
            }, schema=state_schema)

    partials = projected.mapInArrow(
        partial_fn, "g string, kind string, params string, payload binary")

    return partials.groupBy("g").applyInPandas(
        _merge_group, "g string, kind string, params string, payload binary")


def grouped_estimates(states_df: DataFrame) -> list[tuple]:
    """(group, estimate) per group from a grouped_sketch_states result."""
    out = []
    for r in states_df.collect():
        sk = deserialize_sketch(r["kind"], bytes(r["payload"]), json.loads(r["params"]))
        est = sk.estimate() if hasattr(sk, "estimate") else sk.quantile(0.5)
        out.append((r["g"], est))
    return sorted(out, key=lambda t: (t[0] is None, t[0] or ""))
