"""Custom stateful streaming operator: per-window mergeable sketches held in
Spark's own state store via ``applyInPandasWithState``.

The sketch state lives in the streaming state store (checkpointed,
fault-tolerant, exactly-once under the streaming commit protocol — no
manual batch-id watermarking needed, unlike a side-store maintained in
foreachBatch). Each micro-batch updates the group's sketch from the Arrow
batches and emits the refreshed estimate (update output mode).

Scale posture: state per group is ONE serialized sketch payload (KB), never
row data; keys are pre-hashed JVM-side (``xxhash64``) so the Python side
only folds u64 arrays into the sketch — the same zero-per-row-Python kernels
as the batch path, which is what keeps streaming and batch results
consistent (gated in tests/test_streaming.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

OUTPUT_SCHEMA = StructType([
    StructField("window_start", StringType()),
    StructField("estimate", DoubleType()),
    StructField("n_updates", LongType()),
])

STATE_SCHEMA = StructType([
    StructField("payload", BinaryType()),
    StructField("params", StringType()),
    StructField("n_updates", LongType()),
])


def _update_fn(kind: str, params: dict):
    def fn(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        from filterz_spark.sketches import SKETCH_KINDS, deserialize_sketch

        if state.exists:
            payload, params_json, n_updates = state.get
            sk = deserialize_sketch(kind, bytes(payload), json.loads(params_json))
        else:
            sk = SKETCH_KINDS[kind].zero(**params)
            n_updates = 0
        for pdf in pdf_iter:
            h = pdf["__h"].to_numpy().astype(np.int64).view(np.uint64)
            sk.update(h)
            n_updates += int(h.size)
        state.update((sk.serialize(), json.dumps(sk.params()), n_updates))
        est = float(sk.estimate()) if hasattr(sk, "estimate") else float("nan")
        yield pd.DataFrame({"window_start": [key[0]], "estimate": [est],
                            "n_updates": [n_updates]})

    return fn


def stateful_window_sketches(stream: DataFrame, ts_col: str = "ts",
                             key_col: str = "user_id", kind: str = "hll",
                             params: dict | None = None,
                             window: str = "1 hour") -> DataFrame:
    """Streaming DataFrame of (window_start, estimate, n_updates), one row
    per touched window per micro-batch (update mode), with the sketch held
    in the engine state store."""
    params = params or {}
    windowed = stream.select(
        F.date_format(F.window(F.col(ts_col), window).getField("start"),
                      "yyyy-MM-dd HH:mm:ss").alias("__w"),
        F.xxhash64(F.col(key_col)).alias("__h"),
    )
    return windowed.groupBy("__w").applyInPandasWithState(
        _update_fn(kind, params), OUTPUT_SCHEMA, STATE_SCHEMA,
        "update", GroupStateTimeout.NoTimeout,
    )
