"""Structured Streaming operators built from engine built-ins.

- ``watermarked_window_counts``: tumbling event-time window + watermark ->
  count / approx distinct, everything JVM-side — the declarative path for
  standing dashboards.
- ``streaming_sessions``: native ``session_window`` sessionization.
- ``streaming_exact_dedup``: first arrival per content hash on the
  engine's ``dropDuplicates`` state store.

Per-window mergeable-sketch state lives in ``streaming.stateful``
(``applyInPandasWithState``: the engine's state store gives exactly-once
updates under the streaming commit protocol). A foreachBatch sink that
rolls micro-batches into a persisted store uses
``spark.sketch_store.write_sketch_epoch(merge_existing=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def watermarked_window_counts(stream: DataFrame, ts_col: str = "ts",
                              key_col: str = "user_id",
                              window: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Built-in streaming agg: tumbling window counts + approx distinct."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count("*").alias("cnt"),
             F.approx_count_distinct(key_col).alias("approx_users"))
        .select(F.col("w.start").alias("window_start"), "cnt", "approx_users")
    )


def streaming_sessions(stream: DataFrame, ts_col: str = "ts",
                       key_col: str = "user_id", gap: str = "30 minutes",
                       watermark: str = "2 hours",
                       value_col: str | None = "value") -> DataFrame:
    """Streaming sessionization on the engine's native ``session_window``:
    per-key sessions closed after ``gap`` of inactivity, with event count
    (and, when ``value_col`` is set, a value sum) per session — the
    streaming twin of ``ops.relational.sessionize``. Same gap semantics as
    the batch operator: a session EXTENDS at exactly-gap spacing (the
    batch rule breaks only on gap strictly greater than the threshold, and
    ``session_window`` merges touching ranges the same way — verified
    empirically at the boundary).

    The watermark bounds session state: a session older than the watermark
    finalizes and evicts, so state is O(open sessions), not O(history) —
    the property a forever-running clickstream needs. Pass
    ``value_col=None`` for streams without a numeric value column.
    """
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("sum_value"))
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col),
                     F.session_window(F.col(ts_col), gap).alias("w"))
            .agg(*aggs)
            .select(key_col, F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events",
                    *(["sum_value"] if value_col is not None else [])))


def streaming_exact_dedup(stream: DataFrame, key_col: str = "text",
                          ts_col: str | None = None,
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: emit each content hash's FIRST arrival only.

    The streaming twin of ``ops.dedup.exact_dedup`` — built on the engine's
    own ``dropDuplicates`` state store so dedup state survives restarts via
    the query checkpoint. With ``ts_col`` the key is watermarked
    (``dropDuplicatesWithinWatermark``): state for hashes older than the
    watermark is evicted, the bounded-state shape a forever-running ingest
    needs (an unwatermarked global dedup grows state monotonically — only
    for bounded backfills). Hashing first keeps state rows at 32 hex chars
    regardless of document size.
    """
    hashed = stream.withColumn("text_hash", F.md5(F.col(key_col)))
    if ts_col is not None:
        return (hashed.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["text_hash"]))
    return hashed.dropDuplicates(["text_hash"])
