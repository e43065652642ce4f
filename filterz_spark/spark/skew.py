"""Skew handling — two-phase aggregation for hot keys.

The north rule requires construction to handle skewed url/lang key
distributions. ``two_phase_count`` is the classic hot-key groupBy pattern:
a salted partial aggregation on (key, salt) spreads a hot key across the
cluster, and the final shuffle moves only buckets*distinct rows.

Note the main filter-build path does NOT need salting: it shuffles on
xxhash64(key) which is uniform regardless of key skew (build.py). AQE's
skew-join splitting (enabled in session.py) covers join-side skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def two_phase_count(df: DataFrame, key_col: str, salt_buckets: int = 32,
                    count_alias: str = "cnt") -> DataFrame:
    """Hot-key-safe groupBy count: partial count on (key, salt), final on key.

    Values are identical to a plain groupBy().count(); only the shuffle
    profile changes (no single reducer receives a whole hot key).
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key_col, "__salt").agg(F.count("*").alias("__pc"))
    return partial.groupBy(key_col).agg(F.sum("__pc").cast("long").alias(count_alias))
