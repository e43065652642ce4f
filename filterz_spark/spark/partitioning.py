"""Scale-adaptive input parallelism (guide: input skew / unsplittable files).

A parquet file's scan parallelism is capped by its ROW-GROUP count, not its
byte size: a single-row-group file is one scan task no matter how it is
split, and Spark fuses every map-side expression (shingle+md5 pipelines,
regex normalization) into that scan stage — so on a many-core executor the
expensive per-row compute of a small or badly-laid-out input runs on one
task while the other cores idle (measured on the round-6 bench: the
minhash signature pass over a 1-row-group documents file ran 3-5x slower
than the same plan over a repartitioned input at local[32]).

``ensure_parallelism`` is the standard fix — repartition right after the
read — made SCALE-ADAPTIVE: it round-robin-repartitions ONLY when the
plan's current partition count is below the cluster's default parallelism.
At corpus scale (thousands of scan partitions) it is a provable no-op; it
activates exactly when the input is too small or too coarsely laid out to
feed the cluster, where the extra shuffle is by definition cheap (few
partitions' worth of bytes). Deterministic: round-robin repartition sorts
within partitions first (spark.sql.execution.sortBeforeRepartition, on by
default), so retried tasks reproduce the same placement.

Operators apply this ONLY where a measured win exists (heavy per-row
compute feeding an aggregation); cheap map-only paths skip it — for those
the shuffle costs more than the single-task compute (measured: exact_dedup
0.32s -> 0.62s, probe_membership 1.5s -> 2.8s with a forced repartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_partitions(df: DataFrame) -> int:
    """Partition count of the planned query — metadata only, no job.

    Reads the JVM-side planned RDD: unlike ``.rdd`` this never builds the
    python-serialized RDD wrapper (it only plans, which the next job would
    do anyway). ``_jdf`` is private API; Spark 4.1.2 (classic, not
    Connect) is the supported platform, and any error it raises surfaces.
    """
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default parallelism
    iff its plan has fewer partitions than that. No-op (returns ``df``
    unchanged) when the input already feeds every core — i.e. always, at
    corpus scale — and on single-core sessions.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if cores > 1 and plan_partitions(df) < cores:
        return df.repartition(cores)
    return df
