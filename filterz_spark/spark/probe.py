"""Probe path — membership queries against a filter index.

The reference probes every section's filter for every query key and counts
hits (src/bench.zig:228-233): a hit means "this section may contain the key,
pay the 200us read" (README.md:47). Every probe hashes its key JVM-side
with ``xxhash64`` (the build's hash, ``build.hashed_keys``) and answers with
one executor-side check, ``_or_check``: True where ANY of the given filters
may contain the hash. Two transports feed that check, by index size:

1. ``probe_membership`` (default): the index is collected once and shipped
   as a Spark BROADCAST VARIABLE — one torrent-distributed copy per
   executor, NOT a copy inside every pickled task closure, and one
   broadcast per ``collect_index`` result however often it is probed
   (``FilterIndex.release`` frees it). A scalar
   iterator Arrow UDF over the key hash deserializes it once per task and
   checks each batch against every filter (the OR-over-sections semantics
   of the section model); only the hash column crosses into Python.
   Map-only: the probe side never shuffles; it is coalesced to at most
   ``defaultParallelism`` partitions, so one Python task per core probes
   and the output has at most that many partitions.
2. ``probe_membership_cogrouped``: for indexes too large to collect on the
   driver at all (10^5+ partitions x ~500KB payloads), the index STAYS a
   DataFrame. Each probe key is routed to the section that built its
   filter (``build.section_id``, the expression the build labels its
   sections with), and a cogrouped applyInArrow checks each key against
   only that section's shard filters. Costs one shuffle of the probe side;
   payload bytes move executor<->executor only (never through the driver),
   each exactly once.

Both append one boolean column, ``maybe_present``, to the probe side's
columns.

Scale posture: at the reference's 50-section scale the broadcast path is
exactly the Parquet row-group bloom pattern. The aggregate FPR across S
partition filters grows ~ S * p for the OR-probe (SURVEY.md §7.3); the
cogrouped probe checks ONE partition per key, so its FPR stays the
per-filter p at any S.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BooleanType, StructField, StructType

from ..filters import deserialize_filter
from .build import section_id

HIT_COL = "maybe_present"


class FilterIndex(list):
    """``collect_index``'s result: the index rows as plain dicts, plus the
    one broadcast that ships them to the executors, made by the first
    probe and reused by every later one until ``release``.

    Pickles as the plain list of dicts (the broadcast stays behind).
    """

    _bc = None

    def __reduce__(self):
        return list, (list(self),)

    def broadcast(self, sc):
        """The broadcast of these rows on ``sc``, made on first use (and
        again after ``release`` or on a new SparkContext)."""
        if self._bc is None or self._bc._sc is not sc:
            self._bc = sc.broadcast(list(self))
        return self._bc

    def release(self) -> None:
        """Destroy the broadcast (executor copies and the driver's file).
        Frames probed before this call can no longer run; a later probe
        broadcasts the rows again."""
        if self._bc is not None:
            self._bc.destroy()
            self._bc = None


def collect_index(index_df: DataFrame) -> FilterIndex:
    """Materialize the filter index to plain dicts (payload bytes + params).

    Uses the Arrow collect path — payload columns are tens of MB at bench
    scale and the row-pickling ``collect()`` serializer is several times
    slower on large binary values.
    """
    tbl = index_df.toArrow()
    cols = {name: tbl.column(name).to_pylist() for name in (
        "partition_id", "kind", "params", "payload", "num_keys",
        "build_ns", "mem_usage", "ideal_mem_usage")}
    return FilterIndex(
        {
            "partition_id": cols["partition_id"][i],
            "kind": cols["kind"][i],
            "params": json.loads(cols["params"][i]),
            "payload": bytes(cols["payload"][i]),
            "num_keys": cols["num_keys"][i],
            "build_ns": cols["build_ns"][i],
            "mem_usage": cols["mem_usage"][i],
            "ideal_mem_usage": cols["ideal_mem_usage"][i],
        }
        for i in range(tbl.num_rows)
    )


def _or_check(filters: list, h) -> np.ndarray:
    """True where ANY filter may contain the ``xxhash64`` key hash ``h``
    (int64, reinterpreted as the u64 the build inserted): the OR over
    section filters of ref src/bench.zig:228-233."""
    h = np.asarray(h, dtype=np.int64).view(np.uint64)
    hit = np.zeros(len(h), dtype=bool)
    for filt in filters:
        miss = ~hit
        if not miss.any():
            break
        hit[miss] |= filt.check(h[miss])
    return hit


def probe_membership(probe_df: DataFrame, key_col: str,
                     index_rows: list[dict]) -> DataFrame:
    """Append ``maybe_present``: True iff ANY partition filter may contain
    the key.

    Zero false negatives (an inserted key always probes true in its
    partition's filter); false positives at the per-filter bound times the
    number of filters.

    ``index_rows`` (from ``collect_index``) is broadcast internally — the
    payloads travel to each executor once, not inside every task closure.
    A ``FilterIndex`` keeps that broadcast for every later probe until its
    ``release``; a hand-built list of dicts is broadcast anew on each call.

    The probe side is coalesced to at most ``defaultParallelism``
    partitions (one Python task per core, each deserializing the index
    once), so the output has at most that many partitions.
    """
    sc = probe_df.sparkSession.sparkContext
    if not isinstance(index_rows, FilterIndex):
        index_rows = FilterIndex(index_rows)
    bc = index_rows.broadcast(sc)

    def check(hashes: Iterator[pa.Array]) -> Iterator[pa.Array]:
        filters = [deserialize_filter(r["kind"], r["payload"], r["params"])
                   for r in bc.value]
        for h in hashes:
            yield pa.array(_or_check(filters, h))

    # nondeterministic: Catalyst would otherwise copy the UDF into a
    # filter on the hit column pushed below the coalesce, and run it twice
    udf = F.arrow_udf(check, "boolean").asNondeterministic()
    return (probe_df.coalesce(sc.defaultParallelism)
            .withColumn(HIT_COL, udf(F.xxhash64(key_col))))


def probe_membership_cogrouped(probe_df: DataFrame, key_col: str,
                               index_df: DataFrame,
                               num_partitions: int) -> DataFrame:
    """Membership probe with the index kept DISTRIBUTED — for filter indexes
    too large to collect or broadcast (driver-memory ceiling at 10^5+
    partitions).

    Requires an index built by ``build_filter_index(..., num_partitions)``
    with the same P: the build labels each key's filter with
    ``build.section_id(h, P)``, and the same expression routes every probe
    key here to the one section whose filter could contain it. A cogrouped
    applyInArrow then checks each key group against that section's shard
    filters only; the probe columns stay Arrow columns throughout.

    Semantics per key: zero false negatives (the key's hash was inserted in
    exactly this section's filter); false positives at the SINGLE-filter
    bound (the OR-probe's ~S*p aggregate FPR does not apply). Cost: one
    shuffle of the probe side + one tiny shuffle of the index; payloads
    never touch the driver.
    """
    out_names = probe_df.columns
    schema = StructType([*probe_df.schema.fields,
                         StructField(HIT_COL, BooleanType())])
    # the Arrow types Spark checks results against (timestamps tagged UTC)
    arrow_schema = to_arrow_schema(schema)
    targeted = (probe_df.withColumn("__h", F.xxhash64(key_col))
                .withColumn("__pid", section_id("__h", num_partitions)))
    idx = index_df.select("partition_id", "kind", "params", "payload")

    def fn(probes: pa.Table, index: pa.Table) -> pa.Table:
        rows = zip(*(index[c].to_pylist() for c in ("kind", "payload", "params")))
        filters = [deserialize_filter(k, p, json.loads(pr)) for k, p, pr in rows]
        hit = _or_check(filters, probes["__h"].to_numpy())
        return (probes.select(out_names).append_column(HIT_COL, pa.array(hit))
                .cast(arrow_schema))

    return (
        targeted.groupBy("__pid")
        .cogroup(idx.groupBy("partition_id"))
        .applyInArrow(fn, schema)
    )
