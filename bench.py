"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headlines mirror the reference benchmark (src/bench.zig:18-88: section
builds + probe workload) plus the sketch/dedup/similarity suite.

Reported rates:
- ``keys_per_sec_*``: wall-clock build rate including Spark orchestration —
  the honest small-scale number (at sf0.1 fixed costs dominate);
- ``kernel_keys_per_sec_*``: total keys / critical-path partition build time
  (from the per-partition build_ns lineage) — the rate that survives scale-up,
  where kernel time dominates orchestration.

A warm-up pass spins up the Python workers and JIT paths first, like the
reference warms its section loop; the measured pass is steady-state.
Every query is timed best-of-N (SPARK_GRAFT_REPS, default 3) with all raw
samples attached under ``query_samples`` — this host shows ~10x bimodal
wall-clock stalls (BENCH/BASELINE.md), so a single sample per round
manufactures phantom regressions between rounds.

Scaling evidence (north rule: two cluster sizes) comes from
tools/scaling_bench.py (local[8] vs local[32], separate processes) ->
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def run_bench(sf_dir: str, cores: int, parts: int | None = None,
              reps: int = 3) -> dict:
    from filterz_spark.spark.session import get_session
    from filterz_spark.spark.build import build_filter_index
    from filterz_spark.spark.probe import collect_index, probe_membership
    from filterz_spark.spark.merge import sketch_column
    from filterz_spark.ops.dedup import exact_dedup, lsh_candidate_pairs
    from filterz_spark.ops.similarity import cosine_topk

    parts = parts or cores
    spark = get_session(cores=cores, shuffle_partitions=max(parts, cores),
                        **{"spark.ui.showConsoleProgress": "false"})
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # composite key -> one distinct u64 per lineitem row (the bulk key set);
    # repartition emulates the many-scan-partition layout of a real table
    # (a single 20MB parquet file reads as one partition)
    keys = li.select(F.xxhash64("l_orderkey", "l_linenumber").alias("k")) \
             .repartition(parts).cache()
    n_keys = keys.count()
    values = li.select(F.col("l_extendedprice").alias("v"),
                       F.xxhash64("l_partkey").alias("pk"),
                       F.xxhash64("l_returnflag").alias("rf")) \
               .repartition(parts).cache()
    values.count()

    # warm-up: fork the Python workers + exercise mapInArrow once per
    # measured config (the first measured build otherwise absorbs the
    # page-cache/JIT residue and reads as a phantom regression)
    for wk, wp in [("sbbf", {"bits_per_key": 24}),
                   ("xorf", {"arity": 3, "fp_bits": 16}),
                   ("xorf", {"arity": 4, "fp_bits": 16}),
                   ("ribbon", {"coeff_bits": 64, "result_bits": 16}),
                   ("ribbon", {"coeff_bits": 128, "result_bits": 16})]:
        collect_index(build_filter_index(keys, "k", wk, wp, parts))

    queries: dict[str, float] = {}
    query_samples: dict[str, list[float]] = {}
    throughput: dict[str, float] = {}
    indexes = {}

    def timed(name, fn):
        # best-of-reps with all samples attached: this virtualized host has
        # documented ~10x bimodal stalls (BENCH/BASELINE.md), so a single
        # sample manufactures phantom regressions; the best wall tracks the
        # engine, the samples expose the noise
        out = None
        best = None
        samples = []
        for _ in range(max(reps, 1)):
            t0 = time.monotonic()
            res = fn()
            dt = time.monotonic() - t0
            samples.append(round(dt, 3))
            if best is None or dt < best:
                best, out = dt, res
        queries[name] = round(best, 3)
        query_samples[name] = samples
        return out

    for label, kind, params in [
        ("build_sbbf24", "sbbf", {"bits_per_key": 24}),
        ("build_xorf3_16", "xorf", {"arity": 3, "fp_bits": 16}),
        ("build_xorf4_16", "xorf", {"arity": 4, "fp_bits": 16}),
        ("build_ribbon64_16", "ribbon", {"coeff_bits": 64, "result_bits": 16}),
        ("build_ribbon128_16", "ribbon", {"coeff_bits": 128, "result_bits": 16}),
    ]:
        idx = timed(label, lambda: collect_index(
            build_filter_index(keys, "k", kind, params, num_partitions=parts)))
        indexes[label] = idx
        total = sum(r["num_keys"] for r in idx)
        crit_ns = max(r["build_ns"] for r in idx)  # critical-path partition
        throughput[label.replace("build_", "keys_per_sec_")] = round(total / queries[label])
        throughput[label.replace("build_", "kernel_keys_per_sec_")] = round(
            total / (crit_ns / 1e9))

    # kernel probe latency per structure (reference table: sbbf 7ns,
    # xorf3 11ns, xorf4 13ns, ribbon128 36ns per query, single thread)
    import numpy as np
    from filterz_spark.filters import deserialize_filter
    from filterz_spark.hashing import splitmix64_array
    probe_keys = splitmix64_array(424242, 2_000_000)
    for label, idx0 in indexes.items():
        r = idx0[0]
        filt = deserialize_filter(r["kind"], r["payload"], r["params"])
        filt.check(probe_keys[:1000])  # warm
        best = None
        for _ in range(max(reps, 1)):
            t0 = time.monotonic()
            filt.check(probe_keys)
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        throughput[label.replace("build_", "probe_ns_per_query_")] = round(
            best / probe_keys.size * 1e9, 1)

    probes = orders.select(F.xxhash64("o_orderkey", "o_custkey").alias("k"))
    idx = indexes["build_xorf3_16"]
    hits = timed("probe_xorf3_16", lambda: probe_membership(probes, "k", idx)
                 .filter("maybe_present").count())
    n_probes = probes.count()
    throughput["probes_per_sec"] = round(n_probes / queries["probe_xorf3_16"])
    # reference cost model: each hit prices a 200us disk read on top of the
    # probe time (README.md:47, src/bench.zig:82)
    throughput["est_query_cost_us"] = round(
        hits * 200 + queries["probe_xorf3_16"] * 1e6)

    timed("hll_distinct", lambda: sketch_column(values, "pk", "hll", {"p": 14},
                                                value_kind="pass").estimate())
    timed("cms_freq", lambda: sketch_column(values, "rf", "cms",
                                            {"depth": 5, "width": 8192},
                                            value_kind="pass"))
    timed("tdigest_quantiles", lambda: sketch_column(
        values, "v", "tdigest", {"delta": 200}, value_kind="float").quantile(0.99))
    timed("kll_quantiles", lambda: sketch_column(
        values, "v", "kll", {"k": 200}, value_kind="float").quantile(0.99))
    throughput["sketch_rows_per_sec_hll"] = round(n_keys / queries["hll_distinct"])

    # persisted rollup tier (round 6, spark/sketch_store.py): write one
    # HLL state per week of events, then answer a 3-week distinct-user
    # range from the stored KB states alone (partition-pruned merge)
    import shutil
    from filterz_spark.spark.sketch_store import (merge_sketch_range,
                                                  write_sketch_epoch)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .withColumn("epoch", F.concat(F.lit("w"), F.weekofyear("ts"))) \
        .cache()
    weeks = sorted(r["epoch"] for r in events.select("epoch").distinct().collect())
    store_dir = "/tmp/filterz_bench_sketch_store"

    def _store_write():
        shutil.rmtree(store_dir, ignore_errors=True)
        for w in weeks:
            write_sketch_epoch(events.where(F.col("epoch") == w), "user_id",
                               store_dir, w, kind="hll", params={"p": 14})

    timed("sketch_store_write", _store_write)
    timed("sketch_store_merge", lambda: merge_sketch_range(
        spark, store_dir, epoch_min=weeks[1], epoch_max=weeks[-2]).estimate())
    events.unpersist()

    timed("dedup_exact", lambda: exact_dedup(docs).count())
    # library default = km_md5 since round 5 (ONE md5 per shingle; the 10M
    # rehearsal named band_md5's 8 md5s/shingle the pipeline cost center)
    timed("minhash_lsh", lambda: lsh_candidate_pairs(docs, 8, 3).count())
    # the round-1..4 default, kept as the independent-band comparison point
    timed("minhash_lsh_band", lambda: lsh_candidate_pairs(
        docs, 8, 3, hash_family="band_md5").count())
    qvec = emb.limit(1).select("embedding").collect()[0][0]
    timed("cosine_topk", lambda: cosine_topk(emb, qvec, 10).collect())
    from filterz_spark.ops.dedup import simhash
    from filterz_spark.ops.text import rolling_fingerprints
    timed("simhash_docs", lambda: simhash(docs).count())
    # a noop-sink write, not count(): the fingerprints are one projection
    # per row, which Catalyst prunes away under a count
    timed("rolling_fps", lambda: rolling_fingerprints(docs).write
          .format("noop").mode("overwrite").save())
    from filterz_spark.ops.dedup import ngram_decontaminate
    timed("decontaminate", lambda: ngram_decontaminate(
        docs.filter("doc_id % 50 != 0"), docs.filter("doc_id % 50 = 0"),
        k=3).count())
    from filterz_spark.ops.pipeline import curate_training_set
    timed("curate_docs", lambda: curate_training_set(
        docs, docs.filter("doc_id % 50 = 0"),
        {"en": 0.7, "zh": 1.0, "fr": 1.0}).count())

    # fold in the two-cluster-size evidence if tools/scaling_bench.py has run
    scaling = None
    baseline_md = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "BASELINE.md")
    if os.path.exists(baseline_md):
        try:
            blob = open(baseline_md).read()
            payload = json.loads(blob.rsplit("```json", 1)[1].split("```", 1)[0])
            scaling = {
                "distribution_layer_efficiency":
                    payload["spark_compute_probe"]["distribution_layer_efficiency"],
                "spark_8_to_32_speedup": payload["spark_compute_probe"]["speedup"],
                "machine_ceiling_8_to_32": payload["calibration"]["int_loop"]["speedup"],
                "payloads_byte_identical_across_core_counts": all(
                    payload["local8"]["builds"][k]["payload_sha256"]
                    == payload["local32"]["builds"][k]["payload_sha256"]
                    for k in payload["local8"]["builds"]),
                "build_scaling_efficiency": {
                    k: {kk: vv for kk, vv in v.items() if kk != "bare"}
                    for k, v in payload.get("efficiency", {}).items()},
                "ref_wall_ratio_local32_20m": (
                    {k: round(payload["local32"]["builds"][k]["sec"] / ref, 2)
                     for k, ref in payload.get("ref_walls_20m", {}).items()}
                    if payload.get("ref_walls_20m") else None),
                "detail": "BENCH/BASELINE.md",
            }
        except Exception:
            scaling = {"detail": "BENCH/BASELINE.md (parse skipped)"}

    # round-6 legs stay OUT of the headline sum: rounds 1-5 recorded the
    # headline over the original leg set, and silently growing the sum
    # would read as a ~50% regression (the "minhash_lsh key" lesson from
    # the round-5 ADVICE — BENCH/BASELINE.md notes the key semantics)
    headline_exclude = {"sketch_store_write", "sketch_store_merge"}
    total = round(sum(v for k, v in queries.items()
                      if k not in headline_exclude), 3)
    result = {
        "metric": "headline suite wall seconds (filter builds + probe + sketches + dedup/similarity; round-6 sketch_store legs recorded in queries but excluded from this sum)",
        "value": total,
        "unit": "sec",
        "reps": reps,
        "queries": queries,
        "query_samples": query_samples,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cores": cores,
        "num_keys": n_keys,
        "num_probes": n_probes,
        "probe_hits": hits,
        "throughput": throughput,
        "scaling": scaling,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    print(json.dumps(run_bench(sf_dir, cores, reps=reps)))
