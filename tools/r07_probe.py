"""Round-7 optimization probe: decompose the heavy bench legs and test the
scan-parallelism hypothesis (guide §1 measure-first / §2.5 input skew).

Hypothesis: documents.parquet (and events.parquet) hold ONE parquet row
group, so every doc-side leg's expensive map stage (shingle+md5, regex
normalize) fuses into a 1-2-task scan stage while the other 30 cores idle.
A round-robin repartition of the small input before the heavy projection
should restore ~cores-way parallelism.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python tools/r07_probe.py
Prints one JSON line with leg -> {variant -> best-of-N seconds}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    from filterz_spark.spark.session import get_session
    from filterz_spark.ops.dedup import (exact_dedup, lsh_candidate_pairs,
                                         ngram_decontaminate, simhash)
    from filterz_spark.ops.text import rolling_fingerprints
    from filterz_spark.ops.pipeline import curate_training_set
    from filterz_spark.spark.merge import sketch_column, partial_states

    spark = get_session(cores=cores, shuffle_partitions=cores,
                        **{"spark.ui.showConsoleProgress": "false"})
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs32 = docs.repartition(cores)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    values = li.select(F.col("l_extendedprice").alias("v"),
                       F.xxhash64("l_partkey").alias("pk")) \
               .repartition(cores).cache()
    values.count()

    out = {}

    def timed(name, fn, r=reps):
        best = None
        for _ in range(r):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)

    sc = spark.sparkContext

    # --- hypothesis A: doc legs, scan parallelism ---
    sc.setJobDescription("minhash_lsh base")
    timed("minhash_lsh_base", lambda: lsh_candidate_pairs(
        docs, 8, 3, materialize_signatures=True).count())
    sc.setJobDescription("minhash_lsh repart")
    timed("minhash_lsh_repart", lambda: lsh_candidate_pairs(
        docs32, 8, 3, materialize_signatures=True).count())
    sc.setJobDescription("minhash_band base")
    timed("minhash_band_base", lambda: lsh_candidate_pairs(
        docs, 8, 3, materialize_signatures=True,
        hash_family="band_md5").count())
    sc.setJobDescription("minhash_band repart")
    timed("minhash_band_repart", lambda: lsh_candidate_pairs(
        docs32, 8, 3, materialize_signatures=True,
        hash_family="band_md5").count())
    sc.setJobDescription("decontaminate base")
    timed("decon_base", lambda: ngram_decontaminate(
        docs.filter("doc_id % 50 != 0"), docs.filter("doc_id % 50 = 0"),
        k=3).count())
    sc.setJobDescription("decontaminate repart")
    timed("decon_repart", lambda: ngram_decontaminate(
        docs32.filter("doc_id % 50 != 0"), docs32.filter("doc_id % 50 = 0"),
        k=3).count())
    sc.setJobDescription("rolling base")
    timed("rolling_base", lambda: rolling_fingerprints(docs).count())
    sc.setJobDescription("rolling repart")
    timed("rolling_repart", lambda: rolling_fingerprints(docs32).count())
    sc.setJobDescription("simhash base")
    timed("simhash_base", lambda: simhash(docs).count())
    sc.setJobDescription("simhash repart")
    timed("simhash_repart", lambda: simhash(docs32).count())
    sc.setJobDescription("dedup_exact base")
    timed("dedup_exact_base", lambda: exact_dedup(docs).count())
    sc.setJobDescription("dedup_exact repart")
    timed("dedup_exact_repart", lambda: exact_dedup(docs32).count())
    sc.setJobDescription("curate base")
    timed("curate_base", lambda: curate_training_set(
        docs, docs.filter("doc_id % 50 = 0"),
        {"en": 0.7, "zh": 1.0, "fr": 1.0}).count())
    sc.setJobDescription("curate repart")
    timed("curate_repart", lambda: curate_training_set(
        docs32, docs32.filter("doc_id % 50 = 0"),
        {"en": 0.7, "zh": 1.0, "fr": 1.0}).count())

    # --- sketch legs decomposition ---
    sc.setJobDescription("values scan noop")
    timed("values_scan_noop", lambda: noop(values.select("pk")))
    sc.setJobDescription("hll partials noop")
    timed("hll_partials_noop", lambda: noop(
        partial_states(values, "pk", "hll", {"p": 14}, value_kind="pass")))
    sc.setJobDescription("hll full")
    timed("hll_full", lambda: sketch_column(
        values, "pk", "hll", {"p": 14}, value_kind="pass").estimate())
    sc.setJobDescription("tdigest partials noop")
    timed("td_partials_noop", lambda: noop(
        partial_states(values, "v", "tdigest", {"delta": 200},
                       value_kind="float")))
    sc.setJobDescription("tdigest full")
    timed("td_full", lambda: sketch_column(
        values, "v", "tdigest", {"delta": 200},
        value_kind="float").quantile(0.99))

    # --- sketch store write decomposition ---
    import shutil
    from filterz_spark.spark.sketch_store import write_sketch_epoch
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .withColumn("epoch", F.concat(F.lit("w"), F.weekofyear("ts"))) \
        .cache()
    weeks = sorted(r["epoch"] for r in
                   events.select("epoch").distinct().collect())
    out["n_weeks"] = len(weeks)
    store_dir = "/tmp/filterz_r07_probe_store"

    def store_write():
        shutil.rmtree(store_dir, ignore_errors=True)
        for w in weeks:
            write_sketch_epoch(events.where(F.col("epoch") == w), "user_id",
                               store_dir, w, kind="hll", params={"p": 14})

    sc.setJobDescription("store write")
    timed("store_write", store_write)
    # meta read cost alone
    from filterz_spark.spark.fsio import read_json_marker
    from filterz_spark.spark.sketch_store import SKETCHSTORE_META_DIR
    meta_dir = f"{store_dir}/{SKETCHSTORE_META_DIR}"
    timed("meta_read_x13", lambda: [read_json_marker(spark, meta_dir)
                                    for _ in range(len(weeks))])
    events.unpersist()

    # --- probe leg ---
    from filterz_spark.spark.build import build_filter_index
    from filterz_spark.spark.probe import collect_index, probe_membership
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    keys = li.select(F.xxhash64("l_orderkey", "l_linenumber").alias("k")) \
             .repartition(cores).cache()
    keys.count()
    idx = collect_index(build_filter_index(
        keys, "k", "xorf", {"arity": 3, "fp_bits": 16}, cores))
    probes = orders.select(F.xxhash64("o_orderkey", "o_custkey").alias("k"))
    sc.setJobDescription("probe base")
    timed("probe_base", lambda: probe_membership(probes, "k", idx)
          .filter("maybe_present").count())
    sc.setJobDescription("probe repart")
    timed("probe_repart", lambda: probe_membership(
        probes.repartition(cores), "k", idx)
        .filter("maybe_present").count())
    sc.setJobDescription("build xorf3 (repeat)")
    timed("build_xorf3", lambda: collect_index(build_filter_index(
        keys, "k", "xorf", {"arity": 3, "fp_bits": 16}, cores)))

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
