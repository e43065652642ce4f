"""Round-7 probe #3: normalize-chain duplication, band-sig rerun,
fresh-store write micro-costs, km vs band pair stage."""

from __future__ import annotations

import json
import os
import shutil
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
    from filterz_spark.ops.dedup import (minhash_signature_arrays,
                                         minhash_signatures)
    from filterz_spark.ops.text import normalize_text

    spark = get_session(cores=cores, shuffle_partitions=cores,
                        **{"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs32 = docs.repartition(cores)
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

    # --- normalize chain decomposition ---
    sc.setJobDescription("norm noop")
    timed("norm_noop", lambda: noop(normalize_text(docs32,
                                                   keep_cols=("lang",))))
    norm = normalize_text(docs32, keep_cols=("lang",))
    ws = F.split(F.col("norm_text"), " ")
    surv = (norm.withColumn("n_tokens", F.size(ws).cast("long"))
            .withColumn("__dr", F.size(F.array_distinct(ws))
                        / F.col("n_tokens"))
            .filter((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100_000)
                    & (F.col("__dr") >= 0.3))
            .select("doc_id", "lang", "norm_hash", "n_tokens"))
    sc.setJobDescription("survivors count")
    timed("survivors_count", lambda: surv.count())
    # variant: quality computed in ONE select with explicit reuse via a
    # nondeterministic-wrapped barrier? first try: two-step select (compute
    # norm_text once into a projection, then a SECOND projection computing
    # ws-derived metrics) -- does CollapseProject undo it?
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, "[^a-z0-9]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    one = docs32.select("doc_id", "lang", t.alias("norm_text"))
    ws1 = F.split(F.col("norm_text"), " ")
    surv1 = (one.select("doc_id", "lang", F.md5("norm_text").alias("norm_hash"),
                        F.size(ws1).cast("long").alias("n_tokens"),
                        (F.size(F.array_distinct(ws1)) /
                         F.size(ws1)).alias("__dr"))
             .filter((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100_000)
                     & (F.col("__dr") >= 0.3))
             .select("doc_id", "lang", "norm_hash", "n_tokens"))
    sc.setJobDescription("survivors 2-select")
    timed("survivors_two_select", lambda: surv1.count())
    # variant: split once via a single array column
    surv2_base = docs32.select(
        "doc_id", "lang", t.alias("norm_text"))
    surv2 = (surv2_base
             .select("doc_id", "lang", "norm_text",
                     F.split("norm_text", " ").alias("__ws"))
             .select("doc_id", "lang", F.md5("norm_text").alias("norm_hash"),
                     F.size("__ws").cast("long").alias("n_tokens"),
                     (F.size(F.array_distinct("__ws")) / F.size("__ws"))
                     .alias("__dr"))
             .filter((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100_000)
                     & (F.col("__dr") >= 0.3))
             .select("doc_id", "lang", "norm_hash", "n_tokens"))
    sc.setJobDescription("survivors split-once")
    timed("survivors_split_once", lambda: surv2.count())
    # raw text baseline: one regex pass only
    sc.setJobDescription("regex pass only")
    timed("regex_only_noop", lambda: noop(
        docs32.select(F.trim(F.regexp_replace(F.regexp_replace(
            F.lower(F.col("text")), "[^a-z0-9]", " "), " +", " "))
            .alias("t"))))
    sc.setJobDescription("md5 only")
    timed("md5_only_noop", lambda: noop(
        docs32.select(F.md5("text").alias("h"))))

    # --- band sig rerun + pair stages on materialized signatures ---
    sc.setJobDescription("band sig noop rerun")
    timed("band_sig_noop2", lambda: noop(
        minhash_signature_arrays(docs32, 8, 3, "band_md5")))
    sc.setJobDescription("km sig noop rerun")
    timed("km_sig_noop2", lambda: noop(
        minhash_signature_arrays(docs32, 8, 3, "km_md5")))
    km_sig = minhash_signature_arrays(docs32, 8, 3, "km_md5") \
        .localCheckpoint(eager=True)
    band_sig = minhash_signature_arrays(docs32, 8, 3, "band_md5") \
        .localCheckpoint(eager=True)

    def pairs_from(sig_arr):
        sig = minhash_signatures(docs32, signatures=sig_arr)
        buckets = (sig.groupBy("band", "minhash")
                   .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
                   .filter(F.size("ids") >= 2)
                   .filter(F.size("ids") <= 10_000))
        e = buckets.select("ids", F.posexplode("ids").alias("i", "doc_a"))
        pairs = e.select(
            "doc_a",
            F.explode(F.slice("ids", F.col("i") + 2,
                              F.size("ids") - F.col("i") - 1)).alias("doc_b"))
        return (pairs.groupBy("doc_a", "doc_b")
                .agg(F.count("*").cast("long").alias("n_bands")))

    sc.setJobDescription("km pair stage")
    timed("km_pairs_only", lambda: pairs_from(km_sig).count())
    sc.setJobDescription("band pair stage")
    timed("band_pairs_only", lambda: pairs_from(band_sig).count())
    out["km_pairs_rows"] = pairs_from(km_sig).count()
    out["band_pairs_rows"] = pairs_from(band_sig).count()
    # bucket stats: total exploded pair rows per family
    for name, s in (("km", km_sig), ("band", band_sig)):
        sig = minhash_signatures(docs32, signatures=s)
        b = (sig.groupBy("band", "minhash").count()
             .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2),
                  F.max("count")).collect()[0])
        out[f"{name}_expanded_pairs"] = int(b[0])
        out[f"{name}_max_bucket"] = int(b[1])

    # --- fresh-store micro-costs ---
    from filterz_spark.spark.fsio import (has_data, overwrite_json_marker,
                                          read_json_marker)
    from filterz_spark.spark.sketch_store import (SKETCHSTORE_META_DIR,
                                                  write_sketch_epoch)
    store = "/tmp/filterz_r07_probe3_store"
    meta_dir = f"{store}/{SKETCHSTORE_META_DIR}"
    shutil.rmtree(store, ignore_errors=True)
    timed("read_meta_missing", lambda: read_json_marker(spark, meta_dir),
          r=3)
    timed("has_data_check_missing", lambda: has_data(spark, store), r=3)
    timed("stamp_only", lambda: overwrite_json_marker(
        spark, meta_dir, json.dumps({"kind": "hll",
                                     "params": json.dumps({"p": 14}),
                                     "value_kind": "hash", "version": 1})),
          r=3)
    shutil.rmtree(store, ignore_errors=True)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .withColumn("epoch", F.concat(F.lit("w"), F.weekofyear("ts"))) \
        .cache()
    weeks = sorted(r["epoch"] for r in
                   events.select("epoch").distinct().collect())
    ev_w = events.where(F.col("epoch") == weeks[0])

    def fresh_write_t():
        shutil.rmtree(store, ignore_errors=True)
        t0 = time.monotonic()
        write_sketch_epoch(ev_w, "user_id", store, weeks[0],
                           kind="hll", params={"p": 14})
        return time.monotonic() - t0

    ts = [round(fresh_write_t(), 3) for _ in range(3)]
    out["fresh_write_samples"] = ts
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
