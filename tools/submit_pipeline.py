"""spark-submit entrypoint — the north rule's deployment shape:

    cd /root/repo && python tools/package_zip.py &&
    spark-submit --master local[32] --py-files /tmp/filterz_spark.zip \
        tools/submit_pipeline.py --sf-dir /root/testdata/sf0.01 \
        --checkpoint /tmp/fz_submit_ckpt

Runs the flagship pipeline on a bare SparkSession (no repo on sys.path —
the package ships via --py-files): checkpointed partition xor-filter build
over lineitem order keys with lineage, probe of the orders table, HLL/
t-digest sketch aggregation, one JSON result line on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--checkpoint", default="/tmp/fz_submit_ckpt")
    ap.add_argument("--partitions", type=int, default=16)
    args = ap.parse_args()

    # imported from the --py-files zip, NOT a local checkout
    from filterz_spark.spark.checkpoint import checkpointed_build, read_lineage
    from filterz_spark.spark.merge import sketch_column
    from filterz_spark.spark.probe import collect_index, probe_membership

    spark = SparkSession.builder.getOrCreate()
    li = spark.read.parquet(f"{args.sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{args.sf_dir}/orders.parquet")

    index_df = checkpointed_build(
        spark, li, "l_orderkey", args.checkpoint, "xorf",
        {"arity": 3, "fp_bits": 16}, num_partitions=args.partitions)
    index = collect_index(index_df)
    hits = probe_membership(orders.select("o_orderkey"), "o_orderkey", index) \
        .filter("maybe_present").count()
    exact = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi").count()

    hll = sketch_column(li, "l_partkey", "hll", {"p": 14})
    td = sketch_column(li, "l_extendedprice", "tdigest", {"delta": 200})

    result = {
        "partitions_built": len(index),
        "total_keys": sum(r["num_keys"] for r in index),
        "probe_hits": hits,
        "probe_exact_present": exact,
        "hll_distinct_partkeys": round(hll.estimate()),
        "tdigest_p99_price": round(td.quantile(0.99), 2),
        "lineage_epoch": read_lineage(spark, args.checkpoint)["epoch"],
    }
    print("PIPELINE_RESULT " + json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
