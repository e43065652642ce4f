"""Metric catalogue: the single source for BENCHMARK.json and the self-test.

End-to-end metrics are emitted by every workload (``--trace 0``); per-layer
metrics by every workload's traced run (``--trace 1``), as 0 for a layer the
workload never enters. README.md records which end-to-end metric each layer
metric is expected to move, and on which workload.
"""

from __future__ import annotations

FILTER_KINDS = ["sbbf24", "xorf3_16", "ribbon128_16"]
SKETCH_KINDS = ["hll", "cms", "kll", "tdigest"]

WORKLOADS = [
    ("filter_index",
     "u64 keys in 16 sections built and probed (1% hits) as sbbf24, xorf3_16, "
     "ribbon128_16: spark.build, filters/native, spark.probe; never enters "
     "sketches or ops"),
    ("rollup_curation",
     "skewed events through hll/cms/kll/tdigest, per-epoch store writes and "
     "merges, then page curation and LSH with injected dups: spark.merge, "
     "sketches, sketch_store, ops; bypasses filter kernels"),
]

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cycle_s", "s", "lower", 0.25),
    ("build_rows_per_s", "rows/s", "higher", 0.25),
    ("query_rows_per_s", "rows/s", "higher", 0.25),
]

# layers whose spans run Spark jobs; each carries the status-store counters
SPAN_LAYERS = ["spark.build", "spark.probe", "spark.merge",
               "spark.sketch_store", "ops.text", "ops.dedup", "ops.pipeline"]
SPAN_COUNTERS = [
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("tasks", "count"),
    ("self_s", "s"),
]


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("spark.session.start_s", "s", "lower"),
        ("native.load_s", "s", "lower"),
        ("setup.generate_s", "s", "lower"),
        ("warmup_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.coverage", "ratio", "higher"),
    ]
    for layer in SPAN_LAYERS:
        m += [(f"{layer}.{c}", u, "lower") for c, u in SPAN_COUNTERS]
    m += [(f"spark.build.wall_s.{k}", "s", "lower") for k in FILTER_KINDS]
    m += [("spark.build.python_run_s", "s", "lower"),
          ("spark.build.python_init_s", "s", "lower"),
          ("spark.build.arrow_bytes_to_python", "bytes", "lower")]
    for k in FILTER_KINDS:
        m += [(f"filters.build_kernel_s.{k}", "s", "lower"),
              (f"filters.build_crit_s.{k}", "s", "lower"),
              (f"filters.shards_per_partition.{k}", "count", "lower"),
              (f"filters.payload_bytes.{k}", "bytes", "lower"),
              (f"filters.bits_per_key.{k}", "bits", "lower"),
              (f"filters.check_ns_per_key.{k}", "ns", "lower")]
    m += [("filters.fpr_to_bound", "ratio", "lower"),
          ("spark.probe.wall_s", "s", "lower"),
          ("spark.probe.python_run_s", "s", "lower"),
          ("spark.probe.broadcast_bytes", "bytes", "lower"),
          ("spark.probe.collect_driver_s", "s", "lower")]
    m += [(f"spark.merge.wall_s.{k}", "s", "lower") for k in SKETCH_KINDS]
    m += [("spark.merge.partial_s", "s", "lower"),
          ("spark.merge.tree_merge_s", "s", "lower")]
    m += [(f"spark.merge.state_bytes.{k}", "bytes", "lower")
          for k in SKETCH_KINDS]
    for k in SKETCH_KINDS:
        m += [(f"sketches.update_rows_per_s.{k}", "rows/s", "higher"),
              (f"sketches.merge_s.{k}", "s", "lower"),
              (f"sketches.err.{k}", "ratio", "lower")]
    m += [("sketches.err_to_bound", "ratio", "lower"),
          ("spark.sketch_store.write_epoch_s", "s", "lower"),
          ("spark.sketch_store.bytes_written", "bytes", "lower"),
          ("spark.sketch_store.merge_range_s", "s", "lower"),
          ("ops.text.normalize_s", "s", "lower"),
          ("ops.dedup.decontaminate_s", "s", "lower"),
          ("ops.dedup.minhash_signatures_s", "s", "lower"),
          ("ops.dedup.lsh_pairs_s", "s", "lower"),
          ("ops.dedup.candidate_pairs", "count", "lower"),
          ("ops.dedup.dup_recall", "ratio", "higher"),
          ("ops.pipeline.curate_s", "s", "lower"),
          ("ops.pipeline.survivor_ratio", "ratio", "higher")]
    return m


PER_LAYER = _per_layer()

def benchmark_json() -> dict:
    """The BENCHMARK.json document, as committed at the repo root."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    import json
    print(json.dumps(benchmark_json(), indent=2))
