"""Physical-plan gates: the plans we rely on at 100TB must actually appear.

- column pruning: a key-hash projection reads ONLY the key column (ReadSchema);
- predicate pushdown: filters reach the parquet scan (PushedFilters);
- shuffle budget: a filter-index build has exactly ONE exchange (the
  repartition-by-hash); probe is map-only (ZERO exchanges);
- whole-stage codegen wraps the JVM-side text operators.
"""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# Every batch physical node that runs Python (Spark 4.1 ``*Exec`` names
# less the suffix): per-row and Arrow UDFs, aggregate/window UDFs, map
# stages and (co)grouped map stages in both the pandas and Arrow forms.
PYTHON_EXECS = ("BatchEvalPython", "ArrowEvalPython", "ArrowAggregatePython",
                "ArrowWindowPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow")


def python_stages(p: str) -> list[str]:
    """The Python exec nodes named in the plan text ``p``."""
    return [n for n in PYTHON_EXECS if n in p]


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_key_hash_projection_prunes_scan(spark, li):
    from filterz_spark.spark.build import hashed_keys
    p = plan(hashed_keys(li, "l_orderkey"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    assert m.group(1).split(":")[0] == "l_orderkey" and "," not in m.group(1), \
        f"scan reads more than the key column: {m.group(1)}"


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(docs.filter(F.col("lang") == "en").select("doc_id"))
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\).*\]", p), p


def test_build_has_single_shuffle(spark, li):
    from filterz_spark.spark.build import build_filter_index
    idx = build_filter_index(li, "l_orderkey", "sbbf", {"bits_per_key": 16}, 8)
    p = plan(idx, "simple")
    assert p.count("Exchange") == 1, f"expected exactly one shuffle:\n{p}"


def test_probe_is_map_only(spark, li):
    from filterz_spark.spark.build import build_filter_index
    from filterz_spark.spark.probe import collect_index, probe_membership
    idx = collect_index(build_filter_index(li, "l_orderkey", "sbbf",
                                           {"bits_per_key": 16}, 4))
    probed = probe_membership(li.select("l_orderkey"), "l_orderkey", idx)
    p = plan(probed, "simple")
    assert "Exchange" not in p, f"probe should not shuffle:\n{p}"
    # a filter on the hit column must stay above the one Python evaluation:
    # pushed below the coalesce it would copy the UDF and run it twice
    p = plan(probed.filter("maybe_present"), "simple")
    assert p.count("ArrowEvalPython") == 1 and "MapInArrow" not in p \
        and "Exchange" not in p, f"probe must evaluate its UDF once:\n{p}"


def test_sketch_partials_are_shuffle_free(spark, li):
    from filterz_spark.spark.merge import partial_states
    states = partial_states(li, "l_partkey", "hll", {"p": 12})
    p = plan(states, "simple")
    assert "Exchange" not in p, f"partials must build where data lives:\n{p}"


def test_text_ops_stay_in_codegen(spark):
    from filterz_spark.ops.text import quality_scores
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(quality_scores(docs))
    assert "codegen id" in p  # projection fused into a WholeStageCodegen span
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, \
        "text ops must not fall back to Python"


def test_dedup_against_store_plan_is_jvm_only(spark):
    """Round-6 gate: the incremental store dedup is the batch's signature
    pass (one native km_md5 ``MapInArrow`` per document batch, the plan's
    only Arrow stage) + explode + two hash joins in the JVM — no per-row or
    Arrow-batched Python UDF, and no exchange of anything wider than the
    (band, minhash) bucket key plus doc_id (doc TEXT must never shuffle;
    only the final anti-join moves full rows, hashed on doc_id alone)."""
    from filterz_spark.ops.dedup import (dedup_against_store,
                                         minhash_signature_arrays)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    store = minhash_signature_arrays(docs.filter("doc_id % 2 = 0"), 8, 2)
    novel = dedup_against_store(docs.filter("doc_id % 2 = 1"), store)
    p = plan(novel)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, \
        "incremental store dedup must not fall back to Python"
    # the collision probe joins on the bucket key with LeftSemi — present
    # exactly once, and the docs side re-enters only via LeftAnti on doc_id
    assert "LeftSemi" in p and "LeftAnti" in p, p


def test_simhash_and_rolling_have_no_python_stage(spark):
    """Round-2 gate (VERDICT #3): the simhash and rolling-fingerprint
    kernels are pure JVM (md5 + conditional aggregation / window exec) —
    no per-row or Arrow-batched Python anywhere in their plans."""
    from filterz_spark.ops.dedup import simhash
    from filterz_spark.ops.text import rolling_fingerprints
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (simhash(docs), rolling_fingerprints(docs)):
        p = plan(df)
        assert not python_stages(p), p


def test_lsh_candidate_pairs_single_signature_pass(spark):
    """The signature pipeline must execute exactly ONCE for the candidate-
    pair plan: no self-join exists, so the corpus is read once with no
    materialization, and the hot-bucket cap (a size() filter on the
    aggregated row) must not add scans."""
    from filterz_spark.ops.dedup import lsh_candidate_pairs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_scans = lambda p: p.count("documents.parquet")  # noqa: E731
    capped = plan(lsh_candidate_pairs(docs, 8, 2, max_bucket_size=10_000))
    uncapped = plan(lsh_candidate_pairs(docs, 8, 2, max_bucket_size=None))
    assert n_scans(capped) == 1, (n_scans(capped), capped[:500])
    assert n_scans(uncapped) == 1, uncapped


def test_minhash_signature_single_doc_aggregate(spark):
    """Array-form signatures reduce in ONE groupBy(doc_id) — no band
    replication of shingle rows (the former crossJoin form shuffled
    num_hashes x n_shingles rows), and exactly one HASH exchange. A
    round-robin exchange from the scan-parallelism guard
    (spark.partitioning.ensure_parallelism — fires only on inputs too
    small/coarse to feed the cluster) is allowed; it carries doc rows.
    km_md5 (the default) shingles and hashes each doc inside ONE native
    ``MapInArrow`` pass, so no shingle row exists in the plan: no
    ``Generate``."""
    from filterz_spark.ops.dedup import minhash_signature_arrays
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(minhash_signature_arrays(docs, 8, 2), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange") <= 2, p
    assert p.count("MapInArrow") == 1 and "Generate" not in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_new_pipeline_ops_have_no_python_stage(spark):
    """Round-3 continuation gate: normalization, repetition scoring,
    decontamination, sampling, and the composed curation pipeline are all
    pure JVM plans — no per-row or Arrow-batched Python anywhere."""
    from filterz_spark.ops.dedup import ngram_decontaminate
    from filterz_spark.ops.pipeline import curate_training_set
    from filterz_spark.ops.relational import stratified_sample
    from filterz_spark.ops.text import normalize_text, repetition_scores
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter("doc_id % 50 = 0")
    frames = [
        normalize_text(docs),
        repetition_scores(docs),
        stratified_sample(docs, "doc_id", {"en": 0.5}),
        ngram_decontaminate(docs, bench),
        curate_training_set(docs, bench, {"en": 1.0}),
    ]
    for df in frames:
        p = plan(df)
        assert not python_stages(p), p


def test_grouped_python_stages_are_arrow(spark, li):
    """The sketch-merge round and the cogrouped probe cross into Python as
    Arrow tables; the gate helper above names both grouped Arrow nodes."""
    from filterz_spark.spark.build import build_filter_index
    from filterz_spark.spark.merge import grouped_sketch_states
    from filterz_spark.spark.probe import probe_membership_cogrouped
    grouped = grouped_sketch_states(li, "l_returnflag", "l_orderkey", "hll",
                                    {"p": 10})
    assert python_stages(plan(grouped)) == ["MapInArrow", "FlatMapGroupsInArrow"]
    idx = build_filter_index(li, "l_orderkey", "sbbf", {"bits_per_key": 16}, 4)
    probed = probe_membership_cogrouped(li.select("l_orderkey"), "l_orderkey",
                                        idx, 4)
    assert python_stages(plan(probed)) == ["MapInArrow", "FlatMapCoGroupsInArrow"]


def test_decontaminate_benchmark_is_broadcast(spark):
    """The benchmark shingle set must broadcast (map-only corpus side) both
    standalone and inside the composed curation pipeline."""
    from filterz_spark.ops.dedup import ngram_decontaminate
    from filterz_spark.ops.pipeline import curate_training_set
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter("doc_id % 50 = 0")
    for df in (ngram_decontaminate(docs, bench),
               curate_training_set(docs, bench, {"en": 1.0})):
        assert "BroadcastHashJoin" in plan(df, "simple"), plan(df, "simple")


def test_curate_evaluates_normalize_once(spark):
    """The normalize chain runs in ONE projection: the quality filter reads
    the dedup aggregate's output, so Catalyst cannot substitute it back
    through the normalize Project into a Filter that re-runs the regex/
    split chains per row (BENCH/PIPELINE.md: 5.2x at 10M), and the dedup
    is one aggregate, not a semi-join back to the same rows."""
    from filterz_spark.ops.pipeline import curate_training_set
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter("doc_id % 50 = 0")
    p = plan(curate_training_set(docs, bench, {"en": 1.0}))
    # formatted mode: one "(n) Node ..." detail block per operator
    nodes = [b for b in p.split("\n\n") if re.match(r"\(\d+\) ", b)]
    with_regex = [b.split("\n")[0] for b in nodes if "regexp_replace" in b]
    assert len(with_regex) == 1 and " Project" in with_regex[0], with_regex
    assert "LeftSemi" not in p, p[:800]
