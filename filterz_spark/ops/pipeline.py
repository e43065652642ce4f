"""End-to-end training-set curation — the composed pipeline a pre-training
corpus actually runs, as ONE declarative Spark plan.

Stages (each individually oracle-proven elsewhere in this repo):

1. normalize + quality — dedup-grade canonicalization
   (ops.text.normalize_text) fused with the token-count window +
   distinct-word-ratio floor in ONE projection (quality is a pure
   function of norm_text, constant within a dedup group, so filtering
   first is provably identical to filtering after dedup — and avoids
   Catalyst re-evaluating the normalize chain inside pushed filters)
2. exact dedup — keep the min doc_id per normalized-content hash
3. decontaminate — drop docs whose distinct k-gram overlap with the
   (broadcast) benchmark set reaches ``max_contamination``
4. mixture     — deterministic per-stratum sampling (md5-threshold)

Everything is JVM built-ins plus the already-audited sub-operators: the
whole pipeline is one Catalyst plan per stage boundary, shuffles only where
the semantics force one (the dedup groupBy and the decontamination
aggregate), and every row decision is a pure function of (content, seed) —
reproducible across engines, which is what makes the full-pipeline DuckDB
oracle possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..spark.partitioning import ensure_parallelism
from .dedup import ngram_decontaminate
from .relational import stratified_sample
from .text import normalize_text


def curate_training_set(docs: DataFrame, bench: DataFrame,
                        fractions: dict, k: int = 3,
                        max_contamination: float = 0.2,
                        min_tokens: int = 5, max_tokens: int = 100_000,
                        min_distinct_ratio: float = 0.3,
                        strata_col: str = "lang",
                        seed: str = "42") -> DataFrame:
    """(doc_id, lang, n_tokens) — the curated training set.

    ``fractions``: per-stratum keep probabilities (strata absent from the
    dict are dropped — the explicit mixture spec, like stratified_sample).
    ``max_contamination`` must be > 0: the decontamination stage drops docs
    AT or above the threshold, so 0.0 would drop every doc including fully
    clean ones (contamination 0.0) — rejected loudly instead.

    An optimizer barrier sits between the quality projection and the
    dedup double-reference (see the inline comment for WHY it exists).
    Its mechanism is read from the session: with a checkpoint directory
    configured (``sparkContext.setCheckpointDir`` was called — the
    deployment's signal that it cares about executor-loss durability,
    e.g. a preemptible/spot fleet pointing at HDFS/S3) it is
    ``checkpoint(eager=False)``, which survives executor loss at the
    cost of one write+read of the projected rows; otherwise it is
    ``localCheckpoint(eager=False)`` — executor-local storage and no
    extra job, but losing an executor after materialization makes its
    blocks unrecoverable and kills the job. Both produce identical rows.

    The barrier input is PROJECTED to (doc_id, strata, norm_hash,
    n_tokens, __dr) first — norm_text is consumed by the metric
    expressions and never read downstream, so the materialized
    state is a few dozen bytes per doc, not the normalized corpus.
    """
    if not 0.0 < max_contamination <= 1.0:
        raise ValueError("max_contamination must be in (0, 1]")
    # scan-parallelism guard (spark.partitioning): the normalize chain is
    # the pipeline's per-byte cost center and fuses into the scan stage;
    # a small/1-row-group input would run it on 1-2 tasks at local[32]
    norm = normalize_text(
        ensure_parallelism(docs.select("doc_id", strata_col, "text")),
        keep_cols=(strata_col,))

    # QUALITY FIRST, fused into the normalize projection. Semantically
    # identical to filtering after dedup — n_tokens/__dr are pure functions
    # of norm_text, which is CONSTANT within a dedup group (the group key
    # IS md5(norm_text)), so a group passes or fails as a whole and the
    # min-doc_id keep decision is unchanged; decontamination and sampling
    # key on doc_id and commute with any per-doc filter. Physically it is
    # the difference between one projection evaluating the normalize chain
    # once, and Catalyst pushing the quality predicates through the
    # project by SUBSTITUTION — re-evaluating the full regex/split/
    # array_distinct chains per input row inside a pre-join Filter
    # (measured: 99s -> ~30s for the composed count at 1M docs/32c).
    ws = F.split(F.col("norm_text"), " ")
    metrics = (norm
               .withColumn("n_tokens", F.size(ws).cast("long"))
               .withColumn("__dr", F.size(F.array_distinct(ws))
                           / F.col("n_tokens"))
               .select("doc_id", strata_col, "norm_hash", "n_tokens",
                       "__dr"))
    # the barrier is an optimizer barrier, placed BEFORE the quality
    # filter (round 7): with it after the filter, Catalyst substitutes the
    # quality predicates — and through them the whole normalize chain —
    # into the pre-barrier Filter, evaluating the regex/split chains ~5x
    # per input row (measured 2x wall on the composed leg; the same
    # re-substitution blowup hit the dedup double-reference before round
    # 3, measured 5.2x at 10M docs — BENCH/PIPELINE.md). Materializing the
    # per-doc METRICS (a few dozen bytes/doc, norm_text already dropped)
    # lets the single pre-barrier projection evaluate the chain once
    # (codegen CSE applies within one Project) and makes the filter above
    # the barrier free to duplicate into both dedup branches. Both
    # mechanisms are lazy until the first action.
    if docs.sparkSession.sparkContext.getCheckpointDir():
        metrics = metrics.checkpoint(eager=False)
    else:
        metrics = metrics.localCheckpoint(eager=False)
    survivors = (metrics
                 .filter((F.col("n_tokens") >= min_tokens)
                         & (F.col("n_tokens") <= max_tokens)
                         & (F.col("__dr") >= min_distinct_ratio))
                 .select("doc_id", strata_col, "norm_hash", "n_tokens"))

    # exact dedup on normalized content: keep the min doc_id per hash
    keep = (survivors.groupBy("norm_hash").agg(F.min("doc_id").alias("doc_id")))
    survivors = survivors.join(keep, ["norm_hash", "doc_id"], "left_semi")

    # decontamination on the ORIGINAL text (benchmarks are verbatim)
    contaminated = (ngram_decontaminate(docs, bench, k=k,
                                        min_contamination=max_contamination)
                    .select("doc_id"))
    survivors = survivors.join(contaminated, "doc_id", "left_anti")

    # mixture: the standalone sampling operator, verbatim
    return stratified_sample(survivors, "doc_id", fractions, strata_col,
                             seed).select("doc_id", strata_col, "n_tokens")
