"""End-to-end training-set curation — the composed pipeline a pre-training
corpus actually runs, as ONE declarative Spark plan.

Stages (each individually oracle-proven elsewhere in this repo):

1. normalize — dedup-grade canonicalization (ops.text.normalize_text),
   then the per-doc quality metrics (token count, distinct-word ratio)
   read from norm_text
2. exact dedup — keep the min doc_id per normalized-content hash, as one
   map-side-combined ``min(struct(...))`` aggregate
3. quality — the token-count window and distinct-word-ratio floor, read
   from the aggregate's output
4. decontaminate — drop docs whose distinct k-gram overlap with the
   (broadcast) benchmark set reaches ``max_contamination``
5. mixture — deterministic per-stratum sampling (md5-threshold)

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

    ``doc_id`` is the row key, as in ``url_dedup``: exact dedup keeps one
    row per normalized-content hash, the min ``doc_id``'s, so a doc_id
    repeated with the same content comes out once. A NULL text never
    survives (its token count is not in the quality window).

    Plan: the normalize chain is evaluated in ONE projection (codegen CSE
    shares it between norm_text and its md5), the metrics read norm_text,
    then ``groupBy(norm_hash).agg(min(struct(doc_id, strata, n_tokens, __dr)))``
    keeps each hash's first doc with map-side partials, and the quality
    filter runs on the aggregate's output. The filter sits ABOVE the
    aggregate on purpose: it reads fields of the aggregate's result, so
    Catalyst cannot substitute the quality predicates — and through them
    the whole normalize chain — into a Filter below the normalize
    projection (that substitution cost 5.2x at 10M docs, BENCH/PIPELINE.md).
    The order is the same as filtering first: n_tokens and __dr are pure
    functions of norm_text and the group key is md5(norm_text), so a group
    passes or fails as a whole.
    """
    if not 0.0 < max_contamination <= 1.0:
        raise ValueError("max_contamination must be in (0, 1]")
    # scan-parallelism guard (spark.partitioning): the normalize chain is
    # the pipeline's per-byte cost center and fuses into the scan stage;
    # a small/1-row-group input would run it on 1-2 tasks at local[32]
    norm = normalize_text(
        ensure_parallelism(docs.select("doc_id", strata_col, "text")),
        keep_cols=(strata_col,))
    ws = F.split(F.col("norm_text"), " ")
    n_tokens = F.size(ws).cast("long")
    metrics = norm.select(
        "norm_hash",
        F.struct("doc_id", strata_col, n_tokens.alias("n_tokens"),
                 (F.size(F.array_distinct(ws)) / n_tokens).alias("__dr"))
        .alias("__m"))
    survivors = (metrics.groupBy("norm_hash")
                 .agg(F.min("__m").alias("__w"))
                 .select("__w.*")
                 .filter((F.col("n_tokens") >= min_tokens)
                         & (F.col("n_tokens") <= max_tokens)
                         & (F.col("__dr") >= min_distinct_ratio)))

    # decontamination on the ORIGINAL text (benchmarks are verbatim)
    contaminated = (ngram_decontaminate(docs, bench, k=k,
                                        min_contamination=max_contamination)
                    .select("doc_id"))
    survivors = survivors.join(contaminated, "doc_id", "left_anti")

    # mixture: the standalone sampling operator, verbatim
    return stratified_sample(survivors, "doc_id", fractions, strata_col,
                             seed).select("doc_id", strata_col, "n_tokens")
