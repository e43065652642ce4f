"""Seeded input generators. The same seed gives the same inputs; the library
only ever receives the DataFrames built here.

Spark-side generators use ``spark.range`` with a fixed partition count, so
``rand``/``xxhash64`` columns are a pure function of (seed, row id).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F


def filter_keys(spark: SparkSession, seed: int, n: int, parts: int) -> DataFrame:
    """``n`` distinct-with-overwhelming-probability u64 keys as ``k long``."""
    return spark.range(0, n, numPartitions=parts).select(
        F.xxhash64("id", F.lit(seed)).alias("k"))


def probe_keys(spark: SparkSession, seed: int, n_keys: int, m: int,
               parts: int, hit_every: int = 100) -> DataFrame:
    """``m`` probe keys ``(k long, member boolean)``: every ``hit_every``-th
    row is an inserted key (the reference's low-hit probe), the rest are
    drawn from a disjoint hash stream."""
    rid = F.col("id")
    member = rid % hit_every == 0
    src = F.pmod(rid * F.lit(7919) + F.lit(seed), F.lit(n_keys)).cast("long")
    k = F.when(member, F.xxhash64(src, F.lit(seed))) \
         .otherwise(F.xxhash64(rid, F.lit(seed), F.lit(1)))
    return spark.range(0, m, numPartitions=parts).select(
        k.alias("k"), member.alias("member"))


def events(spark: SparkSession, seed: int, rows: int, users: int,
           epochs: int, parts: int) -> DataFrame:
    """``(user long, v double, epoch string)`` rows: user = floor(U * u^3)
    is heavily skewed toward small ids (the CMS heavy hitters), v is
    lognormal, epoch is one of ``epochs`` weekly labels ``w00..``."""
    u = F.rand(seed)
    return spark.range(0, rows, numPartitions=parts).select(
        F.floor(F.lit(users) * F.pow(u, 3)).cast("long").alias("user"),
        F.exp(F.randn(seed + 1) + F.lit(3.0)).alias("v"),
        F.format_string("w%02d", F.pmod(F.xxhash64("id", F.lit(seed)),
                                        F.lit(epochs))).alias("epoch"))


def _edit_tokens(text: str, rng: np.random.Generator, n_edits: int) -> str:
    toks = text.split(" ")
    for pos in rng.choice(len(toks), size=min(n_edits, len(toks)), replace=False):
        toks[pos] = f"x{int(rng.integers(0, 1 << 30)):08x}"
    return " ".join(toks)


def pages(seed: int, n_docs: int, n_bench: int) -> tuple[pa.Table, pa.Table, dict]:
    """Synthetic pages (``generate_batch`` over seed-offset row ids) with
    injected duplicates:

    - ~10% exact duplicates of a base doc, half verbatim and half with case
      and punctuation changes that normalization removes;
    - ~5% near duplicates: a base doc with three tokens replaced;
    - ~1% verbatim copies of a benchmark doc (contaminated).

    Injected docs get doc_ids above every base doc, so the dedup keep-rule
    (min doc_id per normalized hash) always drops the copy.
    Returns (docs, bench, injected) with docs/bench as
    ``(doc_id long, lang string, text string)``.
    """
    from filterz_spark.sources.pages import generate_batch

    rng = np.random.default_rng(seed)
    n_exact, n_near, n_contam = n_docs // 10, n_docs // 20, n_docs // 100
    n_base = n_docs - n_exact - n_near - n_contam
    offset = np.uint64(1_000_000 + (seed % 100_000) * 10_000_019)
    base = generate_batch(offset + np.arange(n_base, dtype=np.uint64))
    bench = generate_batch(offset + np.uint64(9_000_000)
                           + np.arange(n_bench, dtype=np.uint64))
    texts, langs = list(base["text"]), list(base["lang"])

    next_id = n_base
    exact_ids = []
    for i, src in enumerate(rng.choice(n_base, n_exact, replace=False)):
        t = base["text"][src]
        if i % 2:
            t = "  " + t.upper().replace(" ", ", ") + "!"
        texts.append(t)
        langs.append(base["lang"][src])
        exact_ids.append(next_id)
        next_id += 1
    near_pairs = []
    for src in rng.choice(n_base, n_near, replace=False):
        texts.append(_edit_tokens(base["text"][src], rng, 3))
        langs.append(base["lang"][src])
        near_pairs.append((int(src), next_id))
        next_id += 1
    contam_ids = []
    for b in rng.choice(n_bench, n_contam, replace=False):
        texts.append(bench["text"][b])
        langs.append(bench["lang"][b])
        contam_ids.append(next_id)
        next_id += 1

    order = rng.permutation(len(texts))
    docs = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "lang": pa.array([langs[i] for i in order], pa.string()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    bench_tbl = pa.table({
        "doc_id": pa.array(np.arange(n_bench), pa.int64()),
        "lang": pa.array(bench["lang"], pa.string()),
        "text": pa.array(bench["text"], pa.string()),
    })
    injected = {"exact_ids": exact_ids, "near_pairs": near_pairs,
                "contam_ids": contam_ids, "texts": texts}
    return docs, bench_tbl, injected
