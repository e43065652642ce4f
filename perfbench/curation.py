"""The curation part of rollup_curation: the composed training-set
curation plan plus LSH near-dup candidates over synthetic pages with
injected duplicates.

Timed ops: ``curate_training_set`` (role build), ``lsh_candidate_pairs``
(role query: the near-duplicate candidate lookup over the corpus).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

from filterz_spark.ops.dedup import (lsh_candidate_pairs,
                                     minhash_signature_arrays,
                                     ngram_decontaminate)
from filterz_spark.ops.pipeline import curate_training_set
from filterz_spark.ops.text import normalize_text

from perfbench import gen
from perfbench.harness import Op, span_medians

FRACTIONS = {lang: 1.0 for lang in ("en", "zh", "es", "de", "fr", "pt", "ru",
                                    "ja", "ar", "hi", "ko", "it", "nl")}
FRACTIONS["en"] = 0.7
LSH_HASHES, LSH_K, DECON_K = 8, 3, 3
MIN_RECALL = 0.8  # expected ~0.95: short docs lose most shingles to 3 edits


def norm_hash(text: str) -> str:
    """Independent re-statement of the dedup key: lowercase, non-alphanumerics
    to spaces, collapse spaces, trim, md5."""
    t = re.sub(" +", " ", re.sub("[^a-z0-9]", " ", text.lower())).strip()
    return hashlib.md5(t.encode()).hexdigest()


class Curation:
    def __init__(self, spark, seed: int, scale: float, workdir: str) -> None:
        self.spark, self.seed = spark, seed
        self.n_docs = int(5_000 * scale)
        self.n_bench = max(int(500 * scale), 20)
        self.parts = 4
        self._curated_hash = None
        self._pairs = None
        self.recall = 0.0
        self.survivors = 0

    def prepare(self) -> dict:
        docs, bench, inj = gen.pages(self.seed, self.n_docs, self.n_bench)
        self.docs = self.spark.createDataFrame(docs).repartition(self.parts).cache()
        self.docs.count()
        self.bench = self.spark.createDataFrame(bench).cache()
        self.bench.count()
        self.norm = np.array([norm_hash(t) for t in inj["texts"]])
        self.exact_ids = np.array(inj["exact_ids"])
        self.contam_ids = np.array(inj["contam_ids"])
        self.near = {(min(a, b), max(a, b)) for a, b in inj["near_pairs"]}
        return {"docs": self.n_docs, "bench_docs": self.n_bench,
                "exact_dups": len(inj["exact_ids"]),
                "near_dups": len(inj["near_pairs"]),
                "contaminated": len(inj["contam_ids"]),
                "partitions": self.parts}

    def ops(self) -> list[Op]:
        return [
            Op("curate", "ops.pipeline", "build", self.n_docs,
               self._curate, self._check_curate),
            Op("lsh", "ops.dedup", "query", self.n_docs,
               self._lsh, self._check_lsh),
        ]

    def _curate(self) -> np.ndarray:
        tbl = curate_training_set(self.docs, self.bench, FRACTIONS,
                                  k=DECON_K).select("doc_id").toArrow()
        return np.sort(tbl.column("doc_id").to_numpy())

    def _check_curate(self, ids: np.ndarray) -> list[str]:
        errors = []
        if np.isin(self.exact_ids, ids).any():
            errors.append("curate: an injected exact duplicate survived")
        if np.isin(self.contam_ids, ids).any():
            errors.append("curate: an injected contaminated doc survived")
        if len(set(self.norm[ids])) != ids.size:
            errors.append("curate: two survivors share a norm_hash")
        digest = hashlib.sha256(ids.tobytes()).hexdigest()
        if self._curated_hash is None:
            self._curated_hash = digest
        elif digest != self._curated_hash:
            errors.append("curate: curated row set changed across reps")
        self.survivors = ids.size
        return errors

    def _lsh(self) -> set:
        tbl = (lsh_candidate_pairs(self.docs, LSH_HASHES, LSH_K)
               .select("doc_a", "doc_b").toArrow())
        a = tbl.column("doc_a").to_numpy()
        b = tbl.column("doc_b").to_numpy()
        return set(zip(np.minimum(a, b).tolist(), np.maximum(a, b).tolist()))

    def _check_lsh(self, pairs: set) -> list[str]:
        errors = []
        self.recall = len(self.near & pairs) / len(self.near) if self.near else 1.0
        if self.recall < MIN_RECALL:
            errors.append(f"lsh: near-duplicate recall {self.recall:.3f} "
                          f"below {MIN_RECALL}")
        if self._pairs is not None and pairs != self._pairs:
            errors.append("lsh: candidate pairs changed across reps")
        self._pairs = pairs
        return errors

    def detail(self, rates: dict) -> dict:
        return {
            "curate_docs_per_s": rates["curate"],
            "lsh_docs_per_s": rates["lsh"],
            "dup_recall": self.recall,
            "candidate_pairs": len(self._pairs or ()),
            "survivor_ratio": self.survivors / self.n_docs,
        }

    def traced_extras(self, tracer) -> None:
        """Sub-stages of the two ops, each run once to a no-op sink."""
        for layer, op, df in (
                ("ops.text", "normalize", normalize_text(self.docs)),
                ("ops.dedup", "decontaminate",
                 ngram_decontaminate(self.docs, self.bench, k=DECON_K)),
                ("ops.dedup", "minhash_signatures",
                 minhash_signature_arrays(self.docs, LSH_HASHES, LSH_K))):
            with tracer.span(layer, op) as sp:
                sp["extra"] = True
                df.write.format("noop").mode("overwrite").save()

    def layer_metrics(self, spans: list[dict]) -> dict:
        med = span_medians(spans)
        return {
            "ops.text.normalize_s": med.get("normalize", {}).get("wall_s", 0.0),
            "ops.dedup.decontaminate_s":
                med.get("decontaminate", {}).get("wall_s", 0.0),
            "ops.dedup.minhash_signatures_s":
                med.get("minhash_signatures", {}).get("wall_s", 0.0),
            "ops.dedup.lsh_pairs_s": med.get("lsh", {}).get("wall_s", 0.0),
            "ops.dedup.candidate_pairs": len(self._pairs or ()),
            "ops.dedup.dup_recall": self.recall,
            "ops.pipeline.curate_s": med.get("curate", {}).get("wall_s", 0.0),
            "ops.pipeline.survivor_ratio": self.survivors / self.n_docs,
        }
