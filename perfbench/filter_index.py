"""filter_index: section builds of three filter kinds, then a low-hit probe.

Timed ops: ``build_filter_index`` -> ``collect_index`` per kind (role
build), ``probe_membership`` against each kind's index (role query).
"""

from __future__ import annotations

import hashlib
import math
import pickle
import statistics
import time
from functools import partial

import numpy as np
from pyspark.sql import functions as F

from filterz_spark.filters import deserialize_filter
from filterz_spark.spark.build import build_filter_index
from filterz_spark.spark.probe import collect_index, probe_membership

from perfbench import gen
from perfbench.harness import Op, span_medians

KINDS = {
    "sbbf24": ("sbbf", {"bits_per_key": 24}),
    "xorf3_16": ("xorf", {"arity": 3, "fp_bits": 16}),
    "ribbon128_16": ("ribbon", {"coeff_bits": 128, "result_bits": 16}),
}


def per_filter_fpr(row: dict) -> float:
    """Published false-positive rate of one partition filter.

    xor and ribbon: 2^-bits. SBBF (512-bit blocks, one bit in each of 8
    64-bit lanes per key): sum over the Poisson(keys per block) load j of
    (1 - (1 - 1/64)^j)^8.
    """
    p = row["params"]
    if row["kind"] == "xorf":
        return 2.0 ** -int(p["fp_bits"])
    if row["kind"] == "ribbon":
        return 2.0 ** -int(p["result_bits"])
    lam = row["num_keys"] / (len(row["payload"]) / 64)
    term, total = math.exp(-lam), 0.0
    for j in range(int(lam * 4) + 64):
        total += term * (1.0 - (63 / 64) ** j) ** 8
        term *= lam / (j + 1)
    return total


def or_bound(rows: list[dict]) -> float:
    """OR-probe bound over S filters: 1 - prod(1 - p_i) (= 1-(1-p)^S)."""
    return 1.0 - math.prod(1.0 - per_filter_fpr(r) for r in rows)


class FilterIndex:
    def __init__(self, spark, seed: int, scale: float, workdir: str) -> None:
        self.spark, self.seed = spark, seed
        self.n_keys = int(250_000 * scale)
        self.n_probe = int(250_000 * scale)
        self.parts = 16
        self.index: dict[str, list[dict]] = {}
        self.digests: dict[str, list] = {}
        self._driver_probe: dict[str, tuple[int, int]] = {}

    def prepare(self) -> dict:
        self.keys = gen.filter_keys(self.spark, self.seed, self.n_keys,
                                    self.parts).cache()
        self.keys.count()
        self.probes = gen.probe_keys(self.spark, self.seed, self.n_keys,
                                     self.n_probe, self.parts).cache()
        # driver copy of the hash the library derives from each probe key
        tbl = self.probes.select(F.xxhash64("k").alias("h"), "member").toArrow()
        self.probe_h = tbl.column("h").to_numpy().view(np.uint64)
        self.member = tbl.column("member").to_numpy(zero_copy_only=False)
        return {"keys": self.n_keys, "probe_keys": self.n_probe,
                "probe_members": int(self.member.sum()),
                "sections": self.parts}

    def ops(self) -> list[Op]:
        ops = [Op(f"build.{label}", "spark.build", "build", self.n_keys,
                  partial(self._build, label), partial(self._check_build, label))
               for label in KINDS]
        ops += [Op(f"probe.{label}", "spark.probe", "query", self.n_probe,
                   partial(self._probe, label), partial(self._check_probe, label))
                for label in KINDS]
        return ops

    def _build(self, label: str) -> list[dict]:
        kind, params = KINDS[label]
        return collect_index(build_filter_index(
            self.keys, "k", kind, params, num_partitions=self.parts))

    def _check_build(self, label: str, rows: list[dict]) -> list[str]:
        errors = []
        total = sum(r["num_keys"] for r in rows)
        if total != self.n_keys:
            errors.append(f"build.{label}: {total} keys indexed, want {self.n_keys}")
        digest = sorted((r["partition_id"], hashlib.sha256(r["payload"]).hexdigest())
                        for r in rows)
        if self.digests.setdefault(label, digest) != digest:
            errors.append(f"build.{label}: payload sha256 changed across reps")
        self.index[label] = rows
        return errors

    def driver_probe(self, label: str) -> tuple[int, int]:
        """(false negatives, false positives) of the OR-probe over the
        collected index, checked on the driver with the filter objects."""
        if label not in self._driver_probe:
            hit = np.zeros(self.probe_h.size, dtype=bool)
            for r in self.index[label]:
                f = deserialize_filter(r["kind"], r["payload"], r["params"])
                miss = ~hit
                hit[miss] |= f.check(self.probe_h[miss])
            fn = int((self.member & ~hit).sum())
            fp = int((~self.member & hit).sum())
            self._driver_probe[label] = (fn, fp)
        return self._driver_probe[label]

    def _probe(self, label: str) -> dict:
        out = (probe_membership(self.probes, "k", self.index[label])
               .groupBy("member")
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("maybe_present").cast("long")).alias("hits"))
               .collect())
        return {r["member"]: (r["n"], r["hits"]) for r in out}

    def _check_probe(self, label: str, res: dict) -> list[str]:
        n_mem, hits_mem = res.get(True, (0, 0))
        n_non, hits_non = res.get(False, (0, 0))
        errors = []
        if hits_mem != n_mem:
            errors.append(f"probe.{label}: {n_mem - hits_mem} false negatives")
        _, fp = self.driver_probe(label)
        if hits_non != fp:
            errors.append(f"probe.{label}: {hits_non} false positives, "
                          f"driver-side check of the same index gives {fp}")
        return errors

    def fpr(self, label: str) -> tuple[float, float, int]:
        """(measured OR-probe FPR on non-members, bound, false negatives)."""
        fn, fp = self.driver_probe(label)
        n_non = int((~self.member).sum())
        return fp / n_non, or_bound(self.index[label]), fn

    def final_checks(self) -> list[str]:
        errors = []
        n_non = int((~self.member).sum())
        for label in KINDS:
            rate, bound, fn = self.fpr(label)
            if fn:
                errors.append(f"{label}: {fn} false negatives")
            expect = bound * n_non  # binomial tolerance around the bound
            if rate * n_non > expect + 5 * math.sqrt(expect) + 5:
                errors.append(f"{label}: FPR {rate:.3g} above bound {bound:.3g}")
        return errors

    def detail(self, rates: dict) -> dict:
        out = {f"build_keys_per_s.{k}": rates[f"build.{k}"] for k in KINDS}
        out["build_keys_per_s"] = statistics.median(
            rates[f"build.{k}"] for k in KINDS)
        out["probe_keys_per_s"] = statistics.median(
            rates[f"probe.{k}"] for k in KINDS)
        for k in KINDS:
            out[f"bits_per_key.{k}"] = self._bits_per_key(k)
        out["fpr_to_bound"] = self.fpr_to_bound()
        return out

    def fpr_to_bound(self) -> float:
        """Highest measured FPR over its bound, across the three kinds."""
        return max(rate / bound for rate, bound, _ in map(self.fpr, KINDS))

    def _bits_per_key(self, label: str) -> float:
        return 8 * sum(len(r["payload"]) for r in self.index[label]) / self.n_keys

    def layer_metrics(self, spans: list[dict]) -> dict:
        med = span_medians(spans)
        builds = [med[f"build.{k}"] for k in KINDS if f"build.{k}" in med]
        m = {f"spark.build.wall_s.{k}": med.get(f"build.{k}", {}).get("wall_s", 0.0)
             for k in KINDS}
        for f in ("python_run_s", "python_init_s", "arrow_bytes_to_python"):
            m[f"spark.build.{f}"] = sum(b.get(f, 0.0) for b in builds)
        probes = [med[f"probe.{k}"] for k in KINDS if f"probe.{k}" in med]
        m["spark.probe.wall_s"] = sum(p.get("wall_s", 0.0) for p in probes)
        m["spark.probe.python_run_s"] = sum(p.get("python_run_s", 0.0) for p in probes)
        m["spark.probe.broadcast_bytes"] = sum(len(pickle.dumps(self.index[k]))
                                               for k in KINDS)
        # collect_index's driver side: build span wall minus its job time
        m["spark.probe.collect_driver_s"] = sum(b.get("driver_s", 0.0) for b in builds)
        for label in KINDS:
            rows = self.index[label]
            ns = [r["build_ns"] for r in rows]
            m[f"filters.build_kernel_s.{label}"] = sum(ns) / 1e9
            m[f"filters.build_crit_s.{label}"] = max(ns) / 1e9
            m[f"filters.shards_per_partition.{label}"] = (
                len(rows) / len({r["partition_id"] for r in rows}))
            m[f"filters.payload_bytes.{label}"] = sum(len(r["payload"]) for r in rows)
            m[f"filters.bits_per_key.{label}"] = self._bits_per_key(label)
            f = deserialize_filter(rows[0]["kind"], rows[0]["payload"],
                                   rows[0]["params"])
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                f.check(self.probe_h)
                best = min(best, time.perf_counter() - t0)
            m[f"filters.check_ns_per_key.{label}"] = best / self.probe_h.size * 1e9
        m["filters.fpr_to_bound"] = self.fpr_to_bound()
        return m
