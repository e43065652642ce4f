"""The sketch rollup part of rollup_curation: four sketch kinds over
skewed events, then the persisted per-epoch store.

Timed ops: ``sketch_column`` per kind and ``write_sketch_epoch`` of the
next epoch in turn (role build); ``merge_sketch_range`` over the two epochs
written last (role query).
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import time
from functools import partial

import numpy as np
from pyspark.sql import functions as F

from filterz_spark.sketches import SKETCH_KINDS
from filterz_spark.spark.merge import sketch_column
from filterz_spark.spark.sketch_store import merge_sketch_range, write_sketch_epoch

from perfbench import gen
from perfbench.harness import Op, span_medians

KINDS = {
    "hll": ({"p": 14}, "user"),
    "cms": ({"depth": 5, "width": 8192}, "user"),
    "kll": ({"k": 200}, "v"),
    "tdigest": ({"delta": 200}, "v"),
}
QS = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
TOP_K = 20
STORE_P = 14


def bound(kind: str) -> float:
    """Published error bound per kind, in the unit ``error`` reports.

    hll: 4 standard errors, 4 * 1.04/sqrt(2^p), relative;
    cms: e/width of the total count, as a share of the total;
    kll: 1.65% normalized rank error (k=200, 99% confidence);
    tdigest: 1% normalized rank error (delta=200, 2/delta).
    """
    if kind == "hll":
        return 4 * 1.04 / math.sqrt(1 << KINDS["hll"][0]["p"])
    if kind == "cms":
        return math.e / KINDS["cms"][0]["width"]
    if kind == "kll":
        return 0.0165
    return 2.0 / KINDS["tdigest"][0]["delta"]


class SketchRollup:
    def __init__(self, spark, seed: int, scale: float, workdir: str) -> None:
        self.spark, self.seed = spark, seed
        self.rows = int(250_000 * scale)
        self.users = max(self.rows // 2, 1000)
        self.epochs = 8
        self.parts = 4
        self.store = os.path.join(workdir, "sketch_store")
        self.errors: dict[str, float] = {}
        self.states: dict[str, object] = {}

    def prepare(self) -> dict:
        shutil.rmtree(self.store, ignore_errors=True)
        ev = gen.events(self.spark, self.seed, self.rows, self.users,
                        self.epochs, self.parts).cache()
        ev.count()
        self.events = ev
        # exact ground truth: one Spark SQL scan of the cached rows, reduced
        # exactly on the driver (distinct users and heavy hitters by the
        # user's xxhash64, which is what the sketches see)
        tbl = ev.select(F.xxhash64("user").alias("h"), "v",
                        F.substring("epoch", 2, 2).cast("int").alias("e")).toArrow()
        self.hashes = tbl.column("h").to_numpy().view(np.uint64)
        self.values = tbl.column("v").to_numpy()
        self.sorted_v = np.sort(self.values)
        epoch_col = tbl.column("e").to_numpy()
        users, counts = np.unique(self.hashes, return_counts=True)
        self.distinct = users.size
        top = np.argsort(-counts, kind="stable")[:TOP_K]
        self.top_h, self.top_n = users[top], counts[top]
        self.epoch_names = [f"w{e:02d}" for e in range(self.epochs)]
        # in-memory per-epoch HLL states for the store check
        self.epoch_rows, self.epoch_hll = {}, {}
        for i, e in enumerate(self.epoch_names):
            mask = epoch_col == i
            self.epoch_rows[e] = int(mask.sum())
            self.epoch_hll[e] = SKETCH_KINDS["hll"].zero(p=STORE_P)
            self.epoch_hll[e].update(self.hashes[mask])
        self.next_epoch = itertools.cycle(self.epoch_names)
        self.written: list[str] = []
        return {"rows": self.rows, "distinct_users": int(self.distinct),
                "epochs": self.epochs, "partitions": self.parts}

    def ops(self) -> list[Op]:
        ops = [Op(f"sketch.{k}", "spark.merge", "build", self.rows,
                  partial(self._sketch, k), partial(self._check_sketch, k))
               for k in KINDS]
        ops.append(Op("store.write", "spark.sketch_store", "build",
                      self._pick_epoch, self._write, lambda _: []))
        ops.append(Op("store.merge", "spark.sketch_store", "query",
                      self._range_rows, self._merge, self._check_merge))
        return ops

    def _sketch(self, kind: str):
        params, col = KINDS[kind]
        value_kind = "float" if col == "v" else None
        return sketch_column(self.events, col, kind, params, value_kind=value_kind)

    def error(self, kind: str, s) -> float:
        if kind == "hll":
            return abs(s.estimate() - self.distinct) / self.distinct
        if kind == "cms":
            est = s.query(self.top_h)
            if (est < self.top_n).any():
                return float("inf")  # CMS never underestimates
            return float((est - self.top_n).max()) / self.rows
        n = self.sorted_v.size
        errs = []
        for q in QS:
            x = s.quantile(q)
            lo = np.searchsorted(self.sorted_v, x, "left")
            hi = np.searchsorted(self.sorted_v, x, "right")
            errs.append(abs((lo + hi) / 2 / n - q))
        return max(errs)

    def _check_sketch(self, kind: str, s) -> list[str]:
        err = self.error(kind, s)
        self.errors[kind] = err
        self.states[kind] = s
        if err > bound(kind):
            return [f"sketch.{kind}: error {err:.4g} above bound {bound(kind):.4g}"]
        return []

    def _pick_epoch(self) -> int:
        self.epoch = next(self.next_epoch)
        return self.epoch_rows[self.epoch]

    def _write(self) -> None:
        write_sketch_epoch(self.events.where(F.col("epoch") == self.epoch),
                           "user", self.store, self.epoch, kind="hll",
                           params={"p": STORE_P})
        if self.epoch in self.written:
            self.written.remove(self.epoch)
        self.written.append(self.epoch)

    def _range_rows(self) -> int:
        self.range = self.written[-2:]
        return sum(self.epoch_rows[e] for e in self.range)

    def _merge(self):
        return merge_sketch_range(self.spark, self.store, epochs=self.range)

    def _check_merge(self, merged) -> list[str]:
        acc = self.epoch_hll[self.range[0]]
        for e in self.range[1:]:
            acc = acc.merge(self.epoch_hll[e])
        if merged.serialize() != acc.serialize():
            return [f"store.merge {self.range}: state differs from the "
                    "in-memory merge of the same epochs"]
        return []

    def err_to_bound(self) -> float:
        """Highest measured error over its bound, across the four kinds."""
        return max(self.errors[k] / bound(k) for k in KINDS)

    def detail(self, rates: dict) -> dict:
        sketch_rates = [rates[f"sketch.{k}"] for k in KINDS]
        return {
            "sketch_rows_per_s": float(np.median(sketch_rates)),
            "sketch_err_to_bound": self.err_to_bound(),
            "store_write_rows_per_s": rates["store.write"],
            "store_merge_rows_per_s": rates["store.merge"],
            **{f"err.{k}": self.errors[k] for k in KINDS},
        }

    def layer_metrics(self, spans: list[dict]) -> dict:
        med = span_medians(spans)
        sk = [med[f"sketch.{k}"] for k in KINDS if f"sketch.{k}" in med]
        m = {f"spark.merge.wall_s.{k}": med.get(f"sketch.{k}", {}).get("wall_s", 0.0)
             for k in KINDS}
        # Spark job time (partial states + collect) vs driver-side merge
        m["spark.merge.partial_s"] = sum(s.get("job_s", 0.0) for s in sk)
        m["spark.merge.tree_merge_s"] = sum(s.get("driver_s", 0.0) for s in sk)
        for k in KINDS:
            m[f"spark.merge.state_bytes.{k}"] = len(self.states[k].serialize())
            m[f"sketches.err.{k}"] = self.errors[k]
        m["sketches.err_to_bound"] = self.err_to_bound()
        # driver, one thread: one partition's values, then a merge of one
        # partial per partition
        part = self.rows // self.parts
        for k, (params, col) in KINDS.items():
            vals = self.hashes if col == "user" else self.values
            cls = SKETCH_KINDS[k]
            t0 = time.perf_counter()
            s = cls.zero(**params)
            s.update(vals[:part])
            m[f"sketches.update_rows_per_s.{k}"] = part / (time.perf_counter() - t0)
            partials = []
            for chunk in np.array_split(vals, self.parts):
                p = cls.zero(**params)
                p.update(chunk)
                partials.append(p)
            t0 = time.perf_counter()
            acc = partials[0]
            for p in partials[1:]:
                acc = acc.merge(p)
            m[f"sketches.merge_s.{k}"] = time.perf_counter() - t0
        for op, name in (("store.write", "write_epoch_s"),
                         ("store.merge", "merge_range_s")):
            m[f"spark.sketch_store.{name}"] = med.get(op, {}).get("wall_s", 0.0)
        m["spark.sketch_store.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.store) for f in files)
        return m
