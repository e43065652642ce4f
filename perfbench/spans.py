"""Spans around calls into the library, plus Spark's own counters per span.

Each span sets its own job group, so every Spark job it triggers can be
found again in the status store. Spans are kept in memory; ``resolve`` reads
the status store (stages) and the SQL status store (plan-node metrics such
as "time to run Python workers") over py4j once, at the end of the run.
Both stores are populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0}
_NUM = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")

# SQL plan-node metric name -> span field
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max)\\n1.2 s (..)',
    '3.4 MiB', '1,000'), in seconds for timings and bytes for sizes."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sp = {"id": next(self._ids), "layer": layer, "op": op,
              "parent": self._stack[-1]["id"] if self._stack else None}
        sp["group"] = f"perfbench-span-{sp['id']}"
        sc.setJobGroup(sp["group"], f"{layer}:{op}", False)
        self._stack.append(sp)
        sp["t0_ms"] = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall_s"] = time.perf_counter() - t0
            sp["t1_ms"] = time.time() * 1e3
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"],
                               self._stack[-1]["layer"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def resolve(self) -> list[dict]:
        """Attach status-store counters, Spark job time and self time to
        every recorded span; returns the spans."""
        if not self.spans:
            return []
        jsc = self.spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # older Spark: give the listener a moment
            time.sleep(0.5)
        store = jsc.statusStore()
        by_group: dict[str, list] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobGroup().isDefined():
                by_group.setdefault(j.jobGroup().get(), []).append(j)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        executions = sql.executionsList()
        exec_jobs = []
        for i in range(executions.size()):
            e = executions.apply(i)
            keys = e.jobs().keys().toList()
            exec_jobs.append((e, {keys.apply(k) for k in range(keys.size())}))

        children: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]] = children.get(sp["parent"], 0.0) \
                    + sp["wall_s"]
        for sp in self.spans:
            c = dict.fromkeys(("shuffle_read_bytes", "shuffle_write_bytes",
                               "spill_bytes", "executor_run_s",
                               "executor_cpu_s", "tasks"), 0.0)
            c.update(dict.fromkeys(SQL_METRICS.values(), 0.0))
            intervals = []
            job_ids = set()
            for j in by_group.get(sp["group"], []):
                job_ids.add(j.jobId())
                start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
                if start is not None and end is not None:
                    intervals.append((start, end))
                sids = j.stageIds()
                for k in range(sids.size()):
                    try:
                        s = store.lastStageAttempt(sids.apply(k))
                    except Exception:  # stage evicted or never submitted
                        continue
                    if s.status().toString() != "COMPLETE":
                        continue
                    c["shuffle_read_bytes"] += s.shuffleReadBytes()
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    c["executor_run_s"] += s.executorRunTime() / 1e3
                    c["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    c["tasks"] += s.numTasks()
            for e, ids in exec_jobs:
                if not ids or not ids <= job_ids:
                    continue
                values = sql.executionMetrics(e.executionId())
                ms = e.metrics()
                seen = set()
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    field = SQL_METRICS.get(pm.name())
                    if field is None or pm.accumulatorId() in seen:
                        continue
                    seen.add(pm.accumulatorId())
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        c[field] += parse_sql_metric(v.get())
            sp.update(c)
            sp["job_s"] = _union_s(intervals, sp["t0_ms"], sp["t1_ms"])
            sp["self_s"] = max(sp["wall_s"] - children.get(sp["id"], 0.0), 0.0)
            sp["driver_s"] = max(sp["wall_s"] - sp["job_s"], 0.0)
            sp["jobs"] = len(job_ids)
        return self.spans


def _union_s(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Seconds covered by the union of [start, end] ms intervals, clipped to
    [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
