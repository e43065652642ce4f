"""Closed-loop measurement: one client (the Spark driver) issues each
operation after the previous one finishes, round-robin over the workload's
ops."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

from perfbench.spans import Tracer


@dataclass
class Op:
    """One timed library call. ``rows`` may be a callable, evaluated just
    before the call (for ops that cycle over inputs of different sizes)."""
    name: str
    layer: str
    role: str  # "build" or "query"
    rows: int | Callable[[], int]
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]


@dataclass
class Sample:
    op: str
    role: str
    rows: int
    wall_s: float
    traced: bool
    errors: list[str]


def run_op(op: Op, tracer: Tracer, traced: bool) -> Sample:
    rows = op.rows() if callable(op.rows) else op.rows
    tracer.enabled = traced
    t0 = time.perf_counter()
    try:
        with tracer.span(op.layer, op.name):
            result = op.run()
    except Exception as exc:  # a failed op is counted, not fatal
        wall = time.perf_counter() - t0
        return Sample(op.name, op.role, rows, wall, traced,
                      [f"{op.name} raised {type(exc).__name__}: {exc}"])
    wall = time.perf_counter() - t0
    try:
        errors = list(op.check(result))
    except Exception as exc:
        errors = [f"{op.name} check raised {type(exc).__name__}: {exc}"]
    return Sample(op.name, op.role, rows, wall, traced, errors)


def measure(ops: list[Op], tracer: Tracer, seconds: float,
            trace: bool) -> list[Sample]:
    """Round-robin over ``ops`` until ``seconds`` have passed, finishing at
    least one full cycle (two when tracing: occurrences alternate untraced
    and traced, so tracing overhead is traced minus untraced wall)."""
    samples = []
    min_ops = len(ops) * (2 if trace else 1)
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < deadline:
        occurrence = i // len(ops)
        samples.append(run_op(ops[i % len(ops)], tracer,
                              traced=trace and occurrence % 2 == 1))
        i += 1
    tracer.enabled = False
    return samples


def median_walls(samples: list[Sample], traced: bool | None = None) -> dict:
    """op name -> median wall seconds (optionally only traced/untraced)."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        if traced is None or s.traced == traced:
            by_op.setdefault(s.op, []).append(s.wall_s)
    return {k: statistics.median(v) for k, v in by_op.items()}


def median_rates(samples: list[Sample]) -> dict:
    """op name -> median rows/s over that op's samples."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s.op, []).append(s.rows / s.wall_s)
    return {k: statistics.median(v) for k, v in by_op.items()}


def end_to_end(samples: list[Sample], setup_s: float) -> dict:
    """Per op: median wall and median rows. A role's rate is its ops' rows
    over their walls, so every op counts in proportion to its time."""
    walls = median_walls(samples)
    rows: dict[str, list[int]] = {}
    roles = {}
    for s in samples:
        rows.setdefault(s.op, []).append(s.rows)
        roles[s.op] = s.role

    def rate(role: str) -> float:
        ops = [k for k in walls if roles[k] == role]
        return (sum(statistics.median(rows[k]) for k in ops)
                / sum(walls[k] for k in ops))

    return {
        "setup_s": setup_s,
        "cycle_s": sum(walls.values()),
        "build_rows_per_s": rate("build"),
        "query_rows_per_s": rate("query"),
    }


def span_medians(spans: list[dict]) -> dict:
    """op -> {field: median over that op's spans} for numeric span fields."""
    by_op: dict[str, list[dict]] = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    out = {}
    for op, group in by_op.items():
        fields = {k for sp in group for k, v in sp.items()
                  if isinstance(v, (int, float)) and not isinstance(v, bool)}
        out[op] = {"layer": group[0]["layer"], "n": len(group),
                   **{f: statistics.median(sp.get(f, 0.0) for sp in group)
                      for f in fields}}
    return out


def layer_counters(spans: list[dict], layers: list[str],
                   counters: list[str]) -> dict:
    """``<layer>.<counter>`` per cycle: per-op medians summed over the ops of
    that layer."""
    med = span_medians(spans)
    out = {}
    for layer in layers:
        for c in counters:
            out[f"{layer}.{c}"] = sum(m.get(c, 0.0) for m in med.values()
                                      if m["layer"] == layer)
    return out


def tracing_overhead(samples: list[Sample]) -> float:
    """Sum over op kinds of median traced wall minus median untraced wall."""
    on, off = median_walls(samples, True), median_walls(samples, False)
    return sum(on[k] - off[k] for k in on if k in off)


def coverage(samples: list[Sample], spans: list[dict]) -> float:
    """Share of the traced ops' harness-measured wall covered by their
    spans (each span is the library call; the rest is harness time)."""
    wall = sum(s.wall_s for s in samples if s.traced)
    covered = sum(sp["wall_s"] for sp in spans if sp["parent"] is None
                  and not sp.get("extra"))
    return covered / wall if wall else 0.0

