"""Tiny-scale self-test of the benchmark contract (local[2], ~3 minutes).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json matches ``metrics.benchmark_json()``; that every
workload, untraced and traced, exits 0 with a last stdout line holding
exactly ``correct``/``attempted``/``failed``/``metrics`` and every named
end-to-end (resp. per-layer) metric with its unit; and that the benchmark
exits non-zero without a result when the library is not beside it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

# metrics a workload must report as non-zero in its traced run
TOUCHED = {
    "filter_index": ["spark.build.executor_run_s", "spark.build.python_run_s",
                     "filters.build_kernel_s.xorf3_16", "spark.probe.wall_s"],
    "rollup_curation": ["spark.merge.wall_s.hll", "spark.merge.partial_s",
                        "spark.sketch_store.bytes_written",
                        "sketches.update_rows_per_s.kll",
                        "ops.pipeline.curate_s", "ops.dedup.lsh_pairs_s",
                        "ops.text.normalize_s", "ops.dedup.dup_recall"],
}


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def contract_errors(doc: dict, size: int) -> list[str]:
    """Limits BENCHMARK.json must meet."""
    errors = []
    if size > 64 * 1024:
        errors.append("BENCHMARK.json over 64 KiB")
    if not 2 <= len(doc["workloads"]) <= 8:
        errors.append("2 to 8 workloads")
    if not 1 <= len(doc["end_to_end"]) <= 16 or not 1 <= len(doc["per_layer"]) <= 128:
        errors.append("metric counts out of range")
    if not isinstance(doc["run_seconds"], int) or not 1 <= doc["run_seconds"] <= 60:
        errors.append("run_seconds")
    names = [w["name"] for w in doc["workloads"]] + [
        m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    errors += [f"bad name {n}" for n in names if not NAME.match(n)]
    if len(set(names)) != len(names):
        errors.append("duplicate names")
    errors += [f"why too long: {w['name']}" for w in doc["workloads"]
               if len(w["why"]) > 200 or "\n" in w["why"]]
    for m in doc["end_to_end"] + doc["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errors.append(f"bad unit/better: {m['name']}")
    errors += [f"bound: {m['name']}" for m in doc["end_to_end"]
               if not 0 < m["bound"] <= 0.25]
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower" \
            or setup[0]["bound"] < max(m["bound"] for m in doc["end_to_end"]):
        errors.append("setup_s must be s, lower, with the largest bound")
    return errors


def main() -> int:
    failures = []
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        doc = json.load(f)
    if doc != metrics.benchmark_json():
        failures.append("BENCHMARK.json differs from metrics.benchmark_json()")
    failures += contract_errors(doc, os.path.getsize(path))

    for name, _ in metrics.WORKLOADS:
        for trace in (0, 1):
            p = _run(["--workload", name, "--seed", "7", "--seconds", "1",
                      "--trace", str(trace), "--scale", "0.1", "--cores", "2"],
                     ROOT)
            tag = f"{name} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            result = json.loads(p.stdout.strip().split("\n")[-1])
            want = ([(n, u) for n, u, _, _ in metrics.END_TO_END] if trace == 0
                    else [(n, u) for n, u, _ in metrics.PER_LAYER])
            got = result.get("metrics", {})
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(result)}")
            if not result.get("correct") or result.get("failed"):
                detail = json.loads(p.stdout.strip().split("\n")[-2])
                failures.append(f"{tag}: not correct: {detail['errors']}")
            if [k for k, _ in want] != list(got):
                failures.append(f"{tag}: metric names differ from the catalogue")
            for n, u in want:
                if n in got and got[n]["unit"] != u:
                    failures.append(f"{tag}: {n} unit {got[n]['unit']} != {u}")
            zero = [n for n in (TOUCHED[name] if trace else [k for k, _ in want])
                    if not got.get(n, {}).get("value")]
            if zero:
                failures.append(f"{tag}: zero or missing: {zero}")
            print(f"ok? {tag}: {not any(f.startswith(tag) for f in failures)}",
                  flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    env = dict(os.environ, PYTHONPATH="")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "filter_index", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=180, env=env)
    if p.returncode == 0 or p.stdout.strip():
        failures.append("without the library: exit 0 or a printed result")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("selftest", "passed" if not failures else f"failed ({len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
