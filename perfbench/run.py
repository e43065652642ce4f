"""filterz-spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload filter_index --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, against the ``filterz_spark``
package found there. The restartable part of set-up (session start,
native kernel load, seeded input generation and cache, exact ground truth)
is repeated ``SETUP_REPS`` times; ``setup_s`` is its median plus one
warm-up pass of every op. Then a closed loop with one client issues the workload's ops
round-robin for ``--seconds``, checking every result. ``--trace 1`` records
a span per op (half the occurrences; the others give the untraced wall for
the overhead) and reports the per-layer metrics instead.

The last stdout line is the JSON result; the line before it is a JSON
detail record (host, input sizes, per-op rates, workload-specific metrics,
check failures). All scratch files live under ``.perfbench_work/`` in the
checkout and the per-run part is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
WORKLOADS = {"filter_index": ("perfbench.filter_index", "FilterIndex"),
             "rollup_curation": ("perfbench.rollup_curation", "RollupCuration")}


def _configure_env(work: str, run_dir: str) -> None:
    """Fit the host through the library's own env knobs, before Spark or
    numpy start: one BLAS thread, a driver heap well under physical RAM,
    and every temp/local dir inside the checkout."""
    tmp = os.path.join(work, "tmp")  # kept across runs: native kernel cache
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    ram_gb = _ram_bytes() / 2**30
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 * 2**30


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _start_session(cores: int, work: str):
    from filterz_spark.spark.session import get_session
    tmp = os.path.join(work, "tmp")
    spark = get_session(
        cores=cores, app_name="perfbench", shuffle_partitions=16,
        **{"spark.ui.showConsoleProgress": "false",
           "spark.driver.extraJavaOptions":
               f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
           "spark.ui.retainedJobs": "100000",
           "spark.ui.retainedStages": "100000",
           "spark.sql.ui.retainedExecutions": "100000"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_all(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test uses a tiny one)")
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] upper bound; capped at nproc")
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    _configure_env(work, run_dir)
    try:
        import filterz_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    try:
        return _run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str) -> int:
    import importlib

    import numpy
    import pyarrow
    import pyspark

    from perfbench import harness, metrics
    from perfbench.spans import Tracer

    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)
    cores = max(1, min(_nproc(), args.cores))

    spark = None
    phases = {"start": [], "native": [], "generate": []}
    try:
        # the re-startable part of set-up, SETUP_REPS times: a fresh session
        # (the JVM stays up), native kernel load, inputs and ground truth
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _start_session(cores, work)
            t1 = time.perf_counter()
            from filterz_spark import native
            native_ok = native.available()
            t2 = time.perf_counter()
            wl = workload_cls(spark, args.seed, args.scale, run_dir)
            sizes = wl.prepare()
            t3 = time.perf_counter()
            for key, dt in zip(phases, (t1 - t0, t2 - t1, t3 - t2)):
                phases[key].append(dt)
        setup_reps = [sum(p) for p in zip(*phases.values())]
        # then one warm-up pass of every op on the last session: the first
        # call of each op is 1.5-3x slower than the rest
        tracer = Tracer(spark, enabled=False)
        ops = wl.ops()
        t0 = time.perf_counter()
        warm_samples = [harness.run_op(op, tracer, traced=False) for op in ops]
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(setup_reps) + warmup_s

        samples = harness.measure(ops, tracer, args.seconds, bool(args.trace))
        final_errors = wl.final_checks()
        attempted = len(warm_samples) + len(samples) + 1
        failed = sum(1 for s in warm_samples + samples if s.errors) \
            + (1 if final_errors else 0)
        errors = [e for s in warm_samples + samples for e in s.errors] + final_errors

        timed = [s for s in samples if not s.traced] if args.trace else samples
        rates = harness.median_rates(timed)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": {"nproc": _nproc(), "ram_bytes": _ram_bytes(),
                     "local_cores": cores,
                     "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                     "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__,
                     "native_available": native_ok},
            "inputs": sizes,
            "setup_reps_s": setup_reps,
            "setup_phases_s": phases,
            "warmup_s": warmup_s,
            "samples_per_op": {k: sum(1 for s in timed if s.op == k) for k in rates},
            "rows_per_s_per_op": rates,
            "workload_metrics": wl.detail(rates),
        }
        if args.trace:
            extras_ok = True
            tracer.enabled = True
            try:
                if hasattr(wl, "traced_extras"):
                    wl.traced_extras(tracer)
            except Exception as exc:
                extras_ok = False
                errors.append(f"traced extras raised {type(exc).__name__}: {exc}")
            tracer.enabled = False
            spans = tracer.resolve()
            values = {
                "spark.session.start_s": statistics.median(phases["start"]),
                "native.load_s": phases["native"][0],
                "setup.generate_s": statistics.median(phases["generate"]),
                "warmup_s": warmup_s,
                "trace.overhead_s": harness.tracing_overhead(samples),
                "trace.coverage": harness.coverage(samples, spans),
            }
            values.update(harness.layer_counters(
                spans, metrics.SPAN_LAYERS, [c for c, _ in metrics.SPAN_COUNTERS]))
            values.update(wl.layer_metrics(spans))
            catalogue = metrics.PER_LAYER
            detail["spans"] = [{k: v for k, v in sp.items() if k != "group"}
                               for sp in spans]
            detail["job_share"] = (
                sum(sp["job_s"] for sp in spans) / sum(sp["wall_s"] for sp in spans)
                if spans else 0.0)
            if not extras_ok:
                failed += 1
            attempted += 1
        else:
            values = harness.end_to_end(samples, setup_s)
            catalogue = [(n, u, b) for n, u, b, _ in metrics.END_TO_END]
        detail["errors"] = errors[:20]
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                        for n, u, _ in catalogue},
        }
        print(json.dumps(detail, default=float))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop_all(spark)


if __name__ == "__main__":
    sys.exit(main())
