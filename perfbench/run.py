#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload api_dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with no instrumentation; ``--trace 1`` wraps the engine's public
entry points in spans and reports the per-layer metrics instead. The
last line of standard output is the result object; the lines before it
(prefixed ``#``) name every metric the workload measured, with units.
See perfbench/README.md for the metrics and why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"api_dashboard": "perfbench.wl_api", "batch_pipeline": "perfbench.wl_batch"}


def _preflight() -> str | None:
    """Reason the engine cannot run here, or None."""
    if not os.path.isfile(os.path.join(ROOT, "lakerunner_spark", "__init__.py")):
        return f"engine package lakerunner_spark not found under {ROOT}"
    for f in ("tools/work_metrics.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, f)):
            return f"{f} not found under {ROOT}"
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        return f"missing dependency: {e}"
    return None


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def _start_spark(work: str):
    from lakerunner_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # a fixed heap: G1 grows it by wall-clock GC time, so on a shared host
    # peak memory would follow the host's load (README, "Workloads")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.checkpoint.dir": os.path.join(work, "checkpoints"),
        },
    )


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _peak_rss_mb(proc) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def _stop_spark(spark, proc) -> None:
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM is stopped below
                pass
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 scale: float = 1.0) -> dict:
    """Run one workload in this process; returns the raw result dict."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    import importlib

    from perfbench.common import Anchor, Context, cpu_times, granted
    from perfbench.trace import Tracer

    mod = importlib.import_module(WORKLOADS[name])
    c0 = cpu_times()
    spark = _start_spark(work)
    proc = _jvm_proc()
    try:
        ctx = Context(spark=spark, seed=seed, seconds=seconds,
                      tracer=Tracer(enabled=trace), work=work, scale=scale,
                      anchor=Anchor(spark, enabled=not trace))
        res = mod.run(ctx)
        res["peak_rss_mb"] = _peak_rss_mb(proc)
        res["named"]["cpu_granted"] = (granted(c0, cpu_times()), "")
        res["named"]["anchor_factor"] = (ctx.anchor.factor(), "")
        if trace:
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                         f"spans-{name}-{seed}.jsonl"))
    finally:
        _stop_spark(spark, proc)
        shutil.rmtree(work, ignore_errors=True)
    return res


def result_line(res: dict, trace: bool) -> dict:
    """The final JSON object: every end-to-end metric, or with ``trace``
    every per-layer metric (0 for a layer this workload never calls)."""
    from perfbench.metrics import END_TO_END, PER_LAYER

    if trace:
        got = res["per_layer"]
        unknown = set(got) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from the catalogue: {unknown}")
        metrics = {k: {"value": float(got[k][0]) if k in got else 0.0, "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        vals = dict(res, setup_s=statistics.median(res["setup_s"]))
        metrics = {k: {"value": float(vals[k]), "unit": u}
                   for k, (u, _better) in END_TO_END.items()}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny scale)")
    args = ap.parse_args(argv)
    why = _preflight()
    if why:
        print(f"perfbench: cannot run: {why}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run_workload(args.workload, args.seed, args.seconds,
                       bool(args.trace), args.scale)
    for f in res.get("failures", [])[:20]:
        print(f"# FAILED {f}")
    print("# " + args.workload + " " + " ".join(
        f"{k}={v[0]:.6g}{v[1] and ' ' + v[1]}"
        for k, v in res["named"].items()))
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
