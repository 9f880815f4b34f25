"""Payroll service benchmark: one command, seeded inputs, checked answers.

    python3 perfbench/run.py --workload kpi_read --seed 1 --seconds 15 --trace 0

Workloads (closed loops in one process; BASELINE.md gives the reasons):

- ``kpi_read``: one HTTP client against ``api.serve_http`` over a warehouse
  loaded from the seeded CSV, sending a seeded, balanced mix of the four KPI
  endpoints with random months (about 5% missing), dept filters,
  thresholds and limits. Read-only.
- ``etl_load``: incremental batches applied one after another through
  ``PayrollWarehouse.load_csv`` to the warehouse the set-up loaded. Never
  touches ``plans.kpi`` or ``api``.
- ``kpi_mixed`` (not in BENCHMARK.json; run by hand): two ``kpi_read``
  clients while a writer applies ``etl_load``'s batches every few seconds
  in the same session. A read that fails is counted, not retried.

Set-up (counted in ``setup_s``) is everything from process start to the
first timed operation: Spark session, input generation, the initial
``load_csv`` into an empty root, and warm-up. Answers are checked after the
timed loop against a DuckDB twin (``oracle.py``). With ``--trace 1`` the
program's public functions are wrapped (``tracing.py``), Spark writes an event
log, and the per-layer metrics are printed instead of the end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value and unit). The line before it is a
``detail`` object with per-endpoint and per-kind figures.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv=None):
    ap = argparse.ArgumentParser(description="payroll service benchmark")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=workloads.SCALE)
    return ap.parse_args(argv)


def _work_dir() -> str:
    """Everything a run writes goes under the checkout's .perfbench_work."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "events", "inputs"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # shuffle and block files
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # local[nproc]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    return work


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop_spark(spark) -> int:
    """Stop the session and wait for its JVM; returns the JVM's exit code."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    code = proc.wait(timeout=60)
    gateway.shutdown()
    return code


def main(argv=None) -> int:
    args = _args(argv)
    work = _work_dir()
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run(args, work: str) -> int:
    sys.path.insert(0, ROOT)
    # the program under test; a checkout without it fails here, before any output
    from payroll_etl_fastapi_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=_spark_conf(work, bool(args.trace)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        result = workloads.run(spark, args, work, T_START)
    finally:
        jvm_exit = _stop_spark(spark)
    # the JVM was reaped by _stop_spark, so it is the largest waited-for child
    result.finish(work, jvm_exit, resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss)
    if result.tracer is not None:  # kept after the run, beside its work dir
        spans = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl")
        result.tracer.write(spans)
        result.detail["spans"] = os.path.relpath(spans, ROOT)
    print(json.dumps({"detail": result.detail}, sort_keys=True))
    print(json.dumps(result.line(bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
