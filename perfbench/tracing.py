"""Traced mode: in-memory spans around the program's public functions, plus
Spark's own accounting (Catalyst phase timings, job groups, event log).

Spans are recorded from this file only: ``install`` replaces each public
function listed in ``LAYERS`` with a wrapper that times the call and links
it to the span that caused it (a per-thread stack). Every span carries the
id of the benchmark operation it belongs to — a request, a load or a batch —
and the same id is set as the Spark job group of the thread doing the work,
so the jobs, tasks, shuffle and scan bytes in the event log can be charged
to operations after the run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict

# (module path, attribute path, layer name). The layer names follow the
# program's modules; `spark.action` times the DataFrame action itself.
LAYERS = (
    ("payroll_etl_fastapi_spark.sources.csv_ingest", "read_payroll_csv", "csv_ingest.read"),
    ("payroll_etl_fastapi_spark.sources.csv_ingest", "normalize", "csv_ingest.read"),
    ("payroll_etl_fastapi_spark.etl", "upsert", "upsert.plan"),
    ("payroll_etl_fastapi_spark.etl", "PayrollWarehouse.read", "etl.read"),
    ("payroll_etl_fastapi_spark.etl", "PayrollWarehouse._write", "etl.write"),
    ("payroll_etl_fastapi_spark.etl", "PayrollWarehouse.load_frames", "etl.load_frames"),
    ("payroll_etl_fastapi_spark.etl", "PayrollWarehouse.load_csv", "etl.load_csv"),
    ("payroll_etl_fastapi_spark.plans.kpi", "kpi_summary", "kpi.plan_summary"),
    ("payroll_etl_fastapi_spark.plans.kpi", "kpi_by_dept", "kpi.plan_by_dept"),
    ("payroll_etl_fastapi_spark.plans.kpi", "kpi_delta", "kpi.plan_delta"),
    ("payroll_etl_fastapi_spark.plans.kpi", "kpi_anomalies", "kpi.plan_anomalies"),
    ("payroll_etl_fastapi_spark.api", "PayrollService.summary", "api"),
    ("payroll_etl_fastapi_spark.api", "PayrollService.by_dept", "api"),
    ("payroll_etl_fastapi_spark.api", "PayrollService.delta", "api"),
    ("payroll_etl_fastapi_spark.api", "PayrollService.anomalies", "api"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.action"),
)
OP_HEADER = "X-Bench-Op"
CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans in memory: (op, id, parent, name, start, end, attrs)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []
        self.overhead_s = 0.0  # time spent in tracing code, not in the program
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple] = []

    # -- operation and span bookkeeping ------------------------------------

    def begin_op(self, op: str) -> None:
        """Mark the calling thread as working for `op` and tag its Spark jobs."""
        t0 = time.perf_counter()
        self._local.op = op
        self._local.stack = []
        self.spark.sparkContext.setJobGroup(op, op, False)
        self._charge(t0)

    def end_op(self) -> None:
        t0 = time.perf_counter()
        self._local.op = None
        self.spark.sparkContext.setJobGroup("idle", "idle", False)
        self._charge(t0)

    def _charge(self, t0: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    def span(self, name: str, fn, args, kwargs, after=None):
        op = getattr(self._local, "op", None)
        if op is None:  # outside a benchmark operation (set-up, checks)
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        stack = self._local.stack
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        start = time.perf_counter()
        self._charge(t0)
        try:
            result = fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
        t1 = time.perf_counter()
        attrs = after(args, result) if after is not None else None
        with self._lock:
            self.spans.append((op, sid, parent, name, start, end, attrs))
            self.overhead_s += time.perf_counter() - t1
        return result

    def write(self, path: str) -> None:
        """The spans as JSON lines (times in perf_counter seconds)."""
        keys = ("op", "id", "parent", "name", "start", "end", "attrs")
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(dict(zip(keys, span))) + "\n")

    # -- installing wrappers -----------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, attr_path, layer in LAYERS:
            owner = importlib.import_module(mod_name)
            *parents, attr = attr_path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            original = owner.__dict__[attr]
            after = _AFTER.get(layer)
            wrapper = self._wrapper(layer, original, after)
            setattr(owner, attr, wrapper)
            self._undo.append((owner, attr, original))

    def _wrapper(self, layer, original, after):
        tracer = self

        def wrapped(*args, **kwargs):
            return tracer.span(layer, original, args, kwargs, after)

        wrapped.__wrapped__ = original
        return wrapped

    def wrap_http(self, server) -> None:
        """Time the HTTP handler of a `serve_http` server; the client's
        operation id arrives in the `X-Bench-Op` header."""
        handler = server.RequestHandlerClass
        original = handler.do_GET
        tracer = self

        def do_GET(self_):  # noqa: N802 (http.server API)
            tracer.begin_op(self_.headers.get(OP_HEADER, "untagged"))
            try:
                return tracer.span("http", original, (self_,), {})
            finally:
                tracer.end_op()

        handler.do_GET = do_GET
        self._undo.append((handler, "do_GET", original))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


def _catalyst_phases(args, result):
    """After an action: the executed plan's Catalyst phase durations (ms)."""
    phases = args[0]._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        summary = phases.get(name)
        if summary.isDefined():
            out[name] = summary.get().durationMs()
    return out


def parquet_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under `path`."""
    sizes = [
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    ]
    return sum(sizes), len(sizes)


def _written(args, result):
    """After a table write: the table name, its bytes and file count."""
    wh, table = args[0], args[2]
    total, files = parquet_files(wh.path(table))
    return {"table": table, "bytes": total, "files": files}


_AFTER = {"spark.action": _catalyst_phases, "etl.write": _written}


# -- reducing spans ---------------------------------------------------------


def self_times(spans) -> dict[tuple[str, str], float]:
    """(op, layer) → self seconds: span duration minus its children's."""
    child = defaultdict(float)
    for _op, _sid, parent, _name, start, end, _a in spans:
        if parent:
            child[parent] += end - start
    out = defaultdict(float)
    for op, sid, _parent, name, start, end, _a in spans:
        out[(op, name)] += (end - start) - child[sid]
    return out


def totals(spans) -> dict[tuple[str, str], float]:
    """(op, layer) → total seconds of the layer's spans."""
    out = defaultdict(float)
    for op, _sid, _parent, name, start, end, _a in spans:
        out[(op, name)] += end - start
    return out


# -- the event log ----------------------------------------------------------


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, job_ms, tasks, shuffle and spill bytes, and the
    files and bytes the scans read (from the SQL driver metrics)."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metric_name: dict[int, str] = {}
    exec_metrics: list[tuple[int, int, int]] = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def plan_metrics(info):
        for m in info.get("metrics", ()):
            metric_name[m["accumulatorId"]] = m["name"]
        for c in info.get("children", ()):
            plan_metrics(c)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "none"
                jid = e["Job ID"]
                job_group[jid] = group
                job_start[jid] = e["Submission Time"]
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
                out[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                out[job_group[jid]]["job_ms"] += e["Completion Time"] - job_start[jid]
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"], "none")
                tm = e.get("Task Metrics") or {}
                out[group]["tasks"] += 1
                out[group]["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                out[group]["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            elif "sparkPlanInfo" in e:
                plan_metrics(e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, value in e["accumUpdates"]:
                    exec_metrics.append((e["executionId"], acc, value))
    for eid, acc, value in exec_metrics:
        name = metric_name.get(acc)
        group = exec_group.get(eid, "none")
        if name == "number of files read":
            out[group]["scan_files"] += value
        elif name == "size of files read":
            out[group]["scan_bytes"] += value
    return out
