"""The benchmark's workloads, their checks and their metrics."""

from __future__ import annotations

import http.client
import json
import os
import random
import resource
import statistics
import threading
import time
from collections import defaultdict
from urllib.parse import urlencode

import duckdb

import gen
import oracle
import tracing

WORKLOADS = ("kpi_read", "etl_load", "kpi_mixed")
SCALE = 10  # ×10 the reference shape: 5,000 employees, ~54k rows, ~4.9 MB
BATCHES = 40  # more incremental batches than one run can apply
WRITER_PERIOD_S = 4.0  # kpi_mixed: the writer applies one batch this often
# Untimed warm-up after the initial load. The JIT keeps compiling Spark's
# code paths for about the first 35 requests (their median latency falls
# ~25% before it levels off) and the first 5-8 batches; the KPI warm-up
# sends 28 requests from nproc concurrent clients to get through most of it
# quickly. Longer warm-ups do not fit the run budget.
WARMUP_BATCHES = 4
WARMUP_REQUESTS_PER_CLIENT = 7

# name → unit. BENCHMARK.json lists the same names and units.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "store_ratio": "ratio",
}
TABLES = ("dim_dept", "dim_employee", "fact_payroll")
ENDPOINTS = ("summary", "by_dept", "delta", "anomalies")
PER_LAYER = {
    "etl.read_ms": "ms",
    "etl.read_calls": "count",
    "kpi.plan_ms": "ms",
    **{f"kpi.plan_{e}_ms": "ms" for e in ENDPOINTS},
    **{f"catalyst.{p}_ms": "ms" for p in tracing.CATALYST_PHASES},
    "spark.action_ms": "ms",
    "spark.jobs": "count",
    "spark.job_ms": "ms",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "scan.files": "count",
    "scan.bytes": "bytes",
    "api.self_ms": "ms",
    "http.self_ms": "ms",
    "csv_ingest.read_ms": "ms",
    "upsert.plan_ms": "ms",
    "etl.load_frames_ms": "ms",
    **{f"etl.write_ms.{t}": "ms" for t in TABLES},
    **{f"etl.write_bytes.{t}": "bytes" for t in TABLES},
    **{f"etl.write_files.{t}": "count" for t in TABLES},
    "trace.op_p50_ms": "ms",
    "trace.self_ms": "ms",
}
PATHS = {
    "summary": "/kpi/summary",
    "by_dept": "/kpi/by-dept",
    "delta": "/kpi/delta",
    "anomalies": "/kpi/anomalies",
}
MISSING_MONTHS = ("2023-02", "2024-02", "2031-06")


class RequestMix:
    """Seeded KPI requests: each block of four holds every endpoint once, in
    a random order; months are random, about 5% of them absent."""

    def __init__(self, seed: int, stream: int, months, depts):
        self.rng = random.Random(f"requests:{seed}:{stream}")
        self.months = list(months)
        self.depts = list(depts)
        self.block: list[str] = []

    def _month(self) -> str:
        if self.rng.random() < 0.05:
            return self.rng.choice(MISSING_MONTHS)
        return self.rng.choice(self.months)

    def next(self) -> tuple[str, dict]:
        if not self.block:
            self.block = list(ENDPOINTS)
            self.rng.shuffle(self.block)
        endpoint = self.block.pop()
        if endpoint == "delta":
            return endpoint, {"m1": self._month(), "m2": self._month()}
        if endpoint == "anomalies":
            return endpoint, {
                "month": self._month(),
                "threshold": self.rng.choice((0.0, 2.0, 3.5, 10.0)),
                "limit": self.rng.choice((1, 10, 100)),
                "dept": self.rng.choice(self.depts) if self.rng.random() < 0.5 else None,
            }
        return endpoint, {"month": self._month()}


def http_get(port: int, endpoint: str, params: dict, op: str) -> tuple[int, object]:
    query = urlencode({k: v for k, v in params.items() if v is not None})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"{PATHS[endpoint]}?{query}", headers={tracing.OP_HEADER: op})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


class Result:
    """What one run measured; `finish` turns it into metrics."""

    def __init__(self, workload: str):
        self.workload = workload
        self.setup_s = 0.0
        self.measured_s = 0.0
        self.load_rows_per_s = 0.0
        self.store_ratio = 0.0
        self.ops: list[dict] = []  # one per timed operation
        self.errors = 0
        self.wrong = 0
        self.first_wrong = None
        self.tracer = None
        self.own_rss_kb = 0
        self.live_heap_mb = 0.0
        self.warm_counts: list[dict] = []  # counts returned by warm-up batches
        self._lock = threading.Lock()
        self.detail: dict = {"workload": workload}
        self.metrics: dict[str, float] = {}

    def op(self, kind: str, seconds: float, **rest) -> None:
        with self._lock:
            self.ops.append({"kind": kind, "s": seconds, **rest})

    def error(self, what: str) -> None:
        with self._lock:
            self.errors += 1
        print(f"perfbench: failed: {what}", flush=True)

    def mismatch(self, what: str) -> None:
        self.wrong += 1
        if self.first_wrong is None:
            self.first_wrong = what
            print(f"perfbench: wrong answer: {what}", flush=True)

    def primary(self) -> list[dict]:
        """The operations whose latency is the workload's op_p50_ms."""
        kind = "batch" if self.workload == "etl_load" else "request"
        return [o for o in self.ops if o["kind"] == kind and o.get("ok", True)]

    def op_p50_ms(self) -> float:
        """The median latency of each kind of primary operation (endpoint,
        or batch), averaged over the kinds: unlike a pooled median it does
        not jump between the fast and the slow endpoints' clusters."""
        by_kind = defaultdict(list)
        for o in self.primary():
            by_kind[o.get("endpoint", o["kind"])].append(o["s"])
        return statistics.fmean(statistics.median(v) for v in by_kind.values()) * 1000.0

    def finish(self, work: str, jvm_exit: int, jvm_rss_kb: int) -> None:
        """Reduce the run to metrics; `jvm_rss_kb` is the reaped JVM's peak."""
        self.metrics.update(
            {
                "setup_s": self.setup_s,
                "op_p50_ms": self.op_p50_ms(),
                "ops_per_s": len(self.primary()) / self.measured_s,
                "store_ratio": self.store_ratio,
            }
        )
        # Reported, not gated, because they spread too much across seeds:
        # the session's first load (mostly JIT compilation) 15-25%, the peak
        # RSS 14-21% (it follows the collector's heap sizing), the live heap
        # 28% (Spark's status store grows with the operations a run did).
        self.detail["load_rows_per_s"] = self.load_rows_per_s
        self.detail["peak_rss_mb"] = (self.own_rss_kb + jvm_rss_kb) / 1024.0
        self.detail["python_rss_mb"] = self.own_rss_kb / 1024.0
        self.detail["live_heap_mb"] = self.live_heap_mb
        self._detail(jvm_exit)
        if self.tracer is not None:
            self.metrics.update(per_layer(self, work))

    def _detail(self, jvm_exit: int) -> None:
        d = self.detail
        d["jvm_exit"] = jvm_exit
        d["attempted"] = len(self.ops)
        d["fail_frac"] = (self.errors + self.wrong) / max(1, len(self.ops))
        d["series_ms"] = [round(o["s"] * 1000.0) for o in self.ops]  # in completion order
        by_kind = defaultdict(list)
        for o in self.ops:
            if o.get("ok", True):
                by_kind[o.get("endpoint", o["kind"])].append(o["s"])
        for kind, xs in sorted(by_kind.items()):
            d[f"{kind}_n"] = len(xs)
            d[f"{kind}_p50_ms"] = statistics.median(xs) * 1000.0
        req = [o["s"] for o in self.ops if o["kind"] == "request" and o.get("ok", True)]
        if len(req) > 1:
            d["kpi_n"] = len(req)
            d["kpi_p90_ms"] = statistics.quantiles(req, n=10, method="inclusive")[8] * 1000.0
            d["kpi_rps"] = len(req) / self.measured_s
        batches = [o["s"] for o in self.ops if o["kind"] == "batch" and o.get("ok", True)]
        if batches:
            d["incr_load_s"] = statistics.median(batches)

    def line(self, traced: bool) -> dict:
        units = PER_LAYER if traced else END_TO_END
        return {
            "correct": self.wrong == 0,
            "attempted": len(self.ops),
            "failed": self.errors + self.wrong,
            "metrics": {n: {"value": self.metrics[n], "unit": u} for n, u in units.items()},
        }


# -- per-layer reduction ----------------------------------------------------


def per_layer(res: Result, work: str) -> dict[str, float]:
    """PER_LAYER metrics of a traced run: span totals and self times, Catalyst
    phases and event-log counters, averaged over the completed operations."""
    tracer = res.tracer
    spans = tracer.spans
    traced_ops = {o["op"]: o for o in res.ops if o.get("ok", True) and "op" in o}
    spans = [s for s in spans if s[0] in traced_ops]
    n = max(1, len(traced_ops))
    tot = tracing.totals(spans)
    own = tracing.self_times(spans)

    def layer_sum(table, name, ops=None):
        return sum(v for (op, layer), v in table.items() if layer == name and (ops is None or op in ops))

    out = {}
    out["etl.read_ms"] = layer_sum(tot, "etl.read") * 1000.0 / n
    out["etl.read_calls"] = sum(1 for s in spans if s[3] == "etl.read") / n
    requests = [o for o in traced_ops.values() if o["kind"] == "request"]
    n_req = max(1, len(requests))
    out["kpi.plan_ms"] = sum(layer_sum(tot, f"kpi.plan_{e}") for e in ENDPOINTS) * 1000.0 / n_req
    for e in ENDPOINTS:
        ops_e = {o["op"] for o in requests if o["endpoint"] == e}
        out[f"kpi.plan_{e}_ms"] = layer_sum(tot, f"kpi.plan_{e}", ops_e) * 1000.0 / max(1, len(ops_e))
    phases = defaultdict(float)
    for s in spans:
        if s[3] == "spark.action" and s[6]:
            for p, ms in s[6].items():
                phases[p] += ms
    for p in tracing.CATALYST_PHASES:
        out[f"catalyst.{p}_ms"] = phases[p] / n
    out["spark.action_ms"] = layer_sum(tot, "spark.action") * 1000.0 / n
    out["api.self_ms"] = layer_sum(own, "api") * 1000.0 / n_req
    out["http.self_ms"] = layer_sum(own, "http") * 1000.0 / n_req
    layers = sorted({name for _op, name in own})
    res.detail["self_ms_per_op"] = {name: layer_sum(own, name) * 1000.0 / n for name in layers}

    loads = [o for o in traced_ops.values() if o["kind"] == "batch"]
    n_load = max(1, len(loads))
    out["csv_ingest.read_ms"] = layer_sum(tot, "csv_ingest.read") * 1000.0 / n_load
    out["upsert.plan_ms"] = layer_sum(tot, "upsert.plan") * 1000.0 / n_load
    out["etl.load_frames_ms"] = layer_sum(tot, "etl.load_frames") * 1000.0 / n_load
    for t in TABLES:
        writes = [s for s in spans if s[3] == "etl.write" and s[6]["table"] == t]
        out[f"etl.write_ms.{t}"] = sum(s[5] - s[4] for s in writes) * 1000.0 / n_load
        out[f"etl.write_bytes.{t}"] = sum(s[6]["bytes"] for s in writes) / n_load
        out[f"etl.write_files.{t}"] = sum(s[6]["files"] for s in writes) / n_load

    events = os.listdir(os.path.join(work, "events"))
    groups = tracing.read_event_log(os.path.join(work, "events", events[0]))
    for key, name in (
        ("jobs", "spark.jobs"),
        ("job_ms", "spark.job_ms"),
        ("tasks", "spark.tasks"),
        ("shuffle_bytes", "spark.shuffle_bytes"),
        ("spill_bytes", "spark.spill_bytes"),
        ("scan_files", "scan.files"),
        ("scan_bytes", "scan.bytes"),
    ):
        out[name] = sum(groups[op][key] for op in traced_ops if op in groups) / n
    out["trace.op_p50_ms"] = res.metrics["op_p50_ms"]
    out["trace.self_ms"] = tracer.overhead_s * 1000.0 / n
    return out


# -- the run ----------------------------------------------------------------


def run(spark, args, work: str, t_start: float) -> Result:
    """Set up, run the timed loop, then check every answer."""
    from payroll_etl_fastapi_spark.etl import PayrollWarehouse

    res = Result(args.workload)
    g = gen.PayrollGen(args.seed, args.scale)
    inputs = os.path.join(work, "inputs")
    base = os.path.join(inputs, "base.csv")
    base_lines = g.base_lines()
    csv_bytes = gen.write_lines(base, base_lines)
    batches = []
    if args.workload != "kpi_read":
        for k in range(BATCHES):
            path = os.path.join(inputs, f"batch_{k:03d}.csv")
            gen.write_lines(path, g.batch_lines(k))
            batches.append(path)

    wh = PayrollWarehouse(spark, os.path.join(work, "wh"))
    t0 = time.perf_counter()
    counts0 = wh.load_csv(base)
    res.load_rows_per_s = (len(base_lines) - 1) / (time.perf_counter() - t0)
    res.store_ratio = sum(tracing.parquet_files(wh.path(t))[0] for t in TABLES) / csv_bytes
    res.detail["rows"] = len(base_lines) - 1
    res.detail["csv_bytes"] = csv_bytes
    if args.trace:
        res.tracer = tracing.Tracer(spark)

    if args.workload == "etl_load":
        applied = _etl_load(res, wh, batches, args, t_start)
    else:
        applied = _kpi(res, wh, g, batches, args, t_start)

    res.live_heap_mb = _live_heap_mb(spark)
    # the DuckDB twin below runs in this process: take the peak before it
    res.own_rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    # -- checks, outside every timed span --------------------------------
    twin = oracle.Oracle(base)
    _check_counts(res, "initial load", counts0, twin.counts(0))
    for path in batches[:applied]:
        twin.apply_batch(path)
    for k, counts in enumerate(res.warm_counts):
        _check_counts(res, f"batch {k}", counts, twin.counts(k + 1))
    for o in res.ops:
        if o["kind"] == "batch" and o.get("ok", True):
            _check_counts(res, f"batch {o['k']}", o["counts"], twin.counts(o["k"] + 1))
        elif o["kind"] == "request" and o.get("ok", True):
            _check_request(res, twin, o)
    _check_warehouse(res, twin, wh, applied)
    return res


def _live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the session retains
    (status stores, cached plans, broadcasts)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _etl_load(res: Result, wh, batches, args, t_start) -> int:
    """Batches 0..WARMUP_BATCHES-1 warm the incremental path in set-up; the
    following batches are timed."""
    res.warm_counts = [wh.load_csv(batches[k]) for k in range(WARMUP_BATCHES)]
    tracer = res.tracer
    if tracer is not None:
        tracer.install()
    res.setup_s = time.perf_counter() - t_start
    start = time.perf_counter()
    k = WARMUP_BATCHES
    while time.perf_counter() - start < args.seconds and k < len(batches):
        _apply(res, wh, batches, k)
        k += 1
    res.measured_s = time.perf_counter() - start
    if tracer is not None:
        tracer.uninstall()
    return k


def _apply(res: Result, wh, batches, k: int) -> None:
    """One timed incremental batch; a failure is counted, not retried."""
    op = f"batch-{k:03d}"
    tracer = res.tracer
    if tracer is not None:
        tracer.begin_op(op)
    t0 = time.perf_counter()
    try:
        counts = wh.load_csv(batches[k])
        res.op("batch", time.perf_counter() - t0, k=k, counts=counts, op=op)
    except Exception as exc:
        res.op("batch", time.perf_counter() - t0, k=k, ok=False, op=op)
        res.error(f"batch {k}: {exc!r}")
    finally:
        if tracer is not None:
            tracer.end_op()


def _kpi(res: Result, wh, g, batches, args, t_start) -> int:
    """kpi_read: one client. kpi_mixed: two clients and a writer that
    applies a batch every WRITER_PERIOD_S seconds. Returns batches applied."""
    from payroll_etl_fastapi_spark.api import PayrollService, serve_http

    mixed = args.workload == "kpi_mixed"
    server = serve_http(PayrollService(wh))
    port = server.server_address[1]
    serving = threading.Thread(target=server.serve_forever, name="http", daemon=True)
    serving.start()
    tracer = res.tracer
    state = {"started": 0, "applied": 0}
    try:
        _warm_up(port, args.seed, g)
        if tracer is not None:
            tracer.install()
            tracer.wrap_http(server)
        res.setup_s = time.perf_counter() - t_start
        start = time.perf_counter()
        deadline = start + args.seconds
        future = 3 if mixed else 0  # months and depts the writer may add

        def client(stream: int) -> None:
            mix = RequestMix(args.seed, stream, g.months_after(future), g.depts_after(future))
            i = 0
            while time.perf_counter() < deadline:
                endpoint, params = mix.next()
                op = f"req-{stream}-{i:05d}"
                lo = state["applied"]
                t0 = time.perf_counter()
                try:
                    status, body = http_get(port, endpoint, params, op)
                except Exception as exc:
                    res.op("request", time.perf_counter() - t0, endpoint=endpoint, ok=False, op=op)
                    res.error(f"{endpoint} {params}: {exc!r}")
                else:
                    res.op(
                        "request", time.perf_counter() - t0, endpoint=endpoint, params=params,
                        status=status, body=body, states=(lo, state["started"]), op=op,
                    )
                i += 1

        def writer() -> None:
            for k in range(len(batches)):
                due = start + (k + 1) * WRITER_PERIOD_S
                if due >= deadline:
                    return
                time.sleep(max(0.0, due - time.perf_counter()))
                state["started"] = k + 1
                _apply(res, wh, batches, k)
                state["applied"] = k + 1

        workers = [threading.Thread(target=client, args=(s,)) for s in range(2 if mixed else 1)]
        if mixed:
            workers.append(threading.Thread(target=writer))
        for w in workers:
            w.start()
        for w in workers:
            w.join()
        res.measured_s = time.perf_counter() - start
    finally:
        if tracer is not None:
            tracer.uninstall()
        server.shutdown()
        server.server_close()
        serving.join()
    return state["applied"]


def _warm_up(port: int, seed: int, g) -> None:
    """Untimed, unchecked requests from nproc concurrent clients."""

    def client(stream: int) -> None:
        mix = RequestMix(seed, -1 - stream, g.months_after(0), g.depts_after(0))
        for _ in range(WARMUP_REQUESTS_PER_CLIENT):
            http_get(port, *mix.next(), "warmup")

    clients = [
        threading.Thread(target=client, args=(i,)) for i in range(len(os.sched_getaffinity(0)))
    ]
    for c in clients:
        c.start()
    for c in clients:
        c.join()


# -- checks -----------------------------------------------------------------


def _check_counts(res: Result, what: str, got: dict, exp: dict) -> None:
    if got != exp:
        res.mismatch(f"{what}: counts {got} != {exp}")


def _check_request(res: Result, twin, o: dict) -> None:
    """A request must equal the twin's answer at some state the warehouse
    was in while the request ran (before or after an overlapping batch)."""
    lo, hi = o["states"]
    first = None
    for k in range(lo, hi + 1):
        status, body = twin.answer(k, o["endpoint"], o["params"])
        err = f"status {o['status']} != {status}" if o["status"] != status else oracle.same(o["body"], body)
        if err is None:
            return
        first = first or err
    res.mismatch(f"{o['endpoint']} {o['params']} states {lo}..{hi}: {first}")


def _check_warehouse(res: Result, twin, wh, applied: int) -> None:
    """The fact table on disk, read by DuckDB, against the twin's state."""
    sums = ", ".join(f"sum({c})" for c in oracle.MEASURES)
    got = duckdb.sql(
        f"""SELECT strftime(month, '%Y-%m'), count(*), {sums}
        FROM read_parquet('{wh.path("fact_payroll")}/*/*.parquet', hive_partitioning=true)
        GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    err = oracle.same([list(r) for r in got], [list(r) for r in twin.fact_digest(applied)])
    if err is not None:
        res.mismatch(f"warehouse after {applied} batches: {err}")
