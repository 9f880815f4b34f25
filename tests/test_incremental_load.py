"""Incremental-load semantics (SURVEY.md §7.3 hard part 3): a second batch
with new departments, changed employees, and new/updated facts must behave
like the reference's ON CONFLICT upserts + SERIAL dept ids. Also pins that
`PayrollWarehouse.read` reuses a table's opened DataFrame until the table
directory is swapped, by this warehouse or by another one on the same root,
and that a failed load releases the `dim_dept` frame it cached."""

from __future__ import annotations

import datetime as dt
import json
import sys
import threading
import urllib.error
import urllib.request

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from payroll_etl_fastapi_spark.api import PayrollService, serve_http
from payroll_etl_fastapi_spark.etl import STAR_TABLES, PayrollWarehouse
from payroll_etl_fastapi_spark.sources import csv_ingest


def _batch(spark, rows):
    """rows: (emp_id, dept, month, gross, net) → normalized frame."""
    df = spark.createDataFrame(
        [
            (e, d, m, str(g), "0", "0", "0", "0", str(n), "1", "160", "USD", "G1", "HQ")
            for e, d, m, g, n in rows
        ],
        "emp_id string, dept string, month string, gross string, bonus string, "
        "overtime string, taxes string, deductions string, net string, fte string, "
        "hours_worked string, currency string, job_grade string, location string",
    )
    return csv_ingest.normalize(df)


@pytest.fixture()
def warehouse(spark, tmp_path):
    wh = PayrollWarehouse(spark, str(tmp_path / "wh"))
    wh.load_frames(
        _batch(
            spark,
            [
                ("E1", "Alpha", "2025-01", 100, 80),
                ("E2", "Beta", "2025-01", 200, 160),
                ("E3", "Beta", "2025-01", 300, 240),
            ],
        )
    )
    return wh


def test_initial_dept_ids_are_sorted_serials(warehouse):
    depts = {r.dept_name: r.dept_id for r in warehouse.read("dim_dept").collect()}
    assert depts == {"Alpha": 1, "Beta": 2}


def test_new_dept_appends_after_max_id(spark, warehouse):
    # second batch: E2 moves to a brand-new dept; another new dept arrives too
    warehouse.load_frames(
        _batch(
            spark,
            [
                ("E2", "Gamma", "2025-02", 210, 170),
                ("E4", "Aardvark", "2025-02", 50, 40),
            ],
        )
    )
    depts = {r.dept_name: r.dept_id for r in warehouse.read("dim_dept").collect()}
    # existing ids stable; new depts get max+row_number in sorted-name order —
    # Aardvark sorts before Gamma but must NOT displace existing ids
    assert depts == {"Alpha": 1, "Beta": 2, "Aardvark": 3, "Gamma": 4}


def test_type1_scd_employee_and_fact_upsert(spark, warehouse):
    warehouse.load_frames(
        _batch(
            spark,
            [
                ("E2", "Gamma", "2025-02", 210, 170),   # dept change (type-1)
                ("E1", "Alpha", "2025-01", 999, 888),   # fact overwrite same month
            ],
        )
    )
    depts = {r.dept_id: r.dept_name for r in warehouse.read("dim_dept").collect()}
    emp = {r.emp_id: depts[r.dept_id] for r in warehouse.read("dim_employee").collect()}
    assert emp["E2"] == "Gamma"          # overwritten, not duplicated
    assert emp["E1"] == "Alpha"
    fact = warehouse.read("fact_payroll")
    assert fact.count() == 4             # 3 original + 1 new (E2 Feb); E1 Jan replaced
    e1 = fact.filter(
        (F.col("emp_id") == "E1") & (F.col("month") == F.lit(dt.date(2025, 1, 1)))
    ).collect()
    assert len(e1) == 1 and e1[0].gross == 999.0


def test_untouched_months_survive_incremental_merge(spark, warehouse):
    before = warehouse.read("fact_payroll").filter(
        F.col("month") == F.lit(dt.date(2025, 1, 1))
    ).count()
    warehouse.load_frames(_batch(spark, [("E9", "Beta", "2025-03", 10, 8)]))
    after = warehouse.read("fact_payroll")
    assert after.filter(F.col("month") == F.lit(dt.date(2025, 1, 1))).count() == before
    assert after.filter(F.col("month") == F.lit(dt.date(2025, 3, 1))).count() == 1


# -- read handles -------------------------------------------------------------

FEB = [("E1", "Alpha", "2025-02", 110, 90), ("E4", "Gamma", "2025-02", 50, 40)]


def test_unchanged_table_returns_same_handle(warehouse):
    for table in STAR_TABLES:
        assert warehouse.read(table) is warehouse.read(table)


def test_read_after_load_sees_new_rows(spark, warehouse):
    before = {t: warehouse.read(t) for t in STAR_TABLES}
    assert before["fact_payroll"].count() == 3
    warehouse.load_frames(_batch(spark, FEB))
    for table in STAR_TABLES:
        assert warehouse.read(table) is not before[table]
    assert warehouse.read("fact_payroll").count() == 5
    depts = {r.dept_name for r in warehouse.read("dim_dept").collect()}
    assert depts == {"Alpha", "Beta", "Gamma"}


def test_swap_by_another_warehouse_is_seen(spark, warehouse):
    """A second warehouse on the same root swaps the tables; the first
    instance (and a service over it) must stop serving the old directories
    although its own `_write` never ran."""
    service = PayrollService(warehouse)
    srv = serve_http(service)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def status(path):
        url = f"http://127.0.0.1:{srv.server_address[1]}{path}"
        try:
            with urllib.request.urlopen(url) as r:
                json.loads(r.read())
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    try:
        assert status("/kpi/summary?month=2025-01") == 200  # opens the handles
        assert status("/kpi/summary?month=2025-02") == 404
        old_fact = warehouse.read("fact_payroll")

        PayrollWarehouse(spark, warehouse.root).load_frames(_batch(spark, FEB))

        fact = warehouse.read("fact_payroll")
        assert fact is not old_fact and fact.count() == 5
        assert status("/kpi/summary?month=2025-02") == 200
        assert status("/kpi/by-dept?month=2025-02") == 200
        assert service.summary("2025-02")["headcount"] == 2
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)
    assert not t.is_alive()


def test_concurrent_reads_during_load_end_on_new_handles(spark, warehouse):
    """Readers race the in-process swap with no lock: a read may fail while
    its directory is being swapped, but once the load is done every table
    must read through a handle that sees the new rows."""
    done = threading.Event()

    def reader():
        while not done.is_set():
            for table in STAR_TABLES:
                try:
                    warehouse.read(table)
                except (PySparkException, Py4JJavaError):
                    pass  # opening a directory mid-swap may fail

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    readers = [threading.Thread(target=reader) for _ in range(6)]
    try:
        for r in readers:
            r.start()
        warehouse.load_frames(_batch(spark, FEB))
    finally:
        done.set()
        for r in readers:
            r.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(r.is_alive() for r in readers)
    assert warehouse.read("fact_payroll").count() == 5
    assert warehouse.read("dim_employee").count() == 4
    assert warehouse.read("dim_dept").count() == 3


def test_failed_load_releases_cached_dim_dept(spark, warehouse, monkeypatch):
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    real_write = warehouse._write

    def failing_write(df, table, *args, **kwargs):
        if table == "fact_payroll":
            raise RuntimeError("injected fact_payroll write failure")
        return real_write(df, table, *args, **kwargs)

    monkeypatch.setattr(warehouse, "_write", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        warehouse.load_frames(_batch(spark, FEB))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
