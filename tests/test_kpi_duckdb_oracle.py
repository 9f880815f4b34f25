"""Edge-month KPI cross-checks: DuckDB replays the reference SQL over a
payroll CSV and the Spark engine must agree — covering first/last months
and a year boundary, where no screenshot goldens exist (SURVEY.md §5.3.2).
The CSV is the seeded generated one, so these run in every environment."""

from __future__ import annotations

import duckdb
import pytest

from payroll_etl_fastapi_spark.api import PayrollService
from payroll_etl_fastapi_spark.etl import PayrollWarehouse

MONTHS = ["2024-09", "2025-08", "2025-01"]  # first, last, year boundary


@pytest.fixture(scope="module")
def service(spark, generated_csv, tmp_path_factory):
    wh = PayrollWarehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.load_csv(generated_csv)
    return PayrollService(wh)


@pytest.fixture(scope="module")
def duck(generated_csv):
    con = duckdb.connect()
    con.sql(
        f"""
        CREATE VIEW fact AS
        SELECT emp_id, trim(dept) AS dept,
               CAST(substr(month, 1, 7) || '-01' AS DATE) AS month,
               COALESCE(TRY_CAST(gross AS DOUBLE), 0) AS gross,
               COALESCE(TRY_CAST(bonus AS DOUBLE), 0) AS bonus,
               COALESCE(TRY_CAST(overtime AS DOUBLE), 0) AS overtime,
               COALESCE(TRY_CAST(taxes AS DOUBLE), 0) AS taxes,
               COALESCE(TRY_CAST(net AS DOUBLE), 0) AS net,
               COALESCE(TRY_CAST(fte AS DOUBLE), 0) AS fte
        FROM read_csv_auto('{generated_csv}', all_varchar=true)
        """
    )
    return con


@pytest.mark.parametrize("month", MONTHS)
def test_summary_matches_duckdb(service, duck, month):
    got = service.summary(month)
    exp = duck.sql(
        f"""
        SELECT sum(gross + bonus + overtime) AS fot, sum(taxes) AS taxes,
               sum(gross) AS gross, sum(net) AS net, sum(fte) AS fte,
               count(DISTINCT emp_id) AS headcount
        FROM fact WHERE month = DATE '{month}-01'
        """
    ).fetchone()
    assert got["fot"] == pytest.approx(exp[0], rel=1e-9)
    assert got["taxes"] == pytest.approx(exp[1], rel=1e-9)
    assert got["gross"] == pytest.approx(exp[2], rel=1e-9)
    assert got["net"] == pytest.approx(exp[3], rel=1e-9)
    assert got["fte"] == pytest.approx(exp[4], rel=1e-9)
    assert got["headcount"] == exp[5]


@pytest.mark.parametrize("month", MONTHS)
def test_by_dept_matches_duckdb(service, duck, month):
    got = {r["dept"]: r for r in service.by_dept(month)}
    exp = duck.sql(
        f"""
        SELECT dept, sum(gross + bonus + overtime) AS fot, sum(net) AS net,
               count(DISTINCT emp_id) AS headcount
        FROM fact WHERE month = DATE '{month}-01'
        GROUP BY dept ORDER BY dept
        """
    ).fetchall()
    assert sorted(got) == [r[0] for r in exp]
    for dept, fot, net, headcount in exp:
        assert got[dept]["fot"] == pytest.approx(fot, rel=1e-9)
        assert got[dept]["net"] == pytest.approx(net, rel=1e-9)
        assert got[dept]["headcount"] == headcount


def test_delta_year_boundary_matches_duckdb(service, duck):
    got = service.delta("2024-12", "2025-01")
    exp = duck.sql(
        """
        SELECT sum(CASE WHEN month = DATE '2025-01-01' THEN gross ELSE 0 END)
             - sum(CASE WHEN month = DATE '2024-12-01' THEN gross ELSE 0 END) AS gross_delta
        FROM fact WHERE month IN (DATE '2024-12-01', DATE '2025-01-01')
        """
    ).fetchone()
    assert got["company"]["gross_delta"] == pytest.approx(exp[0], rel=1e-9)
