"""Service-layer tests: golden anchors from BASELINE.md against the reference
CSV, plus the 404 and shape semantics of /root/reference/src/api.py and the
HTTP round trip against the seeded generated CSV, so those run in every
environment."""

from __future__ import annotations

import pytest

from payroll_etl_fastapi_spark.api import NotFound, PayrollService
from payroll_etl_fastapi_spark.etl import PayrollWarehouse


@pytest.fixture(scope="module")
def service(spark, reference_csv, tmp_path_factory):
    wh = PayrollWarehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.load_csv(reference_csv)
    return PayrollService(wh)


@pytest.fixture(scope="module")
def gen_service(spark, generated_csv, tmp_path_factory):
    wh = PayrollWarehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.load_csv(generated_csv)
    return PayrollService(wh)


def test_health(gen_service):
    assert gen_service.health() == {"status": "ok"}


def test_summary_golden(service):
    s = service.summary("2025-05")
    assert round(s["fot"], 2) == 696994.07
    assert round(s["taxes"], 2) == 139358.22
    assert round(s["gross"], 2) == 605727.98
    assert round(s["net"], 2) == 545892.41
    assert s["headcount"] == 440
    assert s["tax_share"] == pytest.approx(139358.22 / 605727.98, rel=1e-9)


def test_summary_missing_month_404(gen_service):
    with pytest.raises(NotFound):
        gen_service.summary("1999-01")


def test_by_dept_shape(gen_service):
    rows = gen_service.by_dept("2025-05")
    # `dept`, not dept_name — the reference JSON aliases it (api.py:49 AS dept)
    assert [r["dept"] for r in rows] == sorted(r["dept"] for r in rows)
    assert {"dept", "fot", "gross", "net", "fte", "headcount"} <= set(rows[0])
    with pytest.raises(NotFound):
        gen_service.by_dept("1999-01")


def test_delta_golden(service):
    d = service.delta("2025-04", "2025-05")
    assert round(d["company"]["gross_delta"], 2) == -12606.72
    assert round(d["company"]["bonus_delta"], 2) == -476.59
    assert round(d["company"]["overtime_delta"], 2) == 1301.92
    assert round(d["company"]["fot_delta"], 2) == -11781.39
    assert all("fot_delta" in r for r in d["by_dept"])


def test_anomalies_golden(service):
    rows = service.anomalies("2025-05", threshold=3.5, limit=10)
    assert len(rows) == 1
    r = rows[0]
    assert r["emp_id"] == "E100404" and r["dept"] == "IT"
    assert r["net"] == pytest.approx(2987.78)
    assert r["median_net"] == pytest.approx(1362.215)
    assert r["mad"] == pytest.approx(304.59)
    assert r["z"] == pytest.approx(3.5997360139860146)


def test_anomalies_dept_filter_and_missing_month(gen_service):
    rows = gen_service.anomalies("2025-05", threshold=0.0, limit=5, dept="IT")
    assert rows and all(r["dept"] == "IT" for r in rows)
    assert gen_service.anomalies("1999-01") == []  # reference returns [] (no 404)


def test_fastapi_wiring_import_gated(service):
    pytest.importorskip("fastapi")
    from payroll_etl_fastapi_spark.api import create_app

    app = create_app(service)
    paths = {r.path for r in app.routes}
    assert {"/health", "/kpi/summary", "/kpi/by-dept", "/kpi/delta", "/kpi/anomalies"} <= paths


def test_fastapi_wiring_with_stub(service, monkeypatch):
    """Drives create_app's route wiring and 404 translation even where the
    real fastapi package is absent: a minimal stand-in module (decorator
    registry + HTTPException) is injected into sys.modules. The real-package
    test above still runs wherever fastapi exists."""
    import sys
    import types

    fake = types.ModuleType("fastapi")

    class HTTPException(Exception):
        def __init__(self, status_code, detail=""):
            self.status_code, self.detail = status_code, detail

    class FakeFastAPI:
        def __init__(self, title=""):
            self.title, self.handlers = title, {}

        def get(self, path):
            def deco(fn):
                self.handlers[path] = fn
                return fn

            return deco

    fake.FastAPI, fake.HTTPException = FakeFastAPI, HTTPException
    monkeypatch.setitem(sys.modules, "fastapi", fake)

    from payroll_etl_fastapi_spark.api import create_app

    app = create_app(service)
    assert set(app.handlers) == {
        "/health", "/kpi/summary", "/kpi/by-dept", "/kpi/delta", "/kpi/anomalies"
    }
    assert app.handlers["/health"]() == {"status": "ok"}
    s = app.handlers["/kpi/summary"](month="2025-05")
    assert s["headcount"] == 440
    rows = app.handlers["/kpi/by-dept"](month="2025-05")
    assert rows and "dept" in rows[0]
    # NotFound must surface as HTTPException(404) through the route guard
    with pytest.raises(HTTPException) as exc:
        app.handlers["/kpi/summary"](month="1999-01")
    assert exc.value.status_code == 404


def test_stdlib_http_server_round_trip(gen_service):
    """Full HTTP round-trip through the stdlib shell: real sockets, real
    status codes — the endpoint layer exercised without fastapi installed.
    Each 200 body must equal the service method's own answer."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from payroll_etl_fastapi_spark.api import serve_http

    srv = serve_http(gen_service)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return r.status, json.loads(r.read())

        assert get("/health") == (200, {"status": "ok"})

        assert get("/kpi/summary?month=2025-05") == (200, gen_service.summary("2025-05"))
        assert get("/kpi/by-dept?month=2025-05") == (200, gen_service.by_dept("2025-05"))
        assert get("/kpi/anomalies?month=2025-05&threshold=3.5&limit=10") == (
            200,
            gen_service.anomalies("2025-05", threshold=3.5, limit=10),
        )
        assert get("/kpi/delta?m1=2025-04&m2=2025-05") == (
            200,
            gen_service.delta("2025-04", "2025-05"),
        )

        with pytest.raises(urllib.error.HTTPError) as e:
            get("/kpi/summary?month=1999-01")
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            get("/kpi/summary")  # missing required param -> FastAPI-style 422
        assert e.value.code == 422
        with pytest.raises(urllib.error.HTTPError) as e:
            get("/kpi/anomalies?month=2025-05&limit=notanint")
        assert e.value.code == 422
        with pytest.raises(urllib.error.HTTPError) as e:
            get("/nope")
        assert e.value.code == 404
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)
