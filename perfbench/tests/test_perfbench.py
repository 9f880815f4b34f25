"""The benchmark's own tests: generator determinism and shape, the output
check, metric names against BENCHMARK.json, and a scale-1 smoke run of each
payroll workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


def _write(tmp_path, name, lines) -> bytes:
    path = tmp_path / name
    gen.write_lines(str(path), lines)
    return path.read_bytes()


def test_same_seed_gives_identical_files(tmp_path):
    a, b = gen.PayrollGen(5, 2), gen.PayrollGen(5, 2)
    assert _write(tmp_path, "a.csv", a.base_lines()) == _write(tmp_path, "b.csv", b.base_lines())
    for k in (0, 3):
        assert _write(tmp_path, "a.csv", a.batch_lines(k)) == _write(tmp_path, "b.csv", b.batch_lines(k))
    other = gen.PayrollGen(6, 2)
    assert other.base_lines() != a.base_lines()


def test_base_csv_follows_the_fixture_contract(tmp_path):
    g = gen.PayrollGen(3, 1)
    path = tmp_path / "base.csv"
    gen.write_lines(str(path), g.base_lines())
    with open(path, newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert list(rows[0]) == gen.HEADER.split(",")
    assert len({r["emp_id"] for r in rows}) == 500
    assert 5000 < len(rows) < 6000
    assert len({(r["emp_id"], r["month"]) for r in rows}) == len(rows)
    months = sorted({r["month"] for r in rows})
    assert months == g.months_after(0) and all(len(m) == 7 for m in months)
    per_month = [sum(r["month"] == m for r in rows) for m in months]
    assert per_month[-1] < max(per_month)  # attrition
    assert any(r["dept"] != r["dept"].strip() for r in rows)  # padded names
    measures = ("bonus", "overtime", "deductions")
    assert any(not _number(r[c]) for r in rows for c in measures)  # non-numeric cells
    sizes = sorted(
        (sum(r["dept"].strip() == d for r in rows) for d in gen.DEPTS), reverse=True
    )
    assert sizes[0] > 0.3 * len(rows)  # one hot dept (Zipf)


def _number(cell: str) -> bool:
    try:
        float(cell)
    except ValueError:
        return False
    return True


def test_batch_overlaps_two_months_and_adds_one():
    g = gen.PayrollGen(3, 1)
    rows = [line.split(",") for line in g.batch_lines(1)[1:]]
    months = sorted({r[4] for r in rows})
    assert months == g.months_after(2)[-3:]  # two loaded months, one new
    assert any(r[1].strip() == "Dept001" for r in rows)
    assert g.depts_after(2)[-1] == "Dept001"


def test_oracle_replays_upserts(tmp_path):
    g = gen.PayrollGen(4, 1)
    base, batch = str(tmp_path / "base.csv"), str(tmp_path / "b0.csv")
    gen.write_lines(base, g.base_lines())
    gen.write_lines(batch, g.batch_lines(0))
    twin = oracle.Oracle(base)
    before = twin.counts(0)
    twin.apply_batch(batch)
    after = twin.counts(1)
    assert after["dim_dept"] == before["dim_dept"] + 1
    assert after["dim_employee"] > before["dim_employee"]
    assert after["fact_payroll"] > before["fact_payroll"]
    assert twin.answer(0, "summary", {"month": "2023-02"}) == oracle.NOT_FOUND
    status, body = twin.answer(1, "summary", {"month": "2025-09"})
    assert status == 200 and body["headcount"] > 0


def test_same_tolerates_summation_order_only():
    assert oracle.same({"a": 1.0, "n": 3}, {"a": 1.0 + 1e-12, "n": 3}) is None
    assert oracle.same({"a": 1.0}, {"a": 1.01}) is not None
    assert oracle.same({"n": 3}, {"n": 4}) is not None
    rows = [{"emp_id": "b", "z": 1.0}, {"emp_id": "a", "z": 1.0}]
    assert oracle.same(rows, rows[::-1]) is None


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    names = {w["name"] for w in spec["workloads"]}
    assert names <= set(workloads.WORKLOADS)


def _run(workload: str, trace: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", str(trace), "--scale", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail)["detail"], json.loads(result)


@pytest.mark.parametrize(
    "workload,trace,seconds",
    [("kpi_read", 0, 4), ("etl_load", 1, 4), ("kpi_mixed", 0, 9)],
)
def test_smoke_run(workload, trace, seconds):
    detail, out = _run(workload, trace, seconds)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] >= 1
    units = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert {n: m["unit"] for n, m in out["metrics"].items()} == units
    if workload != "kpi_mixed":  # reads racing the writer's swap may fail there
        assert out["failed"] == 0
    if trace:  # the spans are written out, one JSON object per line
        path = os.path.join(ROOT, detail["spans"])
        with open(path) as fh:
            spans = [json.loads(line) for line in fh]
        os.remove(path)
        assert {"etl.load_csv", "etl.write", "spark.action"} <= {s["name"] for s in spans}
