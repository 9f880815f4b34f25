"""Seeded payroll CSV generator (FIXTURES.md §1 contract).

Writes the reference CSV's header and column order, ``YYYY-MM`` months,
attrition and joiners, whitespace-padded dept names, a few non-numeric
measure cells, and Zipf-sized departments so the exact per-dept
``percentile`` of the anomalies endpoint has one hot group.

``scale`` multiplies the reference shape (scale 1: 6 depts, 500 employees,
about 5.5k rows over 2024-09..2025-08). ``batch_lines(k)`` is the k-th incremental
batch: about 10% of the base employees over the two newest months already
loaded (changed measures, so they upsert) plus the next new month, with new
employees in one new dept. Batch k assumes batches 0..k-1 were applied.

The same ``(seed, scale)`` gives byte-identical files: all randomness comes
from ``random.Random`` streams keyed by seed and purpose, and every number
is written with a fixed format. The benchmark writes the files into its
run's temporary directory.
"""

from __future__ import annotations

import random

HEADER = (
    "emp_id,dept,job_grade,fte,month,gross,bonus,overtime,taxes,"
    "deductions,net,hours_worked,location,currency"
)
DEPTS = ("Finance", "HR", "IT", "Logistics", "Production", "Sales")
GRADES = (("Junior", 0.45, 900.0), ("Middle", 0.35, 1600.0), ("Senior", 0.20, 2500.0))
LOCATIONS = ("HQ", "Plant", "Warehouse")
FIRST_MONTH = (2024, 9)
N_MONTHS = 12
EMP_PER_SCALE = 500
ZIPF_S = 1.3  # dept size ∝ 1/rank^s: the top dept holds about half the employees


def month_str(index: int) -> str:
    """'YYYY-MM' of the month `index` months after FIRST_MONTH."""
    y, m = FIRST_MONTH
    total = y * 12 + (m - 1) + index
    return f"{total // 12:04d}-{total % 12 + 1:02d}"


class PayrollGen:
    """Deterministic payroll inputs for one (seed, scale)."""

    def __init__(self, seed: int, scale: int = 1):
        if scale < 1:
            raise ValueError("scale must be >= 1")
        self.seed = seed
        self.scale = scale
        self.n_emp = EMP_PER_SCALE * scale
        rng = self._rng("employees")
        order = list(DEPTS)
        rng.shuffle(order)  # which dept is hot depends on the seed
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(order))]
        self.employees = []  # (emp_id, dept, grade, base_gross, fte, location, first, last)
        for i in range(self.n_emp):
            dept = rng.choices(order, weights)[0]
            grade, base = self._grade(rng)
            first = 0 if rng.random() < 0.9 else rng.randint(1, 6)
            last = N_MONTHS - 1 if rng.random() < 0.84 else rng.randint(first, N_MONTHS - 2)
            self.employees.append(
                (
                    f"E{100000 + i}",
                    dept,
                    grade,
                    base,
                    rng.randint(71, 100) / 100.0,
                    rng.choice(LOCATIONS),
                    first,
                    last,
                )
            )

    def _rng(self, purpose: str) -> random.Random:
        return random.Random(f"{self.seed}:{self.scale}:{purpose}")

    @staticmethod
    def _grade(rng: random.Random) -> tuple[str, float]:
        x = rng.random()
        for grade, p, base in GRADES:
            if x < p:
                return grade, base * (0.8 + 0.4 * rng.random())
            x -= p
        return GRADES[-1][0], GRADES[-1][2]

    @staticmethod
    def _row(rng: random.Random, emp: tuple, month: str) -> str:
        emp_id, dept, grade, base, fte, location, _, _ = emp
        gross = base * (1.0 + rng.gauss(0.0, 0.04))
        bonus = 0.0 if rng.random() < 0.6 else rng.uniform(20.0, 1900.0)
        overtime = 0.0 if rng.random() < 0.7 else rng.uniform(5.0, 436.0)
        taxes = gross * 0.23 * (1.0 + rng.gauss(0.0, 0.02))
        deductions = rng.uniform(0.0, 137.0)
        net = gross + bonus + overtime - taxes - deductions + rng.gauss(0.0, 25.0)
        if rng.random() < 0.004:  # rare outliers give the anomalies endpoint rows
            net *= rng.choice((0.3, 2.5, 4.0))
        cells = [
            f"{gross:.2f}",
            f"{bonus:.2f}",
            f"{overtime:.2f}",
            f"{taxes:.2f}",
            f"{deductions:.2f}",
            f"{net:.2f}",
            f"{rng.uniform(94.0, 187.0):.1f}",
        ]
        if rng.random() < 0.002:  # non-numeric cell → coerced to 0 on load
            cells[rng.choice((1, 2, 4))] = rng.choice(("n/a", "", "-"))
        if rng.random() < 0.03:  # padded dept name → trimmed on load
            dept = rng.choice((f" {dept}", f"{dept} ", f"  {dept}  "))
        return (
            f"{emp_id},{dept},{grade},{fte:.2f},{month},{cells[0]},{cells[1]},"
            f"{cells[2]},{cells[3]},{cells[4]},{cells[5]},{cells[6]},{location},USD"
        )

    def base_lines(self) -> list[str]:
        rng = self._rng("base")
        lines = [HEADER]
        for mi in range(N_MONTHS):
            m = month_str(mi)
            for emp in self.employees:
                if emp[6] <= mi <= emp[7]:
                    lines.append(self._row(rng, emp, m))
        return lines

    def batch_lines(self, k: int) -> list[str]:
        """Incremental batch k: ~10% of employees re-sent for the two newest
        loaded months (changed measures) and sent for one new month, plus
        new employees (1%, at least 3) in the new dept ``Dept{k:03d}``."""
        rng = self._rng(f"batch{k}")
        newest = N_MONTHS - 1 + k  # newest month index loaded before batch k
        months = (month_str(newest - 1), month_str(newest), month_str(newest + 1))
        picked = rng.sample(self.employees, max(1, self.n_emp // 10))
        picked.sort(key=lambda e: e[0])
        n_new = max(3, self.n_emp // 100)
        new_dept = f"Dept{k:03d}"
        joiners = []
        for j in range(n_new):
            grade, base = self._grade(rng)
            dept = new_dept if j % 2 == 0 else rng.choice(DEPTS)
            joiners.append(
                (
                    f"N{k:03d}{j:06d}",
                    dept,
                    grade,
                    base,
                    rng.randint(71, 100) / 100.0,
                    rng.choice(LOCATIONS),
                    0,
                    0,
                )
            )
        lines = [HEADER]
        for m in months:
            for emp in picked:
                lines.append(self._row(rng, emp, m))
        for emp in joiners:
            lines.append(self._row(rng, emp, months[-1]))
        return lines

    def months_after(self, n_batches: int) -> list[str]:
        """Months present once `n_batches` batches were applied."""
        return [month_str(i) for i in range(N_MONTHS + n_batches)]

    def depts_after(self, n_batches: int) -> list[str]:
        """Dept names (trimmed) once `n_batches` batches were applied."""
        return sorted(DEPTS) + [f"Dept{k:03d}" for k in range(n_batches)]


def write_lines(path: str, lines: list[str]) -> int:
    """Write the lines with '\\n' endings; returns the file size in bytes."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
