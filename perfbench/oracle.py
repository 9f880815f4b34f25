"""DuckDB twin of the payroll load and the four KPI endpoints.

The twin reads the same generated CSV files the program loads, normalizes
them the way FIXTURES.md §1 specifies (trimmed dept, first-of-month date,
non-numeric measures → 0) and replays incremental batches as upserts:
facts on (emp_id, month), employees on emp_id, depts insert-if-absent.
``answer(state, endpoint, params)`` returns what the HTTP service should
answer after ``state`` batches were applied: ``(status, body)``.
"""

from __future__ import annotations

import math

import duckdb

MEASURES = ("gross", "bonus", "overtime", "taxes", "deductions", "net", "fte", "hours_worked")
NOT_FOUND = (404, {"detail": "No data for month"})


def _normalized(path: str) -> str:
    cols = ", ".join(f"coalesce(try_cast({c} AS DOUBLE), 0) AS {c}" for c in MEASURES)
    return f"""
        SELECT emp_id, trim(dept) AS dept, job_grade, location,
               CAST(substr(month, 1, 7) || '-01' AS DATE) AS month, {cols}
        FROM read_csv('{path}', header=true, all_varchar=true)
    """


class Oracle:
    """Warehouse states 0..n: the base CSV, then one batch applied per state."""

    def __init__(self, base_csv: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE raw0 AS {_normalized(base_csv)}")
        self._state(0)
        self.states = 1
        self._memo: dict[tuple, tuple] = {}

    def _state(self, k: int) -> None:
        """fact_k / emp_k / dept_k from raw_k (fresh) or from state k-1 + raw_k."""
        c = self.con
        first = f"""
            SELECT emp_id, dept, job_grade, location FROM (
              SELECT *, row_number() OVER (PARTITION BY emp_id ORDER BY month) AS rn
              FROM raw{k}) WHERE rn = 1
        """
        if k == 0:
            c.execute("CREATE TABLE fact0 AS SELECT * EXCLUDE (dept, job_grade, location) FROM raw0")
            c.execute(f"CREATE TABLE emp0 AS {first}")
        else:
            p = k - 1
            c.execute(
                f"""CREATE TABLE fact{k} AS
                SELECT * FROM fact{p} f WHERE NOT EXISTS (
                  SELECT 1 FROM raw{k} r WHERE r.emp_id = f.emp_id AND r.month = f.month)
                UNION ALL SELECT * EXCLUDE (dept, job_grade, location) FROM raw{k}"""
            )
            c.execute(
                f"""CREATE TABLE emp{k} AS
                SELECT * FROM emp{p} WHERE emp_id NOT IN (SELECT emp_id FROM raw{k})
                UNION ALL {first}"""
            )

    def apply_batch(self, batch_csv: str) -> None:
        k = self.states
        self.con.execute(f"CREATE TABLE raw{k} AS {_normalized(batch_csv)}")
        self._state(k)
        self.states += 1

    # -- counts and tables -------------------------------------------------

    def counts(self, k: int) -> dict[str, int]:
        q = lambda sql: self.con.execute(sql).fetchone()[0]  # noqa: E731
        return {
            "dim_dept": q(f"SELECT count(DISTINCT dept) FROM emp{k}"),
            "dim_employee": q(f"SELECT count(*) FROM emp{k}"),
            "fact_payroll": q(f"SELECT count(*) FROM fact{k}"),
        }

    def fact_digest(self, k: int) -> list[tuple]:
        """Per-month row count and measure sums of state k."""
        sums = ", ".join(f"sum({c})" for c in MEASURES)
        return self.con.execute(
            f"SELECT strftime(month, '%Y-%m'), count(*), {sums} FROM fact{k} GROUP BY 1 ORDER BY 1"
        ).fetchall()

    # -- endpoints ---------------------------------------------------------

    def answer(self, k: int, endpoint: str, params: dict) -> tuple[int, object]:
        key = (k, endpoint, tuple(sorted(params.items())))
        if key not in self._memo:
            self._memo[key] = getattr(self, "_" + endpoint)(k, **params)
        return self._memo[key]

    def _rows(self, sql: str, args=()) -> list[dict]:
        cur = self.con.execute(sql, list(args))
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    def _summary(self, k: int, month: str):
        (r,) = self._rows(
            f"""SELECT sum(gross + bonus + overtime) AS fot, sum(taxes) AS taxes,
                   sum(gross) AS gross, sum(net) AS net, sum(fte) AS fte,
                   count(DISTINCT emp_id) AS headcount
            FROM fact{k} WHERE month = CAST(? AS DATE)""",
            [month + "-01"],
        )
        if r["gross"] is None:
            return NOT_FOUND
        r["tax_share"] = r["taxes"] / r["gross"] if r["gross"] != 0 else None
        r["avg_net_per_fte"] = r["net"] / r["fte"] if r["fte"] != 0 else None
        return 200, {"month": month, **r}

    def _by_dept(self, k: int, month: str):
        rows = self._rows(
            f"""SELECT e.dept AS dept, sum(gross + bonus + overtime) AS fot,
                   sum(gross) AS gross, sum(bonus) AS bonus, sum(overtime) AS overtime,
                   sum(taxes) AS taxes, sum(net) AS net, sum(fte) AS fte,
                   count(DISTINCT f.emp_id) AS headcount
            FROM fact{k} f JOIN emp{k} e USING (emp_id)
            WHERE month = CAST(? AS DATE) GROUP BY e.dept ORDER BY e.dept""",
            [month + "-01"],
        )
        return (200, rows) if rows else NOT_FOUND

    def _delta(self, k: int, m1: str, m2: str):
        d1, d2 = m1 + "-01", m2 + "-01"
        cols = ("gross", "bonus", "overtime")

        def msum(d, expr):
            return f"sum(CASE WHEN month = CAST('{d}' AS DATE) THEN {expr} ELSE 0 END)"

        fot = "gross + bonus + overtime"
        company = self._rows(
            f"""SELECT {', '.join(f'{msum(d2, c)} - {msum(d1, c)} AS {c}_delta' for c in cols)},
                   {msum(d2, fot)} - {msum(d1, fot)} AS fot_delta
            FROM fact{k} WHERE month IN (CAST(? AS DATE), CAST(? AS DATE))""",
            [d1, d2],
        )[0]
        per = ", ".join(f"sum({c}) AS {c}" for c in cols) + f", sum({fot}) AS fot"
        by_dept = self._rows(
            f"""WITH j AS (SELECT e.dept, f.* FROM fact{k} f JOIN emp{k} e USING (emp_id)),
                 a AS (SELECT dept, {per} FROM j WHERE month = CAST(? AS DATE) GROUP BY dept),
                 b AS (SELECT dept, {per} FROM j WHERE month = CAST(? AS DATE) GROUP BY dept)
            SELECT coalesce(a.dept, b.dept) AS dept,
                   {', '.join(f'coalesce(b.{c}, 0) - coalesce(a.{c}, 0) AS {c}_delta' for c in (*cols, 'fot'))}
            FROM a FULL OUTER JOIN b ON a.dept = b.dept ORDER BY 1""",
            [d1, d2],
        )
        return 200, {
            "company": {c: float(v or 0) for c, v in company.items()},
            "by_dept": by_dept,
        }

    def _anomalies(self, k: int, month: str, threshold: float, limit: int, dept=None):
        dept_filter = "AND e.dept = ?" if dept is not None else ""
        args = [month + "-01"] + ([dept] if dept is not None else [])
        rows = self._rows(
            f"""WITH d AS (SELECT f.emp_id, e.dept, f.net FROM fact{k} f
                           JOIN emp{k} e USING (emp_id)
                           WHERE f.month = CAST(? AS DATE) {dept_filter}),
                 med AS (SELECT dept, quantile_cont(net, 0.5) AS median_net FROM d GROUP BY dept),
                 mad AS (SELECT d.dept, quantile_cont(abs(d.net - med.median_net), 0.5) AS mad
                         FROM d JOIN med USING (dept) GROUP BY d.dept),
                 s AS (SELECT d.emp_id, d.dept, d.net, med.median_net, mad.mad,
                              0.6745 * (d.net - med.median_net) / nullif(mad.mad, 0) AS z
                       FROM d JOIN med USING (dept) JOIN mad USING (dept))
            SELECT emp_id, dept, net, median_net, mad, z FROM s
            ORDER BY abs(coalesce(z, 0)) DESC, emp_id LIMIT {int(limit)}""",
            args,
        )
        return 200, [r for r in rows if r["z"] is None or abs(r["z"]) >= threshold]


def same(got, exp, path: str = "") -> str | None:
    """None when `got` equals `exp` up to float summation order, else where
    they first differ. Rows of the anomalies list are matched by emp_id."""
    if isinstance(exp, dict):
        if not isinstance(got, dict) or set(got) != set(exp):
            return f"{path}: keys {sorted(got) if isinstance(got, dict) else got!r} != {sorted(exp)}"
        for key in exp:
            err = same(got[key], exp[key], f"{path}.{key}")
            if err:
                return err
        return None
    if isinstance(exp, list):
        if not isinstance(got, list) or len(got) != len(exp):
            return f"{path}: {len(got) if isinstance(got, list) else got!r} rows != {len(exp)}"
        if exp and isinstance(exp[0], dict) and "z" in exp[0]:
            got = sorted(got, key=lambda r: r["emp_id"])
            exp = sorted(exp, key=lambda r: r["emp_id"])
        for i, (g, e) in enumerate(zip(got, exp)):
            err = same(g, e, f"{path}[{i}]")
            if err:
                return err
        return None
    if isinstance(exp, float) or isinstance(got, float):
        if got is None or exp is None:
            return None if got is exp else f"{path}: {got!r} != {exp!r}"
        if math.isclose(got, exp, rel_tol=1e-9, abs_tol=1e-6):
            return None
        return f"{path}: {got!r} != {exp!r}"
    return None if got == exp else f"{path}: {got!r} != {exp!r}"
