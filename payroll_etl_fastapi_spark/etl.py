"""End-to-end payroll load: CSV → normalized → star schema parquet.

Spark-first re-expression of the reference load (/root/reference/src/etl.py:14-77,
/root/reference/scripts/load_once.py) — same dept → employee → fact ordering, same
idempotent upsert semantics, but no staging tables (DataFrames are the staging
layer) and no sequences (deterministic row_number surrogate keys, SURVEY.md §1.4).

Physical design: fact_payroll is written partitioned by `month` — the Spark analog
of the reference's fact_payroll(month) B-tree index (/root/reference/src/models.py:41-45):
month-equality queries prune to a single partition directory instead of scanning.

Read handles: `PayrollWarehouse.read` keeps one opened DataFrame per table and
returns it again while the table directory is unchanged, so a service request
does not re-list the directory and re-infer the schema (one Spark job per
table). The handle is dropped, and the next `read` opens a fresh one, when the
directory's `(st_ino, st_mtime_ns)` changes or when `_write` swaps the table
in this process. Every write must go through `_write`'s rename-swap, which
puts a new directory in place; that also covers a writer in another process
or another warehouse on the same root. Files added, removed or edited in place
under a table directory are not seen by an already-opened handle. A query that
is still running when its table is swapped fails as it always has: its files
are deleted under it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from payroll_etl_fastapi_spark.operators.upsert import insert_if_absent, upsert
from payroll_etl_fastapi_spark.sources import csv_ingest

STAR_TABLES = ("dim_dept", "dim_employee", "fact_payroll")


class PayrollWarehouse:
    """A parquet star-schema warehouse rooted at `root`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # table -> (directory key, opened DataFrame); see the module docstring
        self._handles: dict[str, tuple[tuple[int, int], DataFrame]] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str) -> DataFrame:
        path = self.path(table)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return self.spark.read.parquet(path)  # raises Spark's PATH_NOT_FOUND
        # stat BEFORE opening: a swap in between leaves a stale key, which
        # only costs one extra open on the next read, never a stale handle
        key = (st.st_ino, st.st_mtime_ns)
        cached = self._handles.get(table)
        if cached is not None and cached[0] == key:
            return cached[1]
        df = self.spark.read.parquet(path)
        self._handles[table] = (key, df)
        return df

    def _write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
    ) -> None:
        """Write-then-swap: the merge plans lazily read the current table, so we
        never overwrite a path that is an input of the plan being executed.

        `sort_within` clusters rows inside each output file so parquet
        min/max row-group stats become selective on those columns — the
        engine's analog of the reference's secondary (emp_id, month) B-tree
        (/root/reference/src/models.py:46-50): a point predicate skips whole
        row groups instead of scanning the partition."""
        target = self.path(table)
        tmp = target + "__tmp"
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        # crash-safe swap: rename the live table ASIDE first, so a crash at
        # any point leaves a complete version at either `target` or
        # `target__old` — never a window where the table simply vanished
        # (rmtree-then-rename had exactly that window)
        old = target + "__old"
        if os.path.exists(old):
            shutil.rmtree(old)  # leftover from a previously interrupted swap
        if os.path.exists(target):
            os.rename(target, old)
        os.rename(tmp, target)
        self._handles.pop(table, None)
        if os.path.exists(old):
            shutil.rmtree(old)

    # -- load ---------------------------------------------------------------

    def load_csv(self, csv_path: str) -> dict[str, int]:
        """Idempotent load of one CSV batch (reference: load_once.py one-shot).

        Returns row counts per table, mirroring the reference's print-based
        verification (/root/reference/scripts/load_once.py:73-74).
        """
        raw = csv_ingest.read_payroll_csv(self.spark, csv_path)
        normalized = csv_ingest.normalize(raw)
        return self.load_frames(normalized)

    def load_frames(self, normalized: DataFrame) -> dict[str, int]:
        # 1) dim_dept — sorted-name surrogate keys; incremental loads append new
        #    depts after max existing id (SERIAL append behavior, SURVEY §7.3).
        depts = csv_ingest.dept_rows(normalized)
        if self.exists("dim_dept"):
            # ON CONFLICT DO NOTHING + SERIAL append: existing ids are stable,
            # new depts get max(existing_id) + row_number(sorted new names).
            existing = self.read("dim_dept")
            new = depts.join(
                existing.select("dept_name"), on="dept_name", how="left_anti"
            )
            base_id = existing.agg(F.max("dept_id")).first()[0] or 0
            dim_dept = existing.unionByName(
                new.withColumn(
                    "dept_id",
                    (
                        F.row_number().over(Window.partitionBy().orderBy("dept_name"))
                        + F.lit(base_id)
                    ).cast("int"),
                ).select("dept_id", "dept_name")
            )
        else:
            dim_dept = depts.withColumn(
                "dept_id",
                F.row_number().over(Window.partitionBy().orderBy("dept_name")).cast("int"),
            ).select("dept_id", "dept_name")
        dim_dept = dim_dept.cache()
        try:
            self._write(dim_dept, "dim_dept")

            # 2) dim_employee — FK-resolve dept via broadcast join (reference joins
            #    stage→dim_dept on dept_name, /root/reference/src/etl.py:41), then
            #    type-1 upsert on emp_id.
            dim_dept_fresh = self.read("dim_dept")
            employees = (
                csv_ingest.employee_rows(normalized)
                .join(F.broadcast(dim_dept_fresh), F.col("dept") == F.col("dept_name"), "inner")
                .select("emp_id", "dept_id", "job_grade", "location")
            )
            if self.exists("dim_employee"):
                dim_emp = upsert(self.read("dim_employee"), employees, ["emp_id"])
            else:
                dim_emp = employees
            self._write(dim_emp, "dim_employee")

            # 3) fact — composite-key upsert on (emp_id, month). Only the months in
            #    the incoming batch are re-merged (partition pruning on read).
            facts = csv_ingest.fact_rows(normalized)
            if self.exists("fact_payroll"):
                months = [r[0] for r in facts.select("month").distinct().collect()]
                existing_fact = self.read("fact_payroll")
                touched = existing_fact.filter(F.col("month").isin(months))
                merged_fact = upsert(touched, facts, ["emp_id", "month"])
                fact_out = existing_fact.filter(~F.col("month").isin(months)).unionByName(
                    merged_fact
                )
            else:
                fact_out = facts
            # align column order: partition column last is not required; keep schema
            # the partition column LEADS the sort: the dynamic-partition writer
            # requires month ordering and would otherwise insert its own sort,
            # silently discarding the emp_id clustering
            self._write(
                fact_out,
                "fact_payroll",
                partition_by=["month"],
                sort_within=["month", "emp_id"],
            )

            counts = {
                "dim_dept": self.read("dim_dept").count(),
                "dim_employee": self.read("dim_employee").count(),
                "fact_payroll": self.read("fact_payroll").count(),
            }
        finally:
            # released even when a later step raises, not only on success
            dim_dept.unpersist()
        return counts


class TxPayrollWarehouse(PayrollWarehouse):
    """The same load with the reference's TRANSACTION semantics: the
    reference wraps dept → employee → fact in one Postgres transaction
    (/root/reference/src/etl.py:15), so a crash mid-load leaves the old
    state fully intact. The base PayrollWarehouse only has per-table
    crash-safe swaps; this variant stores each table in a TxTable and
    publishes all three new versions with ONE TxCatalog pointer swap —
    external readers (``read_committed``) see the whole load or none of it.

    Within a load, ``read`` sees this load's own uncommitted table versions
    (read-your-writes, as inside the reference's transaction); everything
    else reads through the catalog pin."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        from payroll_etl_fastapi_spark.sources.txtable import TxCatalog

        self.catalog = TxCatalog(spark, root)
        self._pending: dict[str, int] = {}

    def _visible_version(self, table: str) -> int | None:
        """This load's transaction view: its OWN pending write if it made
        one, else the catalog-pinned version — never bare table-latest,
        which could belong to a previously ABORTED load (tables committed,
        catalog swap never reached) and would silently resurrect that
        load's data as the merge base."""
        if table in self._pending:
            return self._pending[table]
        return self.catalog.current().get(table)

    def exists(self, table: str) -> bool:
        return self._visible_version(table) is not None

    def read(self, table: str) -> DataFrame:
        v = self._visible_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table!r} not committed in {self.root}")
        return self.catalog.table(table).snapshot(version=v)

    def read_committed(self, table: str) -> DataFrame:
        """What an external reader sees: the catalog-pinned version."""
        return self.catalog.read(table)

    def _write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
    ) -> None:
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        self._pending[table] = self.catalog.table(table).overwrite(
            df, partition_by=partition_by
        )

    def load_frames(self, normalized: DataFrame) -> dict[str, int]:
        # a failed earlier load must not leak its pending versions into this
        # transaction's read view
        self._pending = {}
        counts = super().load_frames(normalized)
        # the single COMMIT: all three tables become visible atomically
        self.catalog.commit({**self.catalog.current(), **self._pending})
        self._pending = {}
        return counts
