from __future__ import annotations

import importlib.util
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

from payroll_etl_fastapi_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
REFERENCE_CSV = "/root/reference/data/payroll.csv"
PAYROLL_GEN = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "gen.py")
GENERATED_SEED = 7


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def reference_csv() -> str:
    if not os.path.exists(REFERENCE_CSV):
        pytest.skip("reference dataset not available")
    return REFERENCE_CSV


@pytest.fixture(scope="session")
def generated_csv(tmp_path_factory) -> str:
    """The benchmark generator's seeded scale-1 payroll CSV (the reference's
    shape: 6 depts, 500 employees, months 2024-09..2025-08), so the KPI path
    is checked where the reference file is absent. Not for golden anchors:
    those stay tied to the reference file."""
    spec = importlib.util.spec_from_file_location("payroll_gen", PAYROLL_GEN)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    path = str(tmp_path_factory.mktemp("generated") / "payroll.csv")
    gen.write_lines(path, gen.PayrollGen(GENERATED_SEED, scale=1).base_lines())
    return path


@pytest.fixture(scope="session")
def clustered_emb(spark):
    """Clustered embedding corpus for the ANN recall floors (VERDICT r6 #1):
    10 seeded gaussian centers × 30 points at noise 0.15 — realistic
    embedding structure where true neighbors are cluster-mates, so retrieval
    quality separates methods the isotropic driver testdata cannot.
    Returns (df, V float64 matrix, query ids = one per cluster). Fully
    deterministic: the recall floors pin exact values with margin."""
    import numpy as np

    rng = np.random.default_rng(42)
    n_clusters, per, dim = 10, 30, 64
    centers = rng.standard_normal((n_clusters, dim))
    parts = [
        centers[c] + 0.15 * rng.standard_normal((per, dim))
        for c in range(n_clusters)
    ]
    V = np.concatenate(parts).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>",
    )
    qids = [c * per for c in range(n_clusters)]
    return df, V.astype(np.float64), qids
