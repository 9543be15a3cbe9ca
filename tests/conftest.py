"""Shared fixtures: one local SparkSession per test session, plus the
DuckDB-oracle comparison harness mirroring the driver's check
(row-count + schema + order-insensitive value comparison)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

from ocs_duckdb_runner_spark.registry import TABLES, specs
from ocs_duckdb_runner_spark.session import build_spark

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from driver_sim import canon  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--run-sweep",
        action="store_true",
        default=False,
        help="run the full 182-query oracle sweep (tests/test_full_sweep.py)",
    )
    parser.addoption(
        "--run-hotshingle",
        action="store_true",
        default=False,
        help="run the df-cap-BINDING oracle probe (tests/test_full_sweep.py)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "sweep: full driver-style oracle sweep (opt-in, ~10 min)"
    )
    config.addinivalue_line(
        "markers",
        "hotshingle: planted-viral-shingle oracle probe (opt-in, ~2 min)",
    )


@pytest.fixture(scope="session")
def spark():
    s = build_spark(
        app_name="ocs-duckdb-runner-spark-tests",
        shuffle_partitions=8,
        # UI on here while the CLI test runs with it off, so the fan-out
        # runner's status-store byte accounting (R11) is tested both ways
        extra_conf={"spark.ui.enabled": "true"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def dtype_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    return {c: pdf[c].dtype.kind for c in sorted(pdf.columns)}


def run_spark_query(spark, name: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return specs()[name].fn(spark, sf_dir).toPandas()


def run_oracle(duck, name: str) -> pd.DataFrame:
    sql = specs()[name].oracle
    assert sql is not None, f"{name} has no oracle"
    return duck.execute(sql).fetchdf()


def assert_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR) -> None:
    got = run_spark_query(spark, name, sf_dir)
    want = run_oracle(duck, name)
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} oracle={len(want)}"
    g, w = canon(got), canon(want)
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:5]
        raise AssertionError(
            f"{name}: value mismatch; first differing (spark, oracle) pairs: {diffs}"
        )
