"""Shared fixtures: one SparkSession per test run + the DuckDB differential
assert, which is the oracle runner's compare (scripts/gate_sim.py): row
count + case-folded column names + exact value hash over raw-name-sorted
columns, order-insensitive."""

from __future__ import annotations

import os

import pytest

from lagom_kinesis_spark.session import get_spark
from scripts.gate_sim import compare, diff_rows, duck_views, status

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("lagom-kinesis-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, sql: str) -> None:
    """Fail unless the driver-shaped record of ``spark_df`` vs ``sql`` is a
    PASS; the message carries the record and the first differing rows."""
    spdf, dpdf = spark_df.toPandas(), duck_con.sql(sql).df()
    rec = compare(spdf, dpdf)
    assert status(rec) == "PASS", (
        f"{rec}; spark cols={sorted(spdf.columns)} oracle cols={sorted(dpdf.columns)}; "
        f"first differing (spark, oracle) rows: {diff_rows(spdf, dpdf)}"
    )
