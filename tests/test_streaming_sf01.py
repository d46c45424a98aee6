"""sf0.1 streaming smoke (VERDICT r3 ask #6): state-store behavior shifts
with volume (state rows per key, eviction cadence, shuffle sizing), so the
windowed/stateful streaming family gets a differential run at 100× the
default test fixture, not just sf0.001.

Opt-in — heavier than the default suite: run with

    SPARK_GRAFT_SF01_SMOKE=1 python -m pytest tests/test_streaming_sf01.py -q

(part of the per-round local gate runbook alongside the sf0.01 sweep).
"""

from __future__ import annotations

import os

import pytest

from lagom_kinesis_spark.registry import all_queries
from scripts.gate_sim import duck_views
from tests.conftest import assert_matches_oracle

SF01_DIR = "/root/testdata/sf0.1"

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SF01_SMOKE") != "1"
    or not os.path.isdir(SF01_DIR),
    reason="sf0.1 streaming smoke is opt-in (SPARK_GRAFT_SF01_SMOKE=1)",
)

SMOKE_QUERIES = [
    "stream_tumbling_window",
    "stream_sliding_window",
    "stream_session_window",
    "stream_stream_join",
    "stream_hll_windowed_distinct",
    "stream_histogram_quantile",
]


@pytest.fixture(scope="module")
def duck_sf01():
    con = duck_views(SF01_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", SMOKE_QUERIES)
def test_streaming_query_matches_oracle_at_sf01(spark, duck_sf01, name):
    qs = all_queries()
    q = qs[name]
    assert q.oracle is not None
    assert_matches_oracle(q.fn(spark, SF01_DIR), duck_sf01, q.oracle)
