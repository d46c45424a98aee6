"""sf1 streaming stress (VERDICT r4 ask #6): the state-heavy streaming
family at 10× the bench fixture — 1M events through session windows, a
stream-stream join, and windowed HLL state — exercising state-store volume
(rows per provider, delta file size) and watermark eviction cadence well
past what sf0.1 reaches, still with the exact DuckDB differential as the
assertion.

Opt-in — builds/uses a ~10×-replicated synthetic fixture and runs minutes:

    SPARK_GRAFT_SF1_STRESS=1 python -m pytest tests/test_streaming_sf1.py -q -s

(-s so the recorded wall-times print; copy them into BENCH_NOTES.md).
The fixture dir is shared with `bench.py --scaling` (same generator, same
path), so a prior scaling run makes this test start instantly.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

from lagom_kinesis_spark.catalog import TABLES
from lagom_kinesis_spark.registry import all_queries
from scripts.gate_sim import duck_views
from tests.conftest import assert_matches_oracle

SF01_DIR = "/root/testdata/sf0.1"
SF1_DIR = "/tmp/lagom_kinesis_spark/scale/sf1"

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SF1_STRESS") != "1"
    or not os.path.isdir(SF01_DIR),
    reason="sf1 streaming stress is opt-in (SPARK_GRAFT_SF1_STRESS=1)",
)

STRESS_QUERIES = [
    "stream_session_window",
    "stream_stream_join",
    "stream_hll_windowed_distinct",
]


@pytest.fixture(scope="module")
def sf1_dir():
    if not all(
        os.path.exists(os.path.join(SF1_DIR, f"{t}.parquet")) for t in TABLES
    ):
        from scripts.make_scaled_fixture import make

        make(SF01_DIR, SF1_DIR, 10)
    return SF1_DIR


@pytest.fixture(scope="module")
def duck_sf1(sf1_dir):
    con = duck_views(sf1_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", STRESS_QUERIES)
def test_streaming_query_matches_oracle_at_sf1(spark, sf1_dir, duck_sf1, name):
    qs = all_queries()
    q = qs[name]
    assert q.oracle is not None
    t0 = time.time()
    df = q.fn(spark, sf1_dir)
    assert_matches_oracle(df, duck_sf1, q.oracle)
    print(f"\n# sf1 stress {name}: {time.time() - t0:.1f}s wall", file=sys.stderr)
