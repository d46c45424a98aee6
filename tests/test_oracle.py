"""Differential test: every registered query vs its DuckDB oracle at SF_DIR.

Mirrors the driver's t2 gate (CORRECTNESS_r{N}.json) through the oracle
runner's compare (scripts/gate_sim.py) so failures surface locally first.
Rows-only queries (oracle=None) get a smoke check.
"""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd
import pytest

from lagom_kinesis_spark.registry import all_queries
from scripts import gate_sim
from tests.conftest import SF_DIR, assert_matches_oracle

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_vs_oracle(name, spark, duck):
    q = _QUERIES[name]
    df = q.fn(spark, SF_DIR)
    if q.oracle is None:
        rows = df.limit(10001).collect()
        assert rows is not None  # runs, stable schema, >=0 rows
        assert len(df.columns) > 0
    else:
        assert_matches_oracle(df, duck, q.oracle)


#: Queries whose oracle is legitimately empty on the tiny sf0.001 fixture
#: (data sparsity, not a wrong predicate): q_volume_shipping needs
#: cross-nation (NATION_1 x NATION_2) trade pairs that a 60-order fixture
#: may not contain — it is driver-green with rows at sf0.01.
_MAY_BE_EMPTY_AT_SF0001 = {"q_volume_shipping"}


def test_no_oracle_is_vacuously_empty(duck):
    """A 0-row result makes the differential gate pass without testing
    anything (both engines agree on nothing) — two such vacuous rows hid
    behind green checks until round 4 (q_product_type_profit's LIKE
    pattern matched no fixture part name; join_left_anti's NOT EXISTS was
    universally false). Catch the next one at fixture-regeneration time:
    every oracle must return at least one row, modulo the documented
    small-fixture exceptions."""
    empty = []
    for name in sorted(_QUERIES):
        q = _QUERIES[name]
        if q.oracle is None or name in _MAY_BE_EMPTY_AT_SF0001:
            continue
        if duck.sql(f"SELECT count(*) FROM ({q.oracle})").fetchone()[0] == 0:
            empty.append(name)
    assert not empty, f"vacuously-empty oracles (check their predicates): {empty}"


def test_compare_is_column_case_sensitive(spark, duck):
    """Driver-parity guard (r5 lesson): the driver's value hash sorts columns
    by RAW name, so a Spark frame with 'A','N' where the oracle has 'a','n'
    permutes the value tuples and hash-mismatches even on identical values.
    The local compare used to lowercase first and green-lit exactly that bug
    (sort_transpose_stats, the only red row on the r5 board). Assert the
    hardened compare now rejects it."""
    sdf = spark.createDataFrame([(1.0, 2.0, "x")], ["B", "a", "k"])
    # identical values, lowercase names -> raw-name column order differs
    sql = "SELECT 1.0::DOUBLE AS b, 2.0::DOUBLE AS a, 'x' AS k"
    with pytest.raises(AssertionError):
        assert_matches_oracle(sdf, duck, sql)
    # exact-name match still passes
    sdf2 = spark.createDataFrame([(1.0, 2.0, "x")], ["b", "a", "k"])
    assert_matches_oracle(sdf2, duck, sql)


def test_canonical_hash_is_pinned():
    """perfbench caches oracle hashes made by canon_frame + value_hash, so
    their output bytes are a contract: a fixed frame over float, int,
    all-null, timestamp, date and string columns (plus an upper-case name
    that sorts first) must keep hashing to this digest."""
    pdf = pd.DataFrame({
        "f": [0.1, 2.5, None, -1e-07],
        "i": [3, 1, 2, 10],
        "n": [None, None, None, None],
        "ts": pd.Series(
            [pd.Timestamp(2024, 1, 2, 3, 4, 5, 6), pd.Timestamp(1999, 12, 31),
             None, pd.Timestamp(2024, 1, 2)],
            dtype="datetime64[us]",
        ),
        "d": [dt.date(2024, 1, 2), dt.date(1970, 1, 1), None, dt.date(2024, 1, 2)],
        "s": ["b", "a", None, "a,b"],
        "B": [1.0, float("nan"), 2.0, 3.0],
    })
    assert gate_sim.value_hash(gate_sim.canon_frame(pdf)) == (
        "fa4cf82fad09391aa96beb27f7d33047400188d0cede4085bd48b320d10315e3"
    )


def test_runner_writes_driver_records(spark):
    """A two-query --only run writes one record per query with exactly the
    driver's CORRECTNESS keys, for an oracle and a rows-only query. A
    misspelled name is refused rather than run as an empty green sweep."""
    with pytest.raises(SystemExit):
        gate_sim.main(["--sf", SF_DIR, "--only", "agg_bool,no_such_query"])
    names = ["agg_bool", "stream_rate_source_smoke"]
    assert gate_sim.main(["--sf", SF_DIR, "--only", ",".join(names)]) == 0
    with open(gate_sim.results_path(SF_DIR)) as f:
        records = json.load(f)
    assert sorted(records) == sorted(names)
    driver_keys = {
        "rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err",
    }
    assert all(set(r) == driver_keys for r in records.values())
    assert records["agg_bool"]["hash_match"] is True
    assert records["stream_rate_source_smoke"]["err"] == "no_oracle"


def test_core_scaling_witness_row_is_pinned():
    """dedup_jaccard_pairs is the bench's core-scaling witness: it must stay
    a headline row, and its deliberately quadratic oracle must keep the tag
    that excludes it from engine-vs-DuckDB ratios and scaled sweeps."""
    import bench

    assert "dedup_jaccard_pairs" in bench.HEADLINE
    assert "oracle_quadratic" in _QUERIES["dedup_jaccard_pairs"].tags
