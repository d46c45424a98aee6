"""Bucketed-table co-located join: the pre-shuffle strategy for repeated
big⋈big joins at 100 TB (SURVEY.md §4.2 horizontal partitioning).

Writing both sides bucketed by the join key into the warehouse lets Spark
plan the join with NO Exchange on either side — the shuffle is paid once at
write time and amortized over every subsequent join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import load
from lagom_kinesis_spark.session import scoped_confs
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    load(spark, SF_DIR, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("b_orders")
    load(spark, SF_DIR, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("b_lineitem")
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    # Disable auto-broadcast: at test scale Catalyst would broadcast the
    # dim side; the point here is the big⋈big case where bucketing removes
    # the shuffle a SortMergeJoin would otherwise need.
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        li = spark.table("b_lineitem")
        o = spark.table("b_orders")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        assert "SortMergeJoin" in plan
    # And it is correct: row count matches the plain parquet join.
    plain = load(spark, SF_DIR, "lineitem").join(
        load(spark, SF_DIR, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert joined.count() == plain.count()


def test_bucketed_aggregation_avoids_shuffle(spark, bucketed_tables):
    """groupBy on the bucket key reuses the bucketing — no Exchange."""
    o = spark.table("b_orders")
    agged = o.groupBy("o_orderkey").agg(F.count("*").alias("n"))
    plan = agged._sc._jvm.PythonSQLUtils.explainString(
        agged._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_flagship_bucketed_fact_join_plan(spark):
    """flagship_bucketed (the sf10 A/B winner, BENCH_NOTES.md): the
    lineitem⋈orders SortMergeJoin must plan with no Exchange and no
    runtime Sort under either fact side — the bucketed+sorted layout
    carries both — and results must equal the shuffle-plan flagship."""
    from lagom_kinesis_spark.registry import all_queries

    qs = all_queries()
    df = qs["flagship_bucketed"].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan, plan[:800]
    # The only hash-partition Exchange allowed is the final group-by's;
    # the fact join itself must read bucket files directly (broadcast
    # exchanges for the dim sides are expected and fine).
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 1, f"fact join still shuffles:\n{plan[:1200]}"
    flagship = qs["flagship_revenue_by_nation"].fn(spark, SF_DIR)
    got = sorted((r["nation"], r["n_items"]) for r in df.collect())
    want = sorted((r["nation"], r["n_items"]) for r in flagship.collect())
    assert got == want


def test_shared_fact_layout_bucketed_twins_plans(spark):
    """join_multiway_bucketed and q_shipping_priority_bucketed reuse the
    SHARED wide fact layout (fact_bucketed_layout). Plan contract:
    - the lineitem⋈orders SortMergeJoin reads bucket files directly
      (no hashpartitioning Exchange under the join, no runtime Sort);
    - q_shipping_priority_bucketed's groupBy — whose keys CONTAIN the
      bucket key — needs NO aggregate Exchange at all: its only exchange
      is the customer broadcast;
    - join_multiway_bucketed keeps exactly one hash Exchange (the final
      p_brand x nation rollup)."""
    import re

    from lagom_kinesis_spark.registry import all_queries

    def hash_exchanges(plan: str) -> list[str]:
        # formatted tree renders shuffle exchanges as "+- Exchange (n)"
        # and broadcast ones as "+- BroadcastExchange (n)".
        return re.findall(r"[+:]- Exchange \(\d+\)", plan)

    qs = all_queries()
    mw = qs["join_multiway_bucketed"].fn(spark, SF_DIR)
    plan = mw._sc._jvm.PythonSQLUtils.explainString(
        mw._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan, plan[:800]
    assert len(hash_exchanges(plan)) == 1, plan[:1200]
    assert not re.findall(r"[+:]- Sort \(\d+\)", plan)

    q3 = qs["q_shipping_priority_bucketed"].fn(spark, SF_DIR)
    plan = q3._sc._jvm.PythonSQLUtils.explainString(
        q3._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan, plan[:800]
    assert not hash_exchanges(plan), plan[:1200]
    assert not re.findall(r"[+:]- Sort \(\d+\)", plan)
    assert "TakeOrderedAndProject" in plan

    # Q4: the EXISTS left-semi SMJ is exchange-free and sort-free; its
    # non-equi lateness predicate rides as the join's residual condition.
    # Only the 5-row priority rollup exchanges (sf10 A/B: 5.39s -> 0.52s).
    q4 = qs["q_order_priority_bucketed"].fn(spark, SF_DIR)
    plan = q4._sc._jvm.PythonSQLUtils.explainString(
        q4._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin LeftSemi" in plan or (
        "SortMergeJoin" in plan and "LeftSemi" in plan
    ), plan[:800]
    assert len(hash_exchanges(plan)) == 1, plan[:1200]
    assert not re.findall(r"[+:]- Sort \(\d+\)", plan)

    # and the layouts must not change results vs the unbucketed twins
    for b, ub in (
        ("join_multiway_bucketed", "join_multiway"),
        ("q_shipping_priority_bucketed", "q_shipping_priority"),
        ("q_order_priority_bucketed", "q_order_priority"),
    ):
        got = sorted(map(tuple, qs[b].fn(spark, SF_DIR).collect()))
        want = sorted(map(tuple, qs[ub].fn(spark, SF_DIR).collect()))
        assert got == want, f"{b} diverges from {ub}"


def test_bucketed_smj_has_no_runtime_sort(spark):
    """With sorted-scan ordering honored (session.py's
    legacy.bucketedTableScan.outputOrdering + _ensure_bucketed's
    one-file-per-bucket assertion), the bucket-key SortMergeJoin must
    consume the buckets' on-disk order directly: no Sort node anywhere
    below the join. At sf10 the two 60M-row runtime sorts were the whole
    gap: 6.3s -> 0.9s."""
    from lagom_kinesis_spark.registry import all_queries
    from tests.conftest import SF_DIR

    df = all_queries()["join_bucketed_colocated"].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan
    # tree rendering only: every node also appears once as "(n) Sort"
    import re

    sorts = re.findall(r"[+:]- Sort \(\d+\)", plan)
    assert not sorts, f"runtime Sort under the bucketed join: {sorts}"


def test_split_bucket_layout_is_rebuilt_not_adopted(spark):
    """The sorted-scan session flag is only sound with one file per
    bucket. A layout where a bucket is split across files (what a
    non-repartitioned writer or a partial compaction would leave) must
    be REBUILT by _ensure_bucketed, never adopted as-is."""
    import glob
    import os
    import shutil

    from lagom_kinesis_spark.catalog import fixture_fingerprint
    from lagom_kinesis_spark.queries.relational import _ensure_bucketed

    name = "bq_splitprobe"
    # the layout name is spec-versioned: bucket count + source fingerprint
    versioned = f"{name}_b4_f{fixture_fingerprint(SF_DIR, 'nation')}"
    spark.sql(f"DROP TABLE IF EXISTS {versioned}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = os.path.join(wh, versioned)
    shutil.rmtree(path, ignore_errors=True)
    t = _ensure_bucketed(
        spark, SF_DIR, name, "nation",
        ["n_nationkey", "n_name"], "n_nationkey", 4,
    )
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    assert files, "expected a built layout"
    mtime0 = {f: os.path.getmtime(f) for f in files}
    # Split one bucket across two files: duplicate a part file under a
    # fresh task prefix but the SAME _000NN bucket suffix.
    src = files[0]
    base = os.path.basename(src)
    dup = os.path.join(path, "part-99999-deadbeef_" + base.split("_", 1)[1])
    shutil.copy(src, dup)
    spark.sql(f"DROP TABLE IF EXISTS {t}")  # fresh catalog, same files
    t2 = _ensure_bucketed(
        spark, SF_DIR, name, "nation",
        ["n_nationkey", "n_name"], "n_nationkey", 4,
    )
    after = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    # rebuilt: the duplicated file is gone and no pre-split file survived
    # as-is (a rebuild rewrites the directory; adoption would have kept
    # the original part files byte-identical and mtime-identical).
    assert dup not in after
    assert set(after) != set(files + [dup]), "layout was adopted, not rebuilt"
    for f in after:
        assert f not in mtime0 or os.path.getmtime(f) != mtime0[f], (
            f"pre-split file {f} survived the rebuild unchanged"
        )
    # and the rebuilt layout satisfies the invariant again
    from collections import Counter

    seen = Counter(f.split("_")[-1].split(".")[0] for f in
                   (os.path.basename(x) for x in after))
    assert max(seen.values()) == 1
    assert spark.table(t2).count() == 25
    spark.sql(f"DROP TABLE IF EXISTS {t2}")
    shutil.rmtree(path, ignore_errors=True)
