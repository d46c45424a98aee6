"""Aggregation operators (SURVEY.md §2B "Aggregations").

All hash aggregates: Spark plans partial (map-side) + final aggregation
automatically, so the shuffle carries one row per (partition, group) — the
100 TB-safe shape. Money-scale sums follow the exact-decimal discipline
(functions/helpers.py) so the DuckDB hash-compare is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import load, register_views
from lagom_kinesis_spark.functions import (
    dec,
    events_cte,
    money,
    money_sum_units,
    r6,
    revenue_sql,
    revenue_units,
    units,
)
from lagom_kinesis_spark.operators import sketches
from lagom_kinesis_spark.registry import register


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM({revenue_sql}) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM({revenue_sql} * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           round(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: 8 aggregates over 2 group keys.

    Money sums run on the int64 fast path (helpers.units /
    money_sum_units): exact fixed-point products summed as longs in
    whole-stage codegen, finalized through decimal — bit-identical to
    the decimal path and the oracle's VARCHAR hop, ~2x faster (the
    decimal hash aggregate was this query's whole cost, BENCH_NOTES r6).
    int64 bound: sum_charge accumulates 1e-6 units — MEASURED ~5.1e14
    per group at sf0.01, i.e. ~5.1e17 at sf10 and ~5.1e18 at sf100, only
    ~1.8x below int64 max: sf100 is the ceiling for this 1e-6-unit sum;
    a larger tier must drop to 1e-4 units or the decimal path."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    cnt = F.count("*")
    qty_u, price_u = units("l_quantity"), units("l_extendedprice")
    disc_u = revenue_units()  # 1e-4 units
    charge_u = disc_u * (F.lit(100) + units("l_tax"))  # 1e-6 units
    sum_qty = money_sum_units(qty_u, 2)
    sum_price = money_sum_units(price_u, 2)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_base_price"),
        money_sum_units(disc_u, 4).alias("sum_disc_price"),
        money_sum_units(charge_u, 6).alias("sum_charge"),
        F.round(sum_qty / cnt, 6).alias("avg_qty"),
        F.round(sum_price / cnt, 6).alias("avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        cnt.alias("count_order"),
    )


@register(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total,
           round(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM orders
    """,
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (keyless) aggregate — single-row result via partial+final."""
    o = load(spark, sf_dir, "orders")
    s = F.sum(dec("o_totalprice"))
    return o.agg(
        F.count("*").alias("n_orders"),
        money(s).alias("total"),
        F.round(s.cast("double") / F.count("*"), 6).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "agg_count_distinct_multi",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT CAST(year(o_orderdate) AS INT)) AS n_years,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact distinct aggregates (expand-based plan in Spark).

    Cost note (measured, BENCH_NOTES r8/r9): Spark plans N distinct
    aggregates as an Expand that replicates every input row N+1 times
    before the shuffle — sf10 ~6.5-8× vs DuckDB, and the replication
    factor rides to any scale. This query IS the declared surface (the
    plan a user gets from `countDistinct(...)` twice); the
    integer-keyed shuffle-volume alternative is the bitmap plan
    registered as the twin `agg_count_distinct_multi_bitmap` (same
    oracle, identical results) — on this box's memory-speed shuffle the
    expand plan is end-to-end faster, but it shuffles ~40× more bytes
    (the r9 volume measurement on the twin's docstring), which is the
    binding constraint on a network-bound cluster."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct(F.year("o_orderdate").cast("int")).alias("n_years"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_count_distinct_multi_bitmap",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT CAST(year(o_orderdate) AS INT)) AS n_years,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "sketch", "bitmap"),
)
def agg_count_distinct_multi_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-volume twin of ``agg_count_distinct_multi`` (same
    oracle, identical results): N exact distinct aggregates WITHOUT the
    row-replicating Expand.

    One column-pruned leg per distinct column: bit positions OR into a
    ≤4 KB bitmap per (group, 32768-wide bucket) map-side
    (``bitmap_construct_agg``), ``bitmap_count`` sums per group, legs
    join on the |groups|-row key. n_orders rides the custkey leg's
    per-bucket row counts (o_custkey non-null by fixture contract).
    Exact by construction — a set representation, not a sketch.

    The trade, measured honestly at sf10 (.bench/ab_bitmap_twin_r9.py @ 5678885):
    END-TO-END on local[32] the expand surface is FASTER (0.79 s vs
    1.12 s) — this box's shuffle is memory-speed, so expand's cheap
    codegen'd pair-dedup beats the per-row bitmap expression work. What
    the bitmap plan wins is the exchange itself: post-partial shuffle
    volume is 320 bitmap groups × ~4 KB ≈ 1.3 MB vs the expand plan's
    2.07 M surviving (group, custkey) pairs ≈ ~50 MB — a ~40× reduction
    in the quantity that dominates on a network-bound 1000-executor
    cluster, where high-cardinality distinct shuffles are the classic
    bottleneck. Registered next to the declared surface so both numbers
    stay visible (the bucketed-twin pattern)."""
    o = load(spark, sf_dir, "orders")

    def leg(alias: str, expr: str, with_count: bool):
        aggs = [F.expr("bitmap_construct_agg(p)").alias("bm")]
        if with_count:
            aggs.append(F.count("*").alias("c"))
        per_bucket = (
            o.select(
                "o_orderpriority",
                F.expr(f"bitmap_bucket_number({expr})").alias("b"),
                F.expr(f"bitmap_bit_position({expr})").alias("p"),
            )
            .groupBy("o_orderpriority", "b")
            .agg(*aggs)
        )
        final = [F.sum(F.expr("bitmap_count(bm)")).cast("long").alias(alias)]
        if with_count:
            final.append(F.sum("c").cast("long").alias("n_orders"))
        return per_bucket.groupBy("o_orderpriority").agg(*final)

    cust = leg("n_custs", "CAST(o_custkey AS BIGINT)", True)
    years = leg("n_years", "CAST(year(o_orderdate) AS BIGINT)", False)
    return cust.join(years, "o_orderpriority").select(
        "o_orderpriority", "n_custs", "n_years", "n_orders"
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "sketch", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's native bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_count, Spark ≥3.5) — the roaring-bitmap-style two-level plan
    warehouses use when approximate (HLL) isn't acceptable but
    COUNT(DISTINCT)'s expand-based shuffle is too heavy: level 1 groups by
    (key, bucket) and ORs bit positions into a fixed ≤4 KB bitmap per
    bucket (map-side partial, dense-int friendly), level 2 sums
    bitmap_count per key. The shuffle carries one bitmap per
    (group, 32768-wide bucket) instead of one row per distinct value —
    at 100 TB the difference between shuffling gigabytes and terabytes.
    Oracle: plain COUNT(DISTINCT) — the bitmap path is exact by
    construction."""
    li = load(spark, sf_dir, "lineitem")

    def bitmap_distinct(col: str) -> object:
        per_bucket = (
            li.select(
                "l_returnflag",
                F.expr(f"bitmap_bucket_number({col})").alias("b"),
                F.expr(f"bitmap_bit_position({col})").alias("p"),
            )
            .groupBy("l_returnflag", "b")
            .agg(F.expr("bitmap_construct_agg(p)").alias("bm"))
        )
        return per_bucket.groupBy("l_returnflag").agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n")
        )

    supp = bitmap_distinct("l_suppkey").withColumnRenamed("n", "n_supp")
    part = bitmap_distinct("l_partkey").withColumnRenamed("n", "n_part")
    return supp.join(part, "l_returnflag")


@register(
    "agg_approx_top_k",
    oracle="""
    WITH counts AS (
      SELECT p_brand AS brand, COUNT(*) AS cnt FROM part GROUP BY p_brand
    )
    SELECT brand, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, brand) AS INT) AS rn
    FROM counts
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's native ``approx_top_k`` heavy-hitter sketch — the
    engine-side sibling of the portable Count-Min heavy hitters
    (text_cms_heavy_hitters). Oracle-exact by the sketch's own contract:
    with maxItemsTracked ≥ the number of distinct items every count is
    exact, and with k ≥ the distinct count the FULL item set is returned,
    so re-ranking the exploded output by (count DESC, item) is
    deterministic regardless of the sketch's internal tie order — no
    selection ambiguity for the gate. Production runs the approximate
    regime (bounded memory, heavy hitters only); the mergeable
    accumulate/combine/estimate variants share the same state shape for
    partial aggregation across 1000 executors."""
    from lagom_kinesis_spark.catalog import register_views

    register_views(spark, sf_dir, ("part",))
    tk = spark.sql(
        "SELECT explode(approx_top_k(p_brand, 64, 10000)) AS e FROM part"
    ).select(
        F.col("e.item").alias("brand"), F.col("e.count").alias("cnt")
    )
    w = W.orderBy(F.col("cnt").desc(), "brand")
    return tk.withColumn("rn", F.row_number().over(w))


@register(
    "agg_approx_count_distinct",
    oracle=sketches.hll_oracle_sql(
        "lineitem", "l_partkey", ("l_returnflag",), alias="approx_parts"
    ),
    tags=("agg", "approx", "sketch"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counts per group via the PORTABLE HLL sketch
    (operators/sketches.py): mergeable registers, exact-int64 harmonic sum,
    and therefore a bit-for-bit SQL oracle — the sketch 100 TB distinct
    counting needs, with the gate-checkability engine-private HLL++ lacks.
    Spark's native approx_count_distinct (the raw-throughput variant — no
    md5 per key) stays tolerance-tested in tests/test_operators.py."""
    li = load(spark, sf_dir, "lineitem")
    regs = sketches.hll_registers(li, F.col("l_partkey"), ("l_returnflag",))
    return sketches.hll_estimate(regs, ("l_returnflag",), alias="approx_parts")


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg", "groupingsets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id (SQL API — same Catalyst plan)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id() AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.rollup — hierarchical subtotals."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.cube — all grouping combinations."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@register(
    "agg_min_by_max_by",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey DESC) AS rn_min
      FROM orders)
    SELECT o_orderpriority,
           MAX(o_orderkey) FILTER (rn_max = 1) AS priciest_order,
           MAX(o_orderkey) FILTER (rn_min = 1) AS cheapest_order,
           MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
    FROM ranked GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by with struct ordering keys so ties are deterministic
    (max: prefer larger orderkey; min: prefer larger orderkey too)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "priciest_order"
        ),
        F.min_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")))
        ).alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT l_returnflag,
           coalesce(array_to_string(
             list_sort(list_distinct(list(l_linestatus))), ','), '') AS statuses,
           coalesce(array_to_string(
             list_sort(list(l_linenumber) FILTER (WHERE l_quantity >= 49)), ','), '')
             AS big_linenums
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "array"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set / collect_list, sorted for determinism.

    Output arrays are serialized to canonical comma-joined strings on BOTH
    engines: the harness canonicalizer sorts result columns with pandas,
    which cannot hash ndarray cells — strings are hashable everywhere and
    preserve the semantics (sorted, deterministic order)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("l_quantity") >= 49, F.col("l_linenumber"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("big_linenums"),
    )


@register(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/corr/covar (small-magnitude → round-6 safe)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.stddev_samp("l_quantity")).alias("sd_qty"),
        r6(F.var_samp("l_quantity")).alias("var_qty"),
        r6(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r6(F.covar_samp("l_quantity", "l_discount")).alias("cov_qty_disc"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS median,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation, same def as quantile_cont)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.percentile("l_extendedprice", F.lit(0.25))).alias("p25"),
        r6(F.percentile("l_extendedprice", F.lit(0.5))).alias("median"),
        r6(F.percentile("l_extendedprice", F.lit(0.75))).alias("p75"),
    )


@register(
    "agg_conditional",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_finished,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS VARCHAR) AS DOUBLE) AS finished_total,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: sum(when(...)) ≡ FILTER (WHERE ...)."""
    o = load(spark, sf_dir, "orders")
    finished = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(finished, 1)).alias("n_finished"),
        money(F.sum(F.when(finished, dec("o_totalprice")))).alias("finished_total"),
        F.count("*").alias("n"),
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
    """,
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    o = load(spark, sf_dir, "orders")
    agged = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("_spend_dec"),
    )
    return (
        agged.filter((F.col("n_orders") >= 12) & (F.col("_spend_dec") > 1000000))
        .select("o_custkey", "n_orders", money(F.col("_spend_dec")).alias("spend"))
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS VARCHAR) AS DOUBLE) AS qty_O,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS VARCHAR) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with pinned value list (never let Spark scan for pivot values
    at scale) — oracle is the FILTER-per-column rewrite."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(money_sum_units(units("l_quantity"), 2))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT o_orderkey, kind, round(amount, 6) AS amount
    FROM (
      SELECT o_orderkey, 'price' AS kind, o_totalprice AS amount FROM orders
      UNION ALL
      SELECT o_orderkey, 'key_x10' AS kind, CAST(o_custkey * 10 AS DOUBLE) AS amount FROM orders
    )
    """,
    tags=("agg", "unpivot"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) via stack()."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            (F.col("o_custkey") * 10).cast("double").alias("key_x10"),
        )
        .unpivot("o_orderkey", ["price", "key_x10"], "kind", "amount")
        .select("o_orderkey", "kind", r6(F.col("amount")).alias("amount"))
    )


@register(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-phase aggregation (operators/skew.py): result
    identical to a plain groupBy — the oracle — but the hot key's rows
    spread over 16 sub-reducers in phase 1. l_returnflag has only 3 values,
    the canonical low-cardinality/hot-key shape."""
    from lagom_kinesis_spark.operators.skew import salted_sum_count

    li = load(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li,
        keys=["l_returnflag"],
        value=dec("l_quantity"),
        # row-unique compound key: l_orderkey alone repeats across a
        # whole order's lineitems, clumping them onto one sub-reducer
        # (join_salted_skew got this right from the start)
        unique_col=F.struct("l_orderkey", "l_linenumber"),
        n_salts=16,
    )
    return out.select("l_returnflag", money(F.col("total")).alias("total"), "n")


@register(
    "sql_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,2))
            * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          > (SELECT 2 * SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("sql", "subquery"),
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries — Catalyst decorrelates them into an
    aggregate + join (no per-row re-execution, unlike a naive interpreter);
    the SQL API and DataFrame API share the same plan.

    The 'price > 2×average' predicate is stated in EXACT integer/decimal
    arithmetic (price·count > 2·sum, both sides exact decimals) rather
    than a raw float AVG threshold: a double AVG can differ by an ulp
    across engines' summation orders, and a row landing inside that ulp
    would flip the kept set — the cross-engine float discipline every
    other aggregate here follows (helpers.py header)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2))
                * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
              > (SELECT 2 * SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                 FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "sql_cte_chain",
    oracle="""
    WITH cust_orders AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, n_orders,
             round(CAST(spend AS DOUBLE), 6) AS spend,
             ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rn
      FROM cust_orders
    )
    SELECT r.rn, r.o_custkey, c.c_name, r.n_orders, r.spend
    FROM ranked r JOIN customer c ON r.o_custkey = c.c_custkey
    WHERE r.rn <= 25
    """,
    tags=("sql", "cte"),
)
def sql_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs + window + join through the SQL API (top-25 customers
    by exact-decimal spend)."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        WITH cust_orders AS (
          SELECT o_custkey, COUNT(*) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY o_custkey
        ), ranked AS (
          SELECT o_custkey, n_orders,
                 round(CAST(spend AS DOUBLE), 6) AS spend,
                 ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rn
          FROM cust_orders
        )
        SELECT r.rn, r.o_custkey, c.c_name, r.n_orders, r.spend
        FROM ranked r JOIN customer c ON r.o_custkey = c.c_custkey
        WHERE r.rn <= 25
        """
    )


@register(
    "agg_percentile_approx",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ), approx AS (
      SELECT l_returnflag,
             round(CAST(MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN l_extendedprice END) AS DOUBLE), 6) AS approx_p25,
             round(CAST(MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN l_extendedprice END) AS DOUBLE), 6) AS approx_median,
             round(CAST(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN l_extendedprice END) AS DOUBLE), 6) AS approx_p90
      FROM ranked GROUP BY l_returnflag
    ), ex AS (
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5)::DOUBLE, 6) AS exact_median
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT a.l_returnflag, a.approx_p25, a.approx_median, a.approx_p90, ex.exact_median
    FROM approx a JOIN ex USING (l_returnflag)
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable GK summary): the 100 TB path for
    quantiles. Oracle-exact by the GK error bound: with accuracy A the
    rank error is at most N/A, so whenever N/A < 1 rank the sketch
    provably degenerates to the exact order statistic at rank ceil(p*N),
    which the oracle selects directly (verified partition-count-invariant:
    identical results at 1/7/32 partitions). A is the int32 max — the
    summary never compresses, so its buffer is bounded by the group's
    rows-per-partition, exactly like the exact `percentile` computed in
    the SAME aggregate — and the validated N/A ≤ 0.02 regime holds for
    groups up to ~42.9M rows. The regime precondition is enforced INSIDE
    the plan (count(*) per group feeding raise_error), so the query is a
    single job with no driver-side count pre-pass, and a too-large group
    fails loudly instead of silently de-exacting the oracle gate.
    Production would run lower A (true approximation, buffer O(A)); the
    tolerance check for that regime is tests/test_operators.py::
    test_percentile_approx_close_to_exact. exact_median (Spark
    `percentile`, linear interpolation) doubles as the closeness reference
    and matches DuckDB's quantile_cont bit-for-bit."""
    li = load(spark, sf_dir, "lineitem")
    acc = 2**31 - 1
    exact_guarded = F.when(
        F.count("*") > int(0.02 * acc),
        F.raise_error(
            F.concat(
                F.lit("group of "),
                F.count("*").cast("string"),
                F.lit(
                    " rows exceeds the oracle-exact regime for "
                    "percentile_approx; run the true-approximation variant"
                ),
            )
        ).cast("double"),
    ).otherwise(r6(F.percentile("l_extendedprice", F.lit(0.5))))
    return li.groupBy("l_returnflag").agg(
        r6(F.percentile_approx("l_extendedprice", 0.25, acc)).alias("approx_p25"),
        r6(F.percentile_approx("l_extendedprice", 0.5, acc)).alias("approx_median"),
        r6(F.percentile_approx("l_extendedprice", 0.9, acc)).alias("approx_p90"),
        exact_guarded.alias("exact_median"),
    )


@register(
    "agg_bool",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 2000) AS all_above_2k,
           bool_or(o_totalprice > 400000) AS any_above_400k,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "bool"),
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: bool_and / bool_or (ALL / ANY predicates)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 2000).alias("all_above_2k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_above_400k"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
    )


@register(
    "agg_linear_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    tags=("agg", "stats"),
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate (regr_slope/intercept/r2 semantics) of
    extendedprice on quantity per returnflag.

    Native ``regr_*`` accumulates floating partials whose summation order
    differs per engine; here the five moments accumulate in exact DECIMAL
    (quantity/price are 2-decimal-exact), are cast once to double, and the
    closed-form slope/intercept/r² arithmetic is the *same IEEE expression
    tree* on both engines — bit-identical, and still a single partial-combine
    hash aggregate at any scale."""
    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec("l_quantity") * dec("l_extendedprice")).cast("double").alias("sxy"),
        F.sum(dec("l_quantity") * dec("l_quantity")).cast("double").alias("sxx"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice"))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_n = n * sxx - sx * sx
    slope = cov_n / var_n
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        r6(slope).alias("slope"),
        r6((sy - slope * sx) / n).alias("intercept"),
        r6(cov_n * cov_n / (var_n * (n * syy - sy * sy))).alias("r2"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY cnt DESC, l_quantity) AS rn
      FROM counts
    )
    SELECT l_returnflag, l_quantity AS mode_quantity, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
    tags=("agg",),
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with a pinned tie-break (smallest value wins): native ``mode()``
    leaves ties engine-defined, so the deterministic form is count-per-value
    (hash aggregate, partial combine) then a rank over the *aggregated*
    (group, value) rows — the window never sees raw fact rows."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("l_returnflag").orderBy(F.desc("cnt"), "l_quantity")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_quantity"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "sql_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 6) AS o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey % 10 = 0
    """,
    tags=("sql", "join", "lateral"),
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer): the
    per-row-subquery surface every SQL user reaches for before learning
    window functions. Catalyst DECORRELATES it into a join + per-group
    limit — same result as `win_topk_per_group`'s formulation, via the
    rewrite path; the plan must never execute the subquery per row."""
    from lagom_kinesis_spark.catalog import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 6) AS o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey % 10 = 0
        """
    )


@register(
    "agg_hll_sketch_union",
    oracle=f"""
    WITH ex AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS sum_groupwise_exact FROM (
        SELECT COUNT(DISTINCT o_custkey) AS cnt
        FROM orders GROUP BY o_orderpriority
      )
    )
    SELECT est.est_total_custkeys, ex.sum_groupwise_exact
    FROM ({sketches.hll_oracle_sql("orders", "o_custkey", (), alias="est_total_custkeys")}) est, ex
    """,
    tags=("agg", "approx", "sketch", "scalar"),
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch UNION — THE 100 TB distinct-count architecture: each
    partition/day/segment builds its registers once; any rollup is a cheap
    register-wise max, never a re-scan. Built on the portable HLL
    (operators/sketches.py) so the unioned estimate is exactly
    SQL-oracle-checkable: per-priority register sketches are max-merged
    into one global sketch, which (max being associative+commutative)
    provably equals hashing the whole table — the property the oracle
    exploits. The native DataSketches pair (hll_sketch_agg/hll_union_agg,
    engine-private binaries) is tolerance-tested in
    tests/test_operators.py."""
    o = load(spark, sf_dir, "orders")
    per_prio = sketches.hll_registers(o, F.col("o_custkey"), ("o_orderpriority",))
    union = sketches.hll_union(per_prio, ())
    est = sketches.hll_estimate(union, (), alias="est_total_custkeys")
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("cnt")
    ).agg(F.sum("cnt").alias("sum_groupwise_exact"))
    return est.crossJoin(exact)


_HLL_SEG_A = "1-URGENT"
_HLL_SEG_B = "2-HIGH"


@register(
    "agg_hll_intersection",
    oracle=f"""
    SELECT round(ea.est_a + eb.est_b - eu.est_u, 6) AS est_intersection,
           ea.est_a, eb.est_b, eu.est_u, ex.n_exact_both
    FROM ({sketches.hll_oracle_sql(
        f"(SELECT * FROM orders WHERE o_orderpriority = '{_HLL_SEG_A}')",
        "o_custkey", (), alias="est_a")}) ea,
         ({sketches.hll_oracle_sql(
        f"(SELECT * FROM orders WHERE o_orderpriority = '{_HLL_SEG_B}')",
        "o_custkey", (), alias="est_b")}) eb,
         ({sketches.hll_oracle_sql(
        f"(SELECT * FROM orders WHERE o_orderpriority IN ('{_HLL_SEG_A}', '{_HLL_SEG_B}'))",
        "o_custkey", (), alias="est_u")}) eu,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_both FROM (
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '{_HLL_SEG_A}'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '{_HLL_SEG_B}'
         )) ex
    """,
    tags=("agg", "approx", "sketch", "scalar"),
)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: customers active in BOTH priority segments via
    inclusion-exclusion over portable-HLL estimates (|A∩B| ~ est(A) +
    est(B) - est(A∪B)) — the audience-overlap question answered from three
    fixed-size sketches with no re-scan and no join of the underlying
    sets. The union sketch is the register max-merge of the two segment
    sketches (duplicate-insensitivity makes overlapping inputs harmless);
    every estimate is deterministic int64 arithmetic, so even the DERIVED
    intersection estimate is SQL-oracle-exact. n_exact_both (an exact
    INTERSECT distinct count) rides along as the accuracy reference,
    tolerance-asserted in tests/test_operators.py."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == _HLL_SEG_A)
    b = o.filter(F.col("o_orderpriority") == _HLL_SEG_B)
    ra = sketches.hll_registers(a, F.col("o_custkey"), ())
    rb = sketches.hll_registers(b, F.col("o_custkey"), ())
    est_a = sketches.hll_estimate(ra, (), alias="est_a")
    est_b = sketches.hll_estimate(rb, (), alias="est_b")
    est_u = sketches.hll_estimate(
        sketches.hll_union(ra.unionAll(rb), ()), (), alias="est_u"
    )
    exact = (
        a.select("o_custkey")
        .distinct()
        .join(b.select("o_custkey").distinct(), "o_custkey")
        .agg(F.count("*").alias("n_exact_both"))
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(exact)
        .select(
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_u"), 6
            ).alias("est_intersection"),
            "est_a",
            "est_b",
            "est_u",
            "n_exact_both",
        )
    )


_THETA_A = "click"
_THETA_B = "purchase"
_THETA_EV = f"(SELECT * FROM events WHERE event_type IN ('{_THETA_A}', '{_THETA_B}'))"


@register(
    "agg_theta_sketch_setops",
    oracle=f"""
    WITH sk AS (
      SELECT * FROM {sketches.kmv_sketch_sql(_THETA_EV, "user_id", ("event_type",))}
    ), th AS (
      SELECT event_type,
             CASE WHEN COUNT(*) >= {sketches.THETA_K} THEN MAX(h)
                  ELSE {sketches.THETA_DOMAIN} END AS theta
      FROM sk GROUP BY event_type
    ), tmin AS (SELECT MIN(theta) AS theta FROM th
    ), flagged AS (
      SELECT sk.h,
             MAX(CASE WHEN sk.event_type = '{_THETA_A}' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN sk.event_type = '{_THETA_B}' THEN 1 ELSE 0 END) AS in_b
      FROM sk, tmin WHERE sk.h < tmin.theta GROUP BY sk.h
    ), c AS (
      SELECT COUNT(*)::BIGINT AS n_u,
             COALESCE(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_i,
             COALESCE(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END), 0)::BIGINT AS n_a,
             COALESCE(SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_b
      FROM flagged
    ), ex AS (
      SELECT COUNT(*)::BIGINT AS n_exact_intersection FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = '{_THETA_A}'
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE event_type = '{_THETA_B}'
      )
    )
    SELECT round(n_u::DOUBLE * {sketches.THETA_DOMAIN}::DOUBLE / theta::DOUBLE, 6) AS est_union,
           round(n_i::DOUBLE * {sketches.THETA_DOMAIN}::DOUBLE / theta::DOUBLE, 6) AS est_intersection,
           round(n_a::DOUBLE * {sketches.THETA_DOMAIN}::DOUBLE / theta::DOUBLE, 6) AS est_click_only,
           round(n_b::DOUBLE * {sketches.THETA_DOMAIN}::DOUBLE / theta::DOUBLE, 6) AS est_purchase_only,
           ex.n_exact_intersection
    FROM c, tmin, ex
    """,
    tags=("agg", "approx", "sketch", "scalar"),
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch SET ALGEBRA — the sketch HLL cannot provide:
    DIRECT union / intersection / difference estimates over two audience
    sets (users who click vs users who purchase) from two fixed-size
    sketches. Below a common theta = min(theta_a, theta_b), the retained
    hashes of both sketches form one coordinated uniform sample of the key
    space, so |expr ∩ [0, theta)| * DOMAIN / theta estimates ANY boolean
    set expression — including A\\B, where HLL's inclusion-exclusion
    degrades. Every quantity up to the final divide is exact int64 over
    the portable md5 hash (operators/sketches.py), so all four estimates
    are bit-reproducible by the SQL oracle; the exact intersection count
    rides along as the accuracy reference (tolerance-asserted in
    tests/test_operators.py). At the sf0.01 gate both sketches saturate
    (150 distinct users/type > k=64), so the driver exercises the
    estimation path, not the exact-set fallback."""
    from lagom_kinesis_spark.operators.sketches import kmv_estimate_expr

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_THETA_A, _THETA_B)
    )
    sk = sketches.kmv_sketch(ev, F.col("user_id"), ("event_type",))
    th = sketches.kmv_theta(sk, ("event_type",))
    tmin = th.agg(F.min("__kmv_theta").alias("theta"))
    flagged = (
        sk.crossJoin(F.broadcast(tmin))
        .filter(F.col("__kmv_h") < F.col("theta"))
        .groupBy("__kmv_h")
        .agg(
            F.max(
                F.when(F.col("event_type") == _THETA_A, 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == _THETA_B, 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    # coalesce(.., 0): on a degenerate fixture where `flagged` is empty
    # (no retained hash below theta-min), SUM yields NULL but the oracle's
    # COALESCE yields 0 — mirror it so the engines can't diverge.
    counts = flagged.agg(
        F.count("*").alias("n_u"),
        F.coalesce(
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_i"),
        F.coalesce(
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_a"),
        F.coalesce(
            F.sum(((F.col("in_a") == 0) & (F.col("in_b") == 1)).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_b"),
    )
    exact = (
        ev.filter(F.col("event_type") == _THETA_A)
        .select("user_id")
        .distinct()
        .join(
            ev.filter(F.col("event_type") == _THETA_B)
            .select("user_id")
            .distinct(),
            "user_id",
        )
        .agg(F.count("*").alias("n_exact_intersection"))
    )
    return (
        counts.crossJoin(F.broadcast(tmin))
        .crossJoin(exact)
        .select(
            kmv_estimate_expr(F.col("n_u"), F.col("theta")).alias("est_union"),
            kmv_estimate_expr(F.col("n_i"), F.col("theta")).alias(
                "est_intersection"
            ),
            kmv_estimate_expr(F.col("n_a"), F.col("theta")).alias(
                "est_click_only"
            ),
            kmv_estimate_expr(F.col("n_b"), F.col("theta")).alias(
                "est_purchase_only"
            ),
            "n_exact_intersection",
        )
    )


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderpriority, '|' ORDER BY o_orderdate, o_orderkey)
             AS priorities
    FROM orders WHERE o_custkey % 50 = 0
    GROUP BY o_custkey
    """,
    tags=("agg", "string"),
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP, SQL:2016 /
    Spark 4): per-customer priority history concatenated in
    (o_orderdate, o_orderkey) order — the unique tiebreak makes the
    concatenation deterministic on any engine (an unordered LISTAGG is
    shuffle-order-dependent and can never hash-match)."""
    from lagom_kinesis_spark.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey,
               listagg(o_orderpriority, '|')
                 WITHIN GROUP (ORDER BY o_orderdate, o_orderkey) AS priorities
        FROM orders WHERE o_custkey % 50 = 0
        GROUP BY o_custkey
        """
    )


@register(
    "agg_higher_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(l_quantity) AS s1,
             SUM(l_quantity * l_quantity) AS s2,
             SUM(l_quantity * l_quantity * l_quantity) AS s3,
             SUM(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(s1 / n, 6) AS mean,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skew_g1,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6) AS kurt_excess
    FROM s
    """,
    tags=("agg", "stats"),
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis from raw POWER SUMS — the
    partial-aggregatable formulation (n, Σx, Σx², Σx³, Σx⁴ combine
    map-side; the central-moment algebra runs on one row per group).
    Built-in skewness/kurtosis differ across engines in bias-correction
    convention; spelling the population-moment formula identically on
    both sides removes the convention from the comparison. Values are
    bounded (quantity ≤ 50), so the power sums stay exactly
    representable and the cancellation error is ≪ the round-6 quantum.
    """
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m * m
    m3 = F.col("s3") / F.col("n") - 3 * m * (F.col("s2") / F.col("n")) + 2 * m * m * m
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m * (F.col("s3") / F.col("n"))
        + 6 * m * m * (F.col("s2") / F.col("n"))
        - 3 * m * m * m * m
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        r6(m).alias("mean"),
        r6(m3 / F.pow(m2, F.lit(1.5))).alias("skew_g1"),
        r6(m4 / F.pow(m2, F.lit(2.0)) - 3).alias("kurt_excess"),
    )


@register(
    "agg_listagg_native",
    oracle="""
    SELECT s_nationkey,
           string_agg(s_name, '|' ORDER BY s_name) AS supplier_list
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("agg", "string"),
)
def agg_listagg_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE ``listagg(...) WITHIN GROUP (ORDER BY ...)``
    (SQL:2016) — the engine-side sibling of agg_listagg_ordered's
    collect-then-join formulation. Deterministic because supplier names
    are unique within a nation (the repo's unique-tiebreak discipline);
    the oracle is DuckDB's ordered string_agg."""
    register_views(spark, sf_dir, ("supplier",))
    return spark.sql(
        """
        SELECT s_nationkey,
               listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name)
                 AS supplier_list
        FROM supplier GROUP BY s_nationkey
        """
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH ordered AS (
      SELECT l_returnflag, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS total_w
      FROM lineitem
    )
    SELECT l_returnflag, CAST(ANY_VALUE(total_w) AS BIGINT) AS total_weight,
           MIN(v) AS weighted_median
    FROM ordered
    WHERE 2 * cumw >= total_w
    GROUP BY l_returnflag
    """,
    tags=("agg", "window"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group: the smallest value whose cumulative
    weight (quantity) reaches half the group's total — the
    volume-weighted 'typical price' that an unweighted percentile
    misreports whenever weights correlate with value. No built-in
    computes this on either engine; it is expressed as a cumulative-sum
    window + crossing filter, identically on both.

    Determinism: weights are exact int64 cumsums; the crossing VALUE is
    invariant to tie order inside equal-value runs (cum weight at run
    boundaries is permutation-invariant), and ordering is pinned anyway.
    Scale: one shuffle on the group key drives both windows; the filter
    + min collapse map-side after the window pass."""
    li = load(spark, sf_dir, "lineitem")
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("l_returnflag")
    wq = F.col("l_quantity").cast("long")
    ordered = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(wq).over(w_cum).alias("cumw"),
        F.sum(wq).over(w_all).alias("total_w"),
    )
    return (
        ordered.filter(2 * F.col("cumw") >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(
            F.first("total_w").alias("total_weight"),
            F.min("v").alias("weighted_median"),
        )
    )


@register(
    "agg_histogram_equiwidth",
    oracle="""
    WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
               FROM orders)
    SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19)
                AS BIGINT) AS bin,
           round(lo + CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19)
                           AS BIGINT) * ((hi - lo) / 20), 6) AS bin_lo,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                AS DOUBLE) AS bin_sum
    FROM orders, b
    GROUP BY 1, 2
    """,
    # "cross" acknowledges the deliberate 1-row broadcast-bounds crossJoin
    # (a BroadcastNestedLoopJoin with a single build row — the correct plan;
    # scripts/audit_plans.py whitelists cross-tagged queries).
    tags=("agg", "histogram", "cross"),
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (the profiling/EDA staple `histogram_numeric`
    approximates — this is the exact two-pass form): pass 1 computes the
    global [min, max], pass 2 bins every row by literal arithmetic and
    hash-aggregates. The bounds row is broadcast (one row), so at 100 TB
    this is two scans with map-side partial aggregation and zero row
    expansion; bin arithmetic is identical double math on both engines,
    and the top value is clamped into the last bin."""
    o = load(spark, sf_dir, "orders")
    bounds = F.broadcast(
        o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / 20
    bin_ = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(19)
    ).cast("long")
    return (
        o.crossJoin(bounds)
        .select(
            bin_.alias("bin"),
            r6(F.col("lo") + bin_ * width).alias("bin_lo"),
            "o_totalprice",
        )
        .groupBy("bin", "bin_lo")
        .agg(
            F.count("*").alias("n"),
            money_sum_units(units("o_totalprice"), 2).alias("bin_sum"),
        )
    )


@register(
    "agg_median_abs_deviation",
    oracle=events_cte(
        """
    , m AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), d AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN m USING (event_type)
    )
    SELECT event_type, round(MIN(med), 6) AS med,
           round(median(ad), 6) AS mad
    FROM d GROUP BY event_type
    """
    ),
    tags=("agg", "stats"),
)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per series — THE robust scale estimator
    (50% breakdown point vs stddev's 0%): the spread statistic an
    anomaly threshold should use when the data itself contains the
    anomalies being hunted. Two-level exact median: per-type median,
    broadcast back, median of absolute deviations.

    Spark's ``percentile(x, 0.5)`` and DuckDB's ``median`` both compute
    the exact interpolated median; the midpoint average of two doubles is
    correctly rounded on both engines, so round-6 holds. Scale: exact
    medians sort within groups — at true 100 TB each level swaps to
    ``percentile_approx`` unchanged in shape (the oracle-exact form is
    the correctness anchor)."""
    e = load(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    d = e.join(F.broadcast(m), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    return d.groupBy("event_type").agg(
        r6(F.min("med")).alias("med"),
        r6(F.expr("percentile(ad, 0.5)")).alias("mad"),
    )


@register(
    "agg_bitwise",
    oracle=events_cte(
        """
    SELECT event_type,
           bit_and(user_id) AS all_bits,
           bit_or(user_id) AS any_bits,
           bit_xor(user_id) AS parity_bits
    FROM events GROUP BY event_type
    """
    ),
    tags=("agg", "bitwise"),
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor): flag-mask
    rollups — 'which permission bits hold for EVERY row', 'which were
    ever set', and the order-invariant xor parity dq_table_checksum
    builds on. All exact int64; commutative/associative, so partial
    aggregation and any merge order are safe by construction."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("bit_and(user_id)").alias("all_bits"),
        F.expr("bit_or(user_id)").alias("any_bits"),
        F.expr("bit_xor(user_id)").alias("parity_bits"),
    )
