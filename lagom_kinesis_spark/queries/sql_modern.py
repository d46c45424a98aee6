"""Modern SQL-API surface (Spark 4.x): pipe syntax, GROUP BY ALL,
parameterized queries.

The reference exposes its query surface through a typed DSL only; a Spark
user additionally gets the SQL front door, and Spark 4 grew three
ergonomics features worth pinning as first-class engine surface (each is
pure Catalyst sugar — identical logical plans to the classic phrasing, so
they inherit every optimization and the exact-oracle discipline):

- **SQL pipe syntax** (`FROM t |> WHERE ... |> AGGREGATE ...`,
  SPARK-49555): linear dataflow phrasing of the classic SELECT.
- **GROUP BY ALL**: grouping keys inferred from the non-aggregate select
  list.
- **Parameterized SQL** (`spark.sql(query, args=...)`): named-parameter
  binding server-side — no string interpolation, injection-safe.

Money columns follow the exact-decimal accumulation discipline
(CAST AS DECIMAL(18,2) before SUM) on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lagom_kinesis_spark.catalog import register_views
from lagom_kinesis_spark.registry import register
from lagom_kinesis_spark.session import scoped_confs


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS gross
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY l_returnflag
    HAVING COUNT(*) > 10
    """,
    tags=("sql", "modern"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-operator phrasing (Spark 4 `|>`): scan → filter →
    aggregate → post-aggregate filter as a linear pipeline. Catalyst
    resolves it to the identical plan as the classic SELECT (filter
    pushdown, partial aggregation and all), which is exactly why the
    classic-SQL oracle is the right check."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= DATE '1995-01-01'
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS gross
           GROUP BY l_returnflag
        |> WHERE n_items > 10
        |> SELECT l_returnflag, n_items, gross
        """
    )


@register(
    "sql_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS spend
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    tags=("sql", "modern"),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL: grouping keys inferred from the select list's
    non-aggregate columns — resolves to the explicit GROUP BY the oracle
    spells out."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS spend
        FROM orders
        GROUP BY ALL
        """
    )


@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderdate < DATE '1997-01-01'
    GROUP BY o_orderpriority
    """,
    tags=("sql", "modern"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (`spark.sql(query, args=...)`): literals bound
    server-side as typed parameters, not interpolated text — the
    injection-safe production phrasing. The oracle inlines the same
    constants."""
    import datetime

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_totalprice > :lo AND o_orderdate < :cutoff
        GROUP BY o_orderpriority
        """,
        args={"lo": 150000.0, "cutoff": datetime.date(1997, 1, 1)},
    )


@register(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 200000.0
    GROUP BY o_orderpriority
    """,
    tags=("sql", "modern"),
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL (Spark 4 `EXECUTE IMMEDIATE ... USING`) composed with
    the `IDENTIFIER()` clause: the statement text binds both the TABLE
    NAME and a predicate constant as positional parameters — the
    metadata-driven query-generation path (think: one audited statement
    template over many tables), injection-safe on both binds. Resolves to
    the identical plan as the static phrasing, hence the classic oracle."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n
           FROM IDENTIFIER(?) WHERE o_totalprice > ?
           GROUP BY o_orderpriority'
          USING 'orders', 200000.0D
        """
    )


@register(
    "udf_sql_function",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 6) AS gross
    FROM lineitem WHERE l_orderkey % 40 = 0
    """,
    tags=("sql", "modern", "udf"),
)
def udf_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (Spark 4 `CREATE FUNCTION ... RETURNS ... RETURN
    expr`): user-defined logic that stays a Catalyst EXPRESSION — inlined
    into whole-stage codegen, optimizer-visible, no Python boundary; the
    fastest UDF tier of the §2B UDF surface and the one a 100 TB hot path
    should prefer. The oracle inlines the same expression."""
    register_views(spark, sf_dir, ("lineitem",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION gross_of(
          p DOUBLE, d DOUBLE) RETURNS DOUBLE
        RETURN round(p * (1 - d), 6)
        """
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               gross_of(l_extendedprice, l_discount) AS gross
        FROM lineitem WHERE l_orderkey % 40 = 0
        """
    )


@register(
    "sql_session_variables",
    oracle="""
    WITH avg_price AS (
      SELECT AVG(o_totalprice) AS a FROM orders
    )
    SELECT o_orderpriority, COUNT(*) AS n_above_avg
    FROM orders, avg_price WHERE o_totalprice > a
    GROUP BY o_orderpriority
    """,
    tags=("sql", "modern"),
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables (Spark 4 `DECLARE VARIABLE` / `SET VAR`): a
    scalar computed once into session state, then referenced like a
    literal in later statements — the multi-statement scripting surface.
    The oracle inlines the subquery the variable held. (The variable's
    double value feeds only a comparison, not output — no float-output
    determinism exposure.)"""
    register_views(spark, sf_dir, ("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE lks_avg_price DOUBLE")
    spark.sql("SET VAR lks_avg_price = (SELECT AVG(o_totalprice) FROM orders)")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_above_avg
        FROM orders WHERE o_totalprice > lks_avg_price
        GROUP BY o_orderpriority
        """
    )


@register(
    "api_pandas_on_spark",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("api", "modern"),
)
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark front door (`pyspark.pandas`): the pandas
    drop-in API compiling to the SAME Catalyst plans as the DataFrame
    API — a distinct user surface (the one a pandas-native data scientist
    reaches for first), not a distinct engine. groupby/agg here plans as
    partial+final hash aggregation like every other aggregate in this
    repo; outputs are count/min/max — determinism-safe without the
    decimal-accumulation machinery pandas-on-Spark's astype cannot
    express (money sums stay on the DataFrame/SQL surfaces). Oracle:
    plain SQL GROUP BY."""
    import warnings

    from lagom_kinesis_spark.catalog import path_of

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import pyspark.pandas as ps

        psdf = ps.read_parquet(path_of(sf_dir, "orders"))
        out = (
            psdf.groupby("o_orderpriority")
            .agg(
                n=("o_orderkey", "count"),
                min_price=("o_totalprice", "min"),
                max_price=("o_totalprice", "max"),
            )
            .reset_index()
        )
        sdf = out.to_spark()
    from pyspark.sql import functions as F

    return sdf.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        "min_price",
        "max_price",
    )


@register(
    "join_lateral_df_api",
    oracle="""
    SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name, s.s_acctbal
    FROM nation n, LATERAL (
      SELECT s_suppkey, s_name, s_acctbal FROM supplier
      WHERE s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_suppkey LIMIT 2
    ) s
    """,
    tags=("join", "modern", "lateral"),
)
def join_lateral_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's DataFrame ``lateralJoin`` with ``.outer()`` column
    references — the API sibling of sql_lateral_topn's SQL LATERAL: per
    nation, the top-2 suppliers by (acctbal DESC, suppkey) computed by a
    correlated subquery DataFrame. Catalyst decorrelates to the same
    join + per-group-limit plan as the SQL phrasing; inner semantics
    (supplier-less nations drop) match the comma-LATERAL oracle."""
    from pyspark.sql import functions as F

    from lagom_kinesis_spark.catalog import load

    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = load(spark, sf_dir, "supplier")
    sub = (
        s.where(F.col("s_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("s_acctbal").desc(), "s_suppkey")
        .limit(2)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    return n.lateralJoin(sub)


@register(
    "sort_transpose_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
      FROM lineitem GROUP BY l_returnflag
    ), long AS (
      SELECT l_returnflag, 'n' AS key, n AS v FROM s
      UNION ALL SELECT l_returnflag, 'min_qty', mn FROM s
      UNION ALL SELECT l_returnflag, 'max_qty', mx FROM s
    )
    SELECT key,
           MAX(CASE WHEN l_returnflag = 'A' THEN v END) AS a,
           MAX(CASE WHEN l_returnflag = 'N' THEN v END) AS n,
           MAX(CASE WHEN l_returnflag = 'R' THEN v END) AS r
    FROM long GROUP BY key
    """,
    tags=("sort", "modern"),
)
def sort_transpose_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose()`` (Spark 4): flip a small stats frame so
    metrics become rows and group values become columns — the
    report-shaping sibling of pivot/unpivot, bounded by construction
    (transpose of an AGGREGATE, never raw data: the output width is the
    group-key cardinality). The oracle rebuilds the transposed matrix
    with conditional aggregation."""
    from pyspark.sql import functions as F

    from lagom_kinesis_spark.catalog import load

    li = load(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    t = stats.transpose()
    # transpose() names value columns after the data ('A','N','R'); DuckDB
    # folds unquoted aliases to lowercase, and the driver's compare sorts
    # columns case-SENSITIVELY — lowercase to match the oracle exactly.
    return t.toDF(*[c.lower() for c in t.columns])


@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth FROM customer
      UNION ALL
      SELECT node, CAST(FLOOR(anc / 10) AS BIGINT) AS anc, depth + 1 AS depth
      FROM chain WHERE anc > 0
    )
    SELECT depth AS hops, COUNT(*) AS n_customers
    FROM chain WHERE anc = 0 GROUP BY depth
    """,
    tags=("sql", "modern"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): iterate-until-empty inside one SQL
    statement — the hierarchy/graph-traversal front door that previously
    required driver-side loop unrolling (graph.py's PageRank pattern).
    Walks each customer key's integer-division ancestor chain
    (k → ⌊k/10⌋ → … → 0, a synthetic but deterministic tree over fixture
    keys) and histograms chain depth. Scale: each recursion level is one
    distributed step over a strictly-shrinking frontier, and depth is
    O(log key) — the row volume is N·digits, linear in the table; Spark's
    cteRecursionLevelLimit (default 100) bounds runaway recursion."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth
          FROM customer
          UNION ALL
          SELECT node, CAST(FLOOR(anc / 10) AS BIGINT) AS anc,
                 depth + 1 AS depth
          FROM chain WHERE anc > 0
        )
        SELECT depth AS hops, COUNT(*) AS n_customers
        FROM chain WHERE anc = 0 GROUP BY depth
        """
    )


@register(
    "sql_star_except",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_custkey <= 200
    """,
    tags=("sql",),
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCEPT (cols)`` — projection by exclusion (Spark 4 /
    BigQuery / DuckDB-EXCLUDE style): keep everything but the named
    columns, the ergonomic front door for wide tables where enumerating
    80 survivors to drop 2 is unmaintainable. The oracle enumerates the
    surviving columns explicitly, proving EXCEPT resolves to exactly
    that projection (and column pruning still reaches the scan)."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        "SELECT * EXCEPT (c_nationkey, c_acctbal) FROM customer "
        "WHERE c_custkey <= 200"
    )


@register(
    "sql_identifier_clause",
    oracle="""
    SELECT l_returnflag AS flag, COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sql", "modern"),
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` clause (Spark 4): table AND column names
    bound from parameters as identifiers, not string-spliced SQL — the
    injection-safe front door for templated jobs ("run this rollup over
    table X grouped by column Y"). Resolution happens at parse time, so
    the bound plan is byte-identical to the literal phrasing and keeps
    pushdown/pruning; a value that is not a lexical identifier is a parse
    error, never a WHERE-clause payload."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS flag, COUNT(*) AS n_items
        FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:grp)
        """,
        args={"tbl": "lineitem", "grp": "l_returnflag"},
    )


@register(
    "sql_unpivot_clause",
    oracle="""
    SELECT o_orderpriority, metric,
           CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total
    FROM (
      SELECT o_orderpriority, 'price' AS metric, o_totalprice AS v FROM orders
      UNION ALL
      SELECT o_orderpriority, 'key_x10', o_orderkey * 10.0 FROM orders
    )
    GROUP BY 1, 2
    """,
    tags=("sql", "modern", "agg"),
)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``UNPIVOT`` clause (Spark 3.4+ standard syntax) — the
    declarative front door to the same melt the DataFrame ``unpivot``
    (agg_unpivot) performs; parses to the identical Expand node, so
    pruning and partial aggregation are unchanged. Oracle: the explicit
    UNION ALL long form."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, metric,
               CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
                 AS total
        FROM (
          SELECT o_orderpriority, o_totalprice AS price,
                 o_orderkey * 10.0 AS key_x10
          FROM orders
        ) UNPIVOT (v FOR metric IN (price, key_x10))
        GROUP BY 1, 2
        """
    )


@register(
    "sql_pivot_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
                              THEN CAST(l_quantity AS DECIMAL(18,2)) END)
                AS VARCHAR) AS DOUBLE) AS qty_open,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
                              THEN CAST(l_quantity AS DECIMAL(18,2)) END)
                AS VARCHAR) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sql", "modern", "agg"),
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``PIVOT`` clause with a PINNED value list — same rule as
    the DataFrame pivot (agg_pivot): never let the engine scan for pivot
    values (an extra pass AND a nondeterministic column set). Oracle:
    the conditional-aggregation long form every pivot desugars to."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(CAST(qty_open AS STRING) AS DOUBLE) AS qty_open,
               CAST(CAST(qty_filled AS STRING) AS DOUBLE) AS qty_filled
        FROM (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS DECIMAL(18,2)) AS q
          FROM lineitem
        ) PIVOT (SUM(q) FOR l_linestatus IN ('O' AS qty_open, 'F' AS qty_filled))
        """
    )


@register(
    "sql_scripting_while",
    oracle="""
    WITH ks AS (SELECT range AS k FROM range(0, 64)),
         counts AS (
           SELECT k, 1000.0 * power(2, k) AS thr,
                  (SELECT COUNT(*) FROM orders o
                   WHERE o.o_totalprice > 1000.0 * power(2, k)) AS n_above
           FROM ks
         ),
         fixpoint AS (
           SELECT thr FROM counts
           WHERE n_above * 2 <= (SELECT COUNT(*) FROM orders)
           ORDER BY k LIMIT 1
         )
    SELECT o_orderpriority,
           CAST((SELECT thr FROM fixpoint) AS BIGINT) AS threshold,
           COUNT(*) AS n
    FROM orders WHERE o_totalprice > (SELECT thr FROM fixpoint)
    GROUP BY o_orderpriority
    """,
    tags=("sql", "modern", "scripting"),
)
def sql_scripting_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 ``BEGIN … END`` with ``DECLARE``/``WHILE``/
    ``SET``): procedural control flow whose loop condition is a live query
    — double a price threshold until at most HALF the orders clear it,
    then report the surviving orders per priority at the converged
    threshold. The iterative-driver surface (think: convergence loops,
    retry-until-empty maintenance jobs) expressed INSIDE the SQL front
    door rather than in Python host code.

    Determinism: thresholds are 1000·2^k — exact doubles for every
    reachable k — so both engines compare against bit-identical
    constants; the oracle states the loop's fixpoint in closed form
    (smallest k with 2·count ≤ total). The exit condition is RELATIVE
    (share of orders, not an absolute count) so the fixpoint is
    scale-invariant and non-empty at every fixture size — the TPC-H
    price distribution tops out just under 512k, so any absolute exit
    bound lands the loop on the empty 512k tier at some scale (the
    0-row-oracle trap, ARCHITECTURE.md round-8). Each iteration is a
    column-pruned COUNT over orders; the loop depth is data-bounded at
    ~log2(max price/1000) ≈ 9 iterations regardless of scale, and the
    final SELECT is one ordinary aggregate — scripting adds driver-side
    control flow only, never a per-row surface."""
    register_views(spark, sf_dir, ("orders",))
    # Scoped (the shared gate session must not stay mutated after this
    # call): the conf only gates PARSING of the BEGIN block, which happens
    # inside spark.sql(), so restoring after it returns cannot affect the
    # returned DataFrame.
    with scoped_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE total BIGINT DEFAULT 0;
              DECLARE thr DOUBLE DEFAULT 1000.0;
              SET total = (SELECT COUNT(*) FROM orders);
              WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr) * 2
                    > total DO
                SET thr = thr * 2;
              END WHILE;
              SELECT o_orderpriority,
                     CAST(thr AS BIGINT) AS threshold,
                     COUNT(*) AS n
              FROM orders WHERE o_totalprice > thr
              GROUP BY o_orderpriority;
            END
            """
        )
