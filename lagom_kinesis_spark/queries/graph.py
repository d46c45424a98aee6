"""Graph analytics over relationship edges derived from the relational
tables: fixed-iteration PageRank and degree statistics on the
supplier-nation → customer-nation trade graph.

Companion to ``operators/components.py`` (connected components over the
near-dup graph): together they cover the two iterative-graph shapes an
analytics engine needs — fixpoint label propagation (components) and
damped score propagation (PageRank).

Scale notes:
- the edge list is built once with dimension joins and aggregated to
  (src, dst, w) — at 100 TB the edge aggregation is the only
  fact-table-sized shuffle; everything after runs on edge/vertex
  cardinality;
- each PageRank iteration is join(edges, ranks on src) →
  groupBy(dst).sum — the classic vertex-program-as-join formulation
  (Pregel/GraphX's plan, expressed relationally so Catalyst handles
  it). Edges stay partitioned on src across iterations, ranks are the
  small side (vertex cardinality ≪ edge cardinality) and AQE
  broadcast-picks them when they fit;
- iterations are UNROLLED (fixed k=3), so there is no driver-side
  convergence loop and no lineage explosion to checkpoint (contrast
  components.py, which iterates to fixpoint and must truncate lineage).

Determinism: edge weights are exact integer counts; rank arithmetic is
double with identical literal formulas on both engines, rounded to 6
at the end only (per-node partial sums are ≤ vertex-degree terms of
magnitude ~1e-2 — float error ~1e-15, far below the rounding quantum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import load
from lagom_kinesis_spark.functions import hash_build, r6
from lagom_kinesis_spark.registry import register

#: Shared oracle CTE: trade edges (supplier nation → customer nation,
#: weight = lineitem count), out-weights, and normalized fractions.
_EDGES_SQL = """
    edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src),
    en AS (
      SELECT e.src, e.dst,
             CAST(e.w AS DOUBLE) / CAST(o.wout AS DOUBLE) AS frac
      FROM edges e JOIN outw o ON e.src = o.src
    )
"""


def _edges_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w, frac): weighted trade edges with out-normalized
    transition fractions. Mirrors :data:`_EDGES_SQL` exactly."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("dst")
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("src")
    )
    edges = (
        li.join(hash_build(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    return edges.join(outw, "src").withColumn(
        "frac", F.col("w").cast("double") / F.col("wout").cast("double")
    )


@register(
    "graph_pagerank",
    oracle=f"""
    WITH {_EDGES_SQL},
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nation),
    r0 AS (
      SELECT n_nationkey AS node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nation, nn
    ),
    r1 AS (
      SELECT v.n_nationkey AS node,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.frac), 0) AS pr
      FROM nation v CROSS JOIN nn
      LEFT JOIN en e ON e.dst = v.n_nationkey
      LEFT JOIN r0 r ON r.node = e.src
      GROUP BY v.n_nationkey, nn.n
    ),
    r2 AS (
      SELECT v.n_nationkey AS node,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.frac), 0) AS pr
      FROM nation v CROSS JOIN nn
      LEFT JOIN en e ON e.dst = v.n_nationkey
      LEFT JOIN r1 r ON r.node = e.src
      GROUP BY v.n_nationkey, nn.n
    ),
    r3 AS (
      SELECT v.n_nationkey AS node,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.frac), 0) AS pr
      FROM nation v CROSS JOIN nn
      LEFT JOIN en e ON e.dst = v.n_nationkey
      LEFT JOIN r2 r ON r.node = e.src
      GROUP BY v.n_nationkey, nn.n
    )
    SELECT r3.node AS n_nationkey, nat.n_name, round(r3.pr, 6) AS pr
    FROM r3 JOIN nation nat ON nat.n_nationkey = r3.node
    """,
    tags=("graph", "iterative", "join", "scalar"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, k=3 unrolled iterations) over the
    weighted supplier-nation → customer-nation trade graph.

    Each iteration: ranks ⋈ edges on src (rank side is
    vertex-cardinality — AQE broadcasts it when small), partial-agg
    SUM(pr·frac) by dst, then the damping update against the full
    vertex set (dangling/unreferenced vertices keep the (1−d)/N floor).
    No ``.collect()``, no driver loop state — the whole k-step
    computation is one declarative plan.
    """
    en = _edges_normalized(spark, sf_dir)
    nation = load(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            r.join(en, r.node == en.src)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("frac")).alias("cin"))
        )
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("cin"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        r.join(F.broadcast(nation), r.node == nation.n_nationkey)
        .select(F.col("node").alias("n_nationkey"), "n_name", r6("pr").alias("pr"))
    )


@register(
    "graph_degree_stats",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
      SELECT src AS node,
             COUNT(*) AS out_degree,
             CAST(SUM(w) AS BIGINT) AS out_weight
      FROM edges GROUP BY src
    ),
    ind AS (
      SELECT dst AS node, COUNT(*) AS in_degree FROM edges GROUP BY dst
    )
    SELECT v.n_nationkey, v.n_name,
           COALESCE(d.out_degree, 0) AS out_degree,
           COALESCE(d.out_weight, 0) AS out_weight,
           COALESCE(i.in_degree, 0) AS in_degree
    FROM nation v
    LEFT JOIN deg d ON d.node = v.n_nationkey
    LEFT JOIN ind i ON i.node = v.n_nationkey
    """,
    tags=("graph", "agg"),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex degree profile of the trade graph: distinct out/in
    neighbors and total outbound edge weight per nation — the standard
    pre-flight skew diagnostic before any iterative graph run (heavy
    vertices predict shuffle hot spots; see operators/skew.py)."""
    en = _edges_normalized(spark, sf_dir)
    deg = en.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_degree"), F.sum("w").alias("out_weight")
    )
    ind = en.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    nation = load(spark, sf_dir, "nation")
    return (
        nation.join(deg, nation.n_nationkey == deg.node, "left")
        .drop("node")
        .join(ind, nation.n_nationkey == ind.node, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("out_weight", F.lit(0)).alias("out_weight"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_EDGES_SQL},
    ue AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM en WHERE src <> dst
    )
    SELECT COUNT(*) AS n_triangles
    FROM ue e1
    JOIN ue e2 ON e2.u = e1.u AND e1.v < e2.v
    JOIN ue e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
    # oracle_heavy: the oracle's unordered 3-way wedge join materializes
    # O(sum deg²) rows — DuckDB hit >100 GB on the 6M-edge sf1 graph
    # (the Spark side stays degree-ordered-bounded). Gate-scale only;
    # scaled sweeps (scripts/gate_sim.py on a fixture larger than the
    # gate's) skip it like the quadratic dedup oracles.
    tags=("graph", "join", "scalar", "oracle_heavy"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the undirected nation-trade graph.

    Scale path: the standard degree-ordered orientation — every undirected
    edge is directed from its lower-(degree, id) endpoint to the higher, so
    each triangle is enumerated exactly once at its lowest-ranked vertex
    and every wedge-join fan-out is bounded by the *oriented* out-degree
    (O(sqrt(|E|)) per node after orientation, vs the raw max degree).
    The oracle counts the same set with the simpler id-ordered 3-way join,
    which is equivalent for the count but quadratic in max degree — fine
    for an oracle, wrong for a billion-edge graph.
    """
    en = _edges_normalized(spark, sf_dir)
    ue = (
        en.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    deg = (
        ue.select(F.col("u").alias("node"))
        .unionAll(ue.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # rank = (deg, id) total order; orient edges low-rank -> high-rank.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # No broadcast hint: the degree table is vertex-cardinality, so an
    # unconditional broadcast fails at billion-vertex scale. Let AQE
    # broadcast when it measures the build side small (same discipline as
    # pagerank's rank⋈edges join above).
    ranked = ue.join(du, "u").join(dv, "v")
    oe = ranked.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.col("u"),
        )
        .otherwise(F.col("v"))
        .alias("a"),
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.col("v"),
        )
        .otherwise(F.col("u"))
        .alias("b"),
    )
    e1 = oe.select(F.col("a"), F.col("b").alias("x"))
    e2 = oe.select(F.col("a"), F.col("b").alias("y"))
    wedges = e1.join(e2, "a").filter(F.col("x") < F.col("y"))
    closing = oe.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    return wedges.join(closing, ["x", "y"]).agg(
        F.count("*").alias("n_triangles")
    )


@register(
    "graph_reachability_recursive",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ), step AS (
      SELECT dst, 1 AS hops FROM edges WHERE src = (SELECT MIN(src) FROM edges)
      UNION ALL
      SELECT e.dst, s.hops + 1 FROM step s JOIN edges e ON e.src = s.dst
      WHERE s.hops < 3
    )
    SELECT dst AS nation, MIN(hops) AS min_hops FROM step GROUP BY dst
    """,
    tags=("graph", "sql", "modern"),
)
def graph_reachability_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS reachability over the trade graph via WITH
    RECURSIVE (Spark 4) — minimum hop count from the lowest-keyed source
    nation to every nation reachable in ≤3 hops. Complements the unrolled
    iterative family (PageRank k=3, components fixpoint): here the
    ITERATION ITSELF is declarative — each recursion level is one
    distributed join over the frontier, and the depth guard bounds work
    on a cyclic graph. Scale: recursion runs on the AGGREGATED edge list
    (dimension-cardinality, not fact-cardinality); the single
    fact-table-sized shuffle is the edge aggregation, shared with every
    other graph query."""
    from lagom_kinesis_spark.catalog import register_views

    register_views(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier")
    )
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        ), step AS (
          SELECT dst, 1 AS hops
          FROM edges WHERE src = (SELECT MIN(src) FROM edges)
          UNION ALL
          SELECT e.dst, s.hops + 1 FROM step s JOIN edges e ON e.src = s.dst
          WHERE s.hops < 3
        )
        SELECT dst AS nation, MIN(hops) AS min_hops FROM step GROUP BY dst
        """
    )


@register(
    "graph_jaccard_link_prediction",
    oracle="""
    WITH pe AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    deg AS (SELECT l_suppkey, COUNT(*) AS d FROM pe GROUP BY l_suppkey),
    common AS (
      SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS n_common
      FROM pe a JOIN pe b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    )
    SELECT s1, s2, n_common,
           round(CAST(n_common AS DOUBLE) / (d1.d + d2.d - n_common), 6)
             AS jaccard
    FROM common
    JOIN deg d1 ON s1 = d1.l_suppkey
    JOIN deg d2 ON s2 = d2.l_suppkey
    ORDER BY jaccard DESC, s1, s2 LIMIT 20
    """,
    tags=("graph", "similarity"),
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction on the supplier co-supply graph: two
    suppliers are 'close' when the part sets they ship overlap; the
    top-20 non-adjacent-pair scores are the predicted links. This is the
    common-neighbors family of graph ML features, expressed relationally:
    candidate pairs come from co-occurrence on a shared part (an
    equi-join), never from a supplier x supplier cartesian.

    Scale: the distinct edge list is one shuffle; pair generation
    fans out per part as degree^2, so a hot part (celebrity node) is the
    skew risk — the mitigation at 100 TB is degree-capping or salting the
    handful of super-nodes (joins.py's salted-skew pattern), which
    changes candidate recall, not this plan's shape. Degrees broadcast;
    the top-20 is TakeOrderedAndProject (per-partition partial top-k)."""
    pe = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a = pe.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s1"))
    b = pe.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s2"))
    common = (
        a.join(b, (a.pk == b.pk) & (a.s1 < b.s2))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_common"))
    )
    deg = pe.groupBy("l_suppkey").agg(F.count("*").alias("d"))
    d1 = deg.select(F.col("l_suppkey").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("l_suppkey").alias("s2"), F.col("d").alias("d2"))
    jac = (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.orderBy(F.col("jaccard").desc(), "s1", "s2").limit(20)
