"""Closed-loop query workloads: one client runs registry queries back to back.

A run is: set-up; one untimed check pass that collects every query's output
and compares it with the DuckDB oracle over the same parquet (this pass also
warms the JVM, the Python workers and the catalog's per-table caches); then
timed passes, each in a seeded order, each query forced with the noop sink,
until ``seconds`` have passed (at least one pass).
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

import fixture
import harness

#: Queries of each workload, in the order listed by the workload's doc.
NEARDUP = (
    "dedup_minhash_lsh dedup_semantic_semdedup dedup_sorted_neighborhood "
    "dedup_embedding_cosine sim_topk_cosine sim_ann_ivf text_tfidf "
    "text_top_tokens pipeline_corpus_filter"
).split()
QUERY_MIX = (
    "flagship_revenue_by_nation agg_pricing_summary agg_count_distinct_multi "
    "join_multiway join_broadcast_dims join_asof win_topk_per_group "
    "win_running_total sort_multikey_rownum q_shipping_priority dedup_exact "
    "stream_tumbling_window stream_session_window stream_watermark_dedup"
).split()

#: dedup_minhash_lsh's registry oracle compares all document pairs
#: (12.5M at sf0.1; it does not finish in minutes here). Its predicate is
#: checked instead by this exact DuckDB formulation over the same parquet:
#: prefix filtering (two sets with Jaccard >= t share a token among the
#: first |A| - ceil(t|A|) + 1 tokens of each, under one global order) finds
#: every candidate, then the registry oracle's own expression verifies it.
#: t is the smallest Jaccard that rounds to 0.8 at 6 decimals.
MINHASH_EXACT = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sub AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 1)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM toks
), el AS (
  SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sub
), freq AS (
  SELECT s, count(*) AS f FROM el GROUP BY s
), ranked AS (
  SELECT el.doc_id, el.s, el.n,
         row_number() OVER (PARTITION BY el.doc_id ORDER BY freq.f, el.s) AS r
  FROM el JOIN freq USING (s)
), pref AS (
  SELECT doc_id, s FROM ranked WHERE r <= n - ceil(0.7999995 * n) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       round(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jac
FROM cand c JOIN sub a ON a.doc_id = c.id_a JOIN sub b ON b.doc_id = c.id_b
WHERE round(len(list_intersect(a.sh, b.sh))
            / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) >= 0.8
"""
ORACLE_OVERRIDE = {"dedup_minhash_lsh": MINHASH_EXACT}


#: Seed of the generated tables. The run's own seed orders the queries; the
#: tables stay fixed, so each oracle runs once per checkout (it is cached).
DATA_SEED = 42


def fixture_dir(sf: float) -> str:
    """Generated tables at ``sf``; sf1 is sf0.1 scaled by 10."""
    base = os.path.join(harness.WORK, "fixtures")
    if sf >= 1:
        src = fixture.write(0.1, DATA_SEED, os.path.join(base, f"sf0.1-s{DATA_SEED}"))
        return fixture.scaled(
            src, os.path.join(base, f"sf{sf:g}-s{DATA_SEED}"), int(sf / 0.1))
    return fixture.write(sf, DATA_SEED, os.path.join(base, f"sf{sf:g}-s{DATA_SEED}"))


def canonical_hash(pdf) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, value hash), canonicalized like the
    repo's sf0.01 gate (scripts/gate_sim.py): raw-name-sorted columns,
    rows sorted over every column, exact float repr."""
    sys.path.insert(0, os.path.join(harness.ROOT, "scripts"))
    from gate_sim import canon_frame, value_hash

    c = canon_frame(pdf)
    return len(c), tuple(c.columns), value_hash(c)


def oracle_hashes(con, queries, names, sf_dir: str) -> dict[str, tuple]:
    """DuckDB oracle results, cached by (oracle SQL, fixture contents)."""
    import json

    digest = hashlib.sha1()
    for t in sorted(os.listdir(sf_dir)):
        if t.endswith(".parquet"):
            with open(os.path.join(sf_dir, t), "rb") as f:
                digest.update(f.read())
    fx = digest.hexdigest()
    cache_dir = os.path.join(harness.WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for n in names:
        sql = ORACLE_OVERRIDE.get(n, queries[n].oracle)
        key = hashlib.sha1((fx + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                rows, cols, h = json.load(f)
        else:
            rows, cols, h = canonical_hash(con.sql(sql).df())
            with open(path, "w") as f:
                json.dump([rows, list(cols), h], f)
        out[n] = (rows, tuple(cols), h)
    return out


def run(spark, queries, names: list[str], sf_dir: str, seed: int, seconds: float,
        tracer: harness.Tracer, run_span, traced: bool, corrupt: str | None = None) -> dict:
    """Check pass, then timed passes. Returns the raw measurements."""
    import duckdb

    from lagom_kinesis_spark.catalog import TABLES

    failed: list[str] = []
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with tracer.span("oracle", "bench", parent=run_span):
        expected = oracle_hashes(con, queries, names, sf_dir)
    con.close()

    rng = random.Random(seed)
    with tracer.span("check_pass", "bench", parent=run_span):
        for n in rng.sample(names, len(names)):
            with tracer.span(f"check:{n}", "bench"):
                try:
                    pdf = queries[n].fn(spark, sf_dir).toPandas()
                    if n == corrupt and len(pdf):
                        pdf = pdf.iloc[1:]
                    got = canonical_hash(pdf)
                except Exception as e:  # noqa: BLE001 — a failing query is a result
                    print(f"# check {n}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
                    failed.append(n)
                    continue
            if got != expected[n]:
                print(f"# check {n}: rows {got[0]} vs oracle {expected[n][0]}", file=sys.stderr)
                failed.append(n)

    times: dict[str, list[float]] = {n: [] for n in names}
    builds: dict[str, list[float]] = {n: [] for n in names}
    spark_by_query: dict[str, dict[str, float]] = {}
    groups: list[tuple[str, str]] = []
    exec_failed = 0
    sc = spark.sparkContext
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < seconds:
        with tracer.span(f"pass:{passes}", "bench", parent=run_span):
            for n in rng.sample(names, len(names)):
                group = f"perfbench-{passes}-{n}"
                groups.append((n, group))
                sc.setJobGroup(group, n)
                with tracer.span(f"query:{n}", "queries"):
                    try:
                        t0 = time.perf_counter()
                        with tracer.span(f"build:{n}", "queries"):
                            df = queries[n].fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with tracer.span(f"execute:{n}", "spark"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    except Exception as e:  # noqa: BLE001
                        print(f"# run {n}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
                        exec_failed += 1
                        continue
                times[n].append(t2 - t0)
                builds[n].append(t1 - t0)
        passes += 1
    wall = time.perf_counter() - t_start
    sc.setJobGroup("perfbench-idle", "idle")
    totals: dict[str, float] = {}
    if traced:
        for n, group in groups:
            got = harness.stage_totals(spark, *harness.group_jobs(spark, group))
            spark_by_query[n] = harness.add_totals(spark_by_query.get(n, {}), got)
            totals = harness.add_totals(totals, got)
    return {
        "times": times, "builds": builds, "spark_by_query": spark_by_query,
        "passes": passes, "wall_s": wall, "spark": totals,
        "check_failed": failed, "exec_failed": exec_failed,
    }


def metrics(raw: dict, names: list[str]) -> tuple[dict, dict]:
    """End-to-end and per-layer metrics from :func:`run`'s measurements."""
    # Percentiles over each query's median time: the mix is heterogeneous,
    # so a percentile over single executions lands on whichever small
    # query's noisiest run sits at that rank.
    ran = [n for n in names if raw["times"][n]]
    medians = [harness.median(raw["times"][n]) for n in ran]
    pass_s = sum(medians)
    e2e = {
        # Queries per second of one pass made of each query's median time.
        "throughput_per_s": (len(ran) / pass_s if pass_s else 0.0, "1/s"),
        "latency_p50_s": (harness.median(medians), "s"),
        "latency_tail_s": (harness.percentile(medians, 90), "s"),
    }
    layer = {}
    for n in names:
        layer[f"query.{n}.p50_s"] = (harness.median(raw["times"][n]), "s")
        layer[f"query.{n}.build_s"] = (harness.median(raw["builds"][n]), "s")
    timed_sum = sum(t for n in names for t in raw["times"][n])
    build_sum = sum(t for n in names for t in raw["builds"][n])
    layer["queries.build_share"] = (build_sum / timed_sum if timed_sum else 0.0, "fraction")
    return e2e, layer
