"""The oracle runner: every registered query vs its DuckDB oracle, compared
and recorded the way the driver's correctness gate does it (pandas
sort_values over raw-name-sorted columns + exact value hash).

Usage:
    python scripts/gate_sim.py [--sf DIR] [--only a,b] [--fresh-untuned] [--resume]

- ``--sf``: fixture dir (default ``DEFAULT_SF``, the gate's sf0.01). On a
  fixture with more documents than the gate's (scaled sweeps, e.g. sf1
  built with scripts/make_scaled_fixture.py) the ``oracle_quadratic`` /
  ``oracle_heavy`` queries are skipped: their all-pairs oracles blow up.
- ``--only``: comma-separated exact query names.
- ``--fresh-untuned``: run in a plain local session the engine never
  tuned (the driver owns its session), after the ``entry()`` smoke.
- ``--resume``: keep the passing records of the last run on this fixture
  and re-run only the rest.

Queries run in driver order (``__spark_entry__.queries()``). One record per
query, with exactly the driver's keys (CORRECTNESS_r*.json), is written to
``results_path(sf_dir)`` after every query. Exit status 1 if any fails.

``canon_frame`` + ``value_hash`` are the one canonicalizer: tests/conftest
asserts through ``compare`` and perfbench caches oracle hashes made with
them, so their output bytes are pinned by tests/test_oracle.py. Importing
this module stays cheap: no pyspark, duckdb or registry at top level.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_SF = "/root/testdata/sf0.01"
#: Documents in the gate fixture; a larger corpus is a scaled sweep.
GATE_DOCS = 500
SCALE_LIMITED = ("oracle_quadratic", "oracle_heavy")
#: The driver's per-query record (CORRECTNESS_r*.json).
RECORD_KEYS = (
    "rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err",
)


def canon_frame(pdf):
    """Driver-style canonicalization: RAW-name-sorted columns (the driver
    sorts case-sensitively — r5's transpose red row proved it), sort_values
    over everything, then a stable hash of the values."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )
    return pdf


def _rows(pdf):
    """Each row of ``pdf`` as a tuple of canonical cell strings."""
    import datetime as _dt

    import numpy as np
    import pandas as pd

    for row in pdf.itertuples(index=False):
        cells = []
        for v in row:
            if isinstance(v, float):
                # EXACT repr — no rounding tolerance. The engine contract is
                # bit-identical doubles (r6 on floats, the money VARCHAR-hop
                # on sums); a lenient local hash would green-light sub-1e-9
                # divergences the driver's exact compare then reds.
                v = repr(v)
            elif isinstance(v, (np.integer, int)) and not isinstance(v, bool):
                v = str(int(v))
            elif isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date)):
                # Spark dates arrive as datetime.date, DuckDB as datetime64 —
                # same instant, different repr; compare on the ISO string.
                v = str(pd.Timestamp(v))
            else:
                v = repr(v)
            cells.append(v)
        yield tuple(cells)


def value_hash(pdf) -> str:
    import hashlib

    h = hashlib.sha256()
    for row in _rows(pdf):
        # \x1f ends every value: (12,3) must not hash as (1,23).
        h.update(("".join([v + "\x1f" for v in row]) + "\n").encode())
    return h.hexdigest()


def compare(spark_pdf, oracle_pdf) -> dict:
    """The driver's record for one query. Column names match case-folded
    (the driver's schema_match folds case); the hash is taken over
    raw-name-sorted columns, so a case-only rename still permutes values
    and fails."""
    sc, dc = canon_frame(spark_pdf), canon_frame(oracle_pdf)
    return {
        "rows_match": len(sc) == len(dc),
        "schema_match": sorted(c.lower() for c in sc.columns)
        == sorted(c.lower() for c in dc.columns),
        "hash_match": value_hash(sc) == value_hash(dc),
        "spark_rows": len(sc),
        "oracle_rows": len(dc),
        "err": None,
    }


def status(rec: dict) -> str:
    """PASS needs rows, case-folded names and hash to match; an oracle-less
    query is rows-only green when it returned rows (the driver reds 0)."""
    if rec["err"] == "no_oracle":
        return "rows-only" if rec["spark_rows"] else "FAIL"
    if rec["rows_match"] and rec["schema_match"] and rec["hash_match"]:
        return "PASS"
    return "FAIL"


def diff_rows(spark_pdf, oracle_pdf, n: int = 3) -> list[tuple]:
    """First ``n`` (spark, oracle) canonical row pairs that differ."""
    pairs = zip(_rows(canon_frame(spark_pdf)), _rows(canon_frame(oracle_pdf)))
    return [p for p in pairs if p[0] != p[1]][:n]


def duck_views(sf_dir: str):
    """DuckDB connection with one view per fixture table under ``sf_dir``."""
    import duckdb

    from lagom_kinesis_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def results_path(sf_dir: str, fresh_untuned: bool = False) -> str:
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"/tmp/gate_sim_{tag}{'_fresh' if fresh_untuned else ''}.json"


def _fresh_session():
    """A plain local session sized like session.get_spark, with none of the
    engine's confs: the driver owns its session, so ``tune`` must cope."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("gate-sim-fresh")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_one(fn, oracle, spark, con, sf_dir: str) -> dict:
    rec = dict.fromkeys(RECORD_KEYS)
    try:
        spdf = fn(spark, sf_dir).toPandas()
        if oracle is None:
            rec.update(err="no_oracle", spark_rows=len(spdf))
        else:
            rec.update(compare(spdf, con.sql(oracle).df()))
    except Exception as e:  # noqa: BLE001 — the sweep must finish
        rec["err"] = f"{type(e).__name__}: {e}"[:300]
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=DEFAULT_SF, help="fixture dir")
    ap.add_argument("--only", help="comma-separated exact query names")
    ap.add_argument("--fresh-untuned", action="store_true",
                    help="plain untuned session + entry() smoke, like the driver")
    ap.add_argument("--resume", action="store_true",
                    help="re-run only queries not green in the last run's results")
    args = ap.parse_args(argv)

    import __spark_entry__ as entrymod
    from lagom_kinesis_spark.registry import all_queries

    fns, oracles = entrymod.queries(), entrymod.oracle_sql()
    tags = {n: q.tags for n, q in all_queries().items()}
    names = list(fns)
    if args.only is not None:
        only = {n.strip() for n in args.only.split(",") if n.strip()}
        # An empty or misspelled set would print a green-looking empty run.
        if not only or only - set(fns):
            ap.error(f"--only: unknown or no query names: {sorted(only - set(fns))}")
        names = [n for n in names if n in only]

    if args.fresh_untuned:
        spark = _fresh_session()
        n = len(entrymod.entry(spark).collect())
        print(f"entry: {n} rows", flush=True)
        if not n:
            print("FAIL      entry() returned no rows")
            return 1
    else:
        from lagom_kinesis_spark.session import get_spark

        spark = get_spark("gate-sim")
    con = duck_views(args.sf)
    scaled = con.sql("SELECT count(*) FROM documents").fetchone()[0] > GATE_DOCS
    out = results_path(args.sf, args.fresh_untuned)
    results: dict[str, dict] = {}
    if args.resume and os.path.exists(out):
        with open(out) as f:
            results = {k: v for k, v in json.load(f).items() if status(v) != "FAIL"}

    secs: dict[str, float] = {}
    n_skip = 0
    t_all = time.time()
    for name in names:
        if name in results:
            continue
        if scaled and any(t in SCALE_LIMITED for t in tags[name]):
            n_skip += 1
            print(f"SKIP      {name} (scale-limited oracle)", flush=True)
            continue
        t0 = time.time()
        rec = _run_one(fns[name], oracles.get(name), spark, con, args.sf)
        secs[name] = round(time.time() - t0, 2)
        results[name] = rec
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
        line = f"{status(rec):9s} {name:32s} {secs[name]:6.2f}s"
        if status(rec) == "FAIL":
            line += f"  {json.dumps(rec)}"
        print(line, flush=True)

    counts = Counter(status(rec) for rec in results.values())
    print(
        f"\ntotal {time.time() - t_all:.1f}s  queries={len(results)}  "
        f"pass={counts['PASS']} rows_only={counts['rows-only']} "
        f"fail={counts['FAIL']} skipped={n_skip}  -> {out}"
    )
    print("slowest:", sorted(secs.items(), key=lambda kv: -kv[1])[:10])
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
