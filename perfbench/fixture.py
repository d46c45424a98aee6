"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the query registry reads (``catalog.TABLES``) with
the schemas listed in FIXTURES.md: a TPC-H-like
star schema, an ``events`` stream table, ``documents`` with planted
near-duplicates and unit-length ``embeddings``. Row counts scale linearly
with ``sf`` (lineitem = 6,000,000 x sf); the same ``(sf, seed)`` always
yields byte-identical tables, so every run of a workload with one seed
sees the same inputs.

The sf1 tier is not generated directly: it is the repo's own
``scripts/make_scaled_fixture.py`` applied (factor 10) to the generated
sf0.1 tables, which is how the engine's sf1 sweep builds it too.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Vocabulary of the document generator (the word soup of FIXTURES.md).
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_NAME_A = ("blue", "hot", "large", "red", "green", "cold", "small", "dark")
P_NAME_B = ("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
DUP_SHARE = 0.05
EMB_DIM = 64


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _strs(fmt: str, ids: np.ndarray) -> pa.Array:
    return pa.array([fmt % i for i in ids.tolist()], pa.string())


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All fixture tables at scale factor ``sf`` drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _strs("Customer#%09d", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _strs("Supplier#%09d", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in P_NAME_A for b in P_NAME_B]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": rng.choice(names, n_part),
            "p_brand": _strs("Brand#%d", rng.integers(1, 26, n_part)),
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    # Events arrive in time order over about a month; event ids follow
    # arrival order and no two events share a timestamp.
    gaps = np.maximum(rng.exponential(30 * 86_400e6 / n_ev, n_ev), 1)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.cumsum(gaps.astype(np.int64)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": _strs('{"k": %d}', rng.integers(0, 100, n_ev)),
        }
    )
    # Documents: word soup of 10-100 words; a DUP_SHARE of them are an
    # earlier document's text plus the marker word "dup".
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens.tolist()]
    n_dup = int(n_doc * DUP_SHARE)
    dup_at = rng.choice(np.arange(n_doc // 2, n_doc), n_dup, replace=False)
    for i in sorted(dup_at.tolist()):
        texts[i] = texts[int(rng.integers(0, n_doc // 2))] + " dup"
    dk = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pa.table(
        {
            "doc_id": dk,
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": _strs("src%d", dk % 20),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write(sf: float, seed: int, dst: str) -> str:
    """Write the tables to ``dst`` (idempotent: a finished dir is kept)."""
    done = os.path.join(dst, "_DONE")
    if os.path.exists(done):
        return dst
    os.makedirs(dst, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={seed}\n")
    return dst


def scaled(src: str, dst: str, factor: int) -> str:
    """``src`` replicated ``factor`` times by the repo's scaled-fixture
    tool (idempotent, like :func:`write`)."""
    import contextlib
    import sys

    if os.path.exists(os.path.join(dst, "_DONE")):
        return dst
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    import make_scaled_fixture

    with contextlib.redirect_stdout(sys.stderr):
        make_scaled_fixture.make(src, dst, factor)
    return dst
