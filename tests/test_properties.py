"""Property-based spot checks (SURVEY.md §5.2 layer 4): algebraic
invariants of the engine over hypothesis-generated frames. Few examples,
small frames — each example pays Spark job latency."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),  # key
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=0,
    max_size=25,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, 0)], "k int, v int").limit(
        len(rows)
    )


@given(rows=ROWS)
@SETTINGS
def test_dedup_idempotent(spark, rows):
    df = _df(spark, rows)
    once = df.dropDuplicates().collect()
    twice = df.dropDuplicates().dropDuplicates().collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


@given(rows=ROWS)
@SETTINGS
def test_filter_project_commute(spark, rows):
    """filter∘project ≡ project∘filter when the predicate survives pruning —
    the algebraic identity behind predicate pushdown."""
    df = _df(spark, rows)
    a = df.filter(F.col("v") > 0).select("k").collect()
    b = df.select("k", "v").filter(F.col("v") > 0).select("k").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@given(rows=ROWS, rows2=ROWS)
@SETTINGS
def test_inner_join_commutative(spark, rows, rows2):
    a = _df(spark, rows)
    b = _df(spark, rows2).withColumnRenamed("v", "v2")
    ab = a.join(b, "k").select("k", "v", "v2").collect()
    ba = b.join(a, "k").select("k", "v", "v2").collect()
    assert sorted(map(tuple, ab)) == sorted(map(tuple, ba))


@given(rows=ROWS, rows2=ROWS)
@SETTINGS
def test_union_all_counts(spark, rows, rows2):
    a, b = _df(spark, rows), _df(spark, rows2)
    assert a.unionByName(b).count() == a.count() + b.count()


@given(rows=ROWS)
@SETTINGS
def test_agg_sum_equals_python(spark, rows):
    df = _df(spark, rows)
    got = df.agg(F.sum("v")).collect()[0][0]
    expected = sum(v for _, v in rows) if rows else None
    assert got == expected


@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=12), min_size=1, max_size=15
        ),
        min_size=2,
        max_size=12,
    ),
    theta=st.sampled_from([0.3, 0.4, 0.5, 0.7]),
)
@settings(max_examples=200, deadline=None)
def test_prefix_filter_bound_is_lossless(docs, theta):
    """The prefix-length bound dedup_prefix_filter_join relies on: with
    prefix length n − ceil(θ·n) + 1 under ANY total token order, every
    pair with Jaccard ≥ θ shares a probe-prefix token with the other
    doc's FULL set. Pure-python replica of the exact formula (float
    ceil math identical to the Spark expression)."""
    import math
    from collections import Counter

    sets = [frozenset(d) for d in docs]
    freq = Counter(t for s in sets for t in s)
    order = lambda t: (freq[t], t)  # noqa: E731  rare-first, same as operator

    def prefix(s):
        n = len(s)
        plen = n - math.ceil(theta * n) + 1
        return set(sorted(s, key=order)[:plen])

    for i in range(len(sets)):
        for j in range(len(sets)):
            if i == j:
                continue
            a, b = sets[i], sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= theta:
                assert prefix(a) & b, (sorted(a), sorted(b), theta)


TOKENS = st.lists(
    st.text(
        min_size=0,
        max_size=24,
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="\x00"
        ),
    ),
    min_size=1,
    max_size=16,
    unique=True,
)


@given(toks=TOKENS)
@SETTINGS
def test_portable_token_hash_cross_engine(spark, toks):
    """Pins the cross-engine contract every md5-derived oracle stands on
    (SimHash signatures, SRP-LSH hyperplanes, deterministic sampling):
    Spark's conv(substr(md5,1,15),16,10), DuckDB's hex-digit fold, and
    Python's int(md5[:15],16) are the SAME function of arbitrary unicode
    tokens — including empty strings and non-ASCII (UTF-8 bytes hashed
    on all three engines)."""
    import hashlib

    import duckdb

    from lagom_kinesis_spark.operators.similarity import portable_token_hash

    expect = {
        t: int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for t in toks
    }
    got_spark = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in toks], "t string")
        .select("t", portable_token_hash(F.col("t")).alias("h"))
        .collect()
    }
    assert got_spark == expect
    con = duckdb.connect()
    got_duck = dict(
        con.execute(
            """
            SELECT t,
                   list_sum(list_transform(range(1, 16),
                     i -> (strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)::BIGINT
                          << (4 * (15 - i))))::BIGINT AS h
            FROM (SELECT unnest($toks::VARCHAR[]) AS t)
            """,
            {"toks": toks},
        ).fetchall()
    )
    assert got_duck == expect


HLL_KEYS = st.lists(
    st.integers(min_value=0, max_value=10**9),
    min_size=1,
    max_size=300,
    unique=True,
)


@given(keys=HLL_KEYS)
@SETTINGS
def test_portable_hll_matches_python_reference(spark, keys):
    """Pins that operators/sketches.py implements HLL itself, not merely a
    self-consistent pair of engine expressions: an independent pure-Python
    HLL (hashlib md5, bit_length for rho, the textbook estimator) must
    produce the identical register table and estimate on arbitrary keys."""
    import hashlib
    import math

    from lagom_kinesis_spark.operators import sketches as sk

    regs: dict[int, int] = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        idx = h >> sk.HLL_W_BITS
        w = h & ((1 << sk.HLL_W_BITS) - 1)
        rho = (sk.HLL_W_BITS + 1) if w == 0 else sk.HLL_W_BITS + 1 - w.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    s_int = sum(1 << (sk.HLL_W_BITS + 1 - r) for r in regs.values()) + (
        sk.HLL_M - len(regs)
    ) * (1 << (sk.HLL_W_BITS + 1))
    raw = (
        sk.HLL_ALPHA
        * sk.HLL_M
        * sk.HLL_M
        * float(1 << (sk.HLL_W_BITS + 1))
        / s_int
    )
    zeros = sk.HLL_M - len(regs)
    expected = (
        sk.HLL_M * math.log(sk.HLL_M / zeros)
        if zeros > 0 and raw <= 2.5 * sk.HLL_M
        else raw
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    spark_regs = {
        r["__hll_idx"]: r["__hll_rho"]
        for r in sk.hll_registers(df, F.col("k"), ()).collect()
    }
    assert spark_regs == regs
    got = sk.hll_estimate(sk.hll_registers(df, F.col("k"), ()), ()).collect()[0]["est"]
    assert abs(got - round(expected, 6)) <= 1e-6


@given(toks=TOKENS)
@SETTINGS
def test_portable_cms_and_bloom_match_python_reference(spark, toks):
    """Same independence pin for the other two sketches: pure-Python CMS
    cell counts and Bloom bit sets (hashlib md5 + bit slicing) must equal
    the Spark relations on arbitrary token multisets."""
    import hashlib
    from collections import Counter

    from lagom_kinesis_spark.operators import sketches as sk

    def h60(t: str) -> int:
        return int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)

    # CMS over the multiset (duplicate the list to get real multiplicities)
    occurrences = toks + toks[: max(1, len(toks) // 2)]
    cms_ref: Counter = Counter()
    for t in occurrences:
        h = h60(t)
        for j in range(sk.CMS_D):
            cms_ref[(j, (h >> (sk.CMS_W_BITS * j)) & (sk.CMS_W - 1))] += 1
    df = spark.createDataFrame([(t,) for t in occurrences], "t string")
    cms_got = {
        (r["j"], r["pos"]): r["c"]
        for r in sk.cms_counters(df, F.col("t")).collect()
    }
    assert cms_got == dict(cms_ref)

    bloom_ref = {
        (j, (h60(t) >> (sk.BLOOM_POS_BITS * j)) & (sk.BLOOM_SECTION - 1))
        for t in toks
        for j in range(sk.BLOOM_K)
    }
    keys = spark.createDataFrame([(t,) for t in toks], "t string")
    bloom_got = {
        (r["j"], r["pos"])
        for r in sk.bloom_bits(keys, F.col("t")).collect()
    }
    assert bloom_got == bloom_ref
    # No false negatives: every inserted key must be "maybe contained".
    hits = {
        r["t"]
        for r in sk.bloom_maybe_contains(
            keys.distinct(), F.col("t"), sk.bloom_bits(keys, F.col("t"))
        ).collect()
    }
    assert hits == set(toks)


ASOF_LEFT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # by-group
        st.integers(min_value=0, max_value=40),  # ts
    ),
    min_size=1,
    max_size=20,
)
ASOF_RIGHT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # by-group
        st.integers(min_value=0, max_value=40),  # ts
        st.integers(min_value=0, max_value=99),  # tie/payload id
    ),
    min_size=0,
    max_size=20,
)


@given(left=ASOF_LEFT, right=ASOF_RIGHT)
@SETTINGS
def test_asof_join_matches_pandas_reference(spark, left, right):
    """operators/asof.py vs an independent pure-Python reference of the
    documented contract: for each left row, the right row in the same
    group with the greatest ts <= left ts, ties (equal ts) broken by
    greatest tie id; null-extended when none exists. Random duplicate
    timestamps across both sides — the case the sf1 sweep showed DuckDB's
    native ASOF cannot pin deterministically."""
    from lagom_kinesis_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(g, t, i) for i, (g, t) in enumerate(left)], "g int, ts int, lid int"
    )
    rdf = spark.createDataFrame(
        right or [(99, -1, 0)], "g int, ts int, rid int"
    ).limit(len(right))
    got = {
        (r["lid"]): r["rid"]
        for r in asof_join(
            ldf, rdf, ts="ts", by=["g"], right_payload=["rid"], tie="rid"
        ).collect()
    }
    for i, (g, t) in enumerate(left):
        cands = [(rt, rid) for (rg, rt, rid) in right if rg == g and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, g, t, cands, got[i])


@given(left=ASOF_LEFT, right=ASOF_RIGHT)
@SETTINGS
def test_asof_join_timestamp_packed_path_matches_reference(spark, left, right):
    """The TIMESTAMP branch of asof_join orders by ONE packed long
    (unix_micros·2 + side) instead of the generic (ts, side) pair — a
    different code path from the int-ts test above, so it gets its own
    reference check. The same random integers are mapped to µs-distinct
    timestamps (second granularity keeps the mapping order-isomorphic),
    with the same duplicate-ts tie coverage driving the struct-max
    pre-reduce."""
    import datetime as _dt

    from lagom_kinesis_spark.operators.asof import asof_join

    def ts_of(t: int) -> _dt.datetime:
        return _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=t)

    ldf = spark.createDataFrame(
        [(g, ts_of(t), i) for i, (g, t) in enumerate(left)],
        "g int, ts timestamp, lid int",
    )
    rdf = spark.createDataFrame(
        [(g, ts_of(t), i) for (g, t, i) in right]
        or [(99, ts_of(0), 0)],
        "g int, ts timestamp, rid int",
    ).limit(len(right))
    got = {
        (r["lid"]): r["rid"]
        for r in asof_join(
            ldf, rdf, ts="ts", by=["g"], right_payload=["rid"], tie="rid"
        ).collect()
    }
    for i, (g, t) in enumerate(left):
        cands = [(rt, rid) for (rg, rt, rid) in right if rg == g and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, g, t, cands, got[i])


@given(data=st.data())
@SETTINGS
def test_scd2_apply_matches_reference(spark, data):
    """scd2_apply vs a direct Python reference over random dimension
    states and CDC batches: history passes through, a changed current row
    closes at the update's eff and re-opens, identical attrs are a no-op,
    unknown keys insert, NULL-eff updates are ignored entirely, and NULL
    attrs compare null-safely on both the close and insert legs."""
    from lagom_kinesis_spark.operators.merge import scd2_apply

    attr = st.one_of(st.none(), st.integers(min_value=0, max_value=2))
    tgt_rows, upd_rows = [], []
    for k in data.draw(
        st.lists(st.integers(0, 5), min_size=0, max_size=5, unique=True)
    ):
        for i in range(data.draw(st.integers(0, 2))):
            tgt_rows.append((k, data.draw(attr), 10 + i, 20 + i, False))
        if data.draw(st.booleans()):
            tgt_rows.append((k, data.draw(attr), 30, None, True))
    for k in data.draw(
        st.lists(st.integers(0, 7), min_size=0, max_size=5, unique=True)
    ):
        upd_rows.append(
            (k, data.draw(attr), data.draw(st.one_of(st.none(), st.just(40))))
        )

    t_schema = "k int, a int, valid_from int, valid_to int, is_current boolean"
    target = spark.createDataFrame(
        tgt_rows or [(0, 0, 0, 0, True)], t_schema
    ).limit(len(tgt_rows))
    updates = spark.createDataFrame(
        upd_rows or [(0, 0, 0)], "k int, a int, eff int"
    ).limit(len(upd_rows))
    nsort = lambda rows: sorted(  # noqa: E731 — None-tolerant tuple sort
        rows, key=lambda t: tuple((v is None, v) for v in t)
    )
    got = nsort(
        map(tuple, scd2_apply(target, updates, keys=["k"], attrs=["a"]).collect())
    )

    upd = {k: (a, eff) for k, a, eff in upd_rows if eff is not None}
    cur = {r[0]: r for r in tgt_rows if r[4]}
    ref = [r for r in tgt_rows if not r[4]]  # history
    for k, t in cur.items():
        if k in upd and upd[k][0] != t[1]:  # None != x, None == None: null-safe
            ref.append((k, t[1], t[2], upd[k][1], False))  # closed
        else:
            ref.append(t)  # kept (unchanged or untouched)
    for k, (a, eff) in upd.items():
        if k not in cur or a != cur[k][1]:
            ref.append((k, a, eff, None, True))  # fresh current version
    assert got == nsort(ref)


@given(
    cents_vals=st.lists(
        # Negative values exercise units()'s signum branch (the r8
        # primitive trunc(x + signum(x)*0.5) rounding — acctbal-style
        # money columns go negative); magnitudes up to ~1e11 dollars.
        st.integers(min_value=-(10**13), max_value=10**13),
        min_size=1,
        max_size=12,
    )
)
@SETTINGS
def test_money_fast_path_matches_decimal_path(spark, cents_vals):
    """helpers.units/money_sum_units (the int64 money fast path) must be
    bit-identical to money(F.sum(dec(...))) — long sum -> exact decimal
    rescale -> correctly-rounded double cast, at every magnitude and
    sign, including sums far beyond 2^53 where a double-division
    finalize would double-round."""
    from lagom_kinesis_spark.functions import (
        dec,
        money,
        money_sum_units,
        units,
    )

    rows = [(c / 100.0,) for c in cents_vals]
    df = spark.createDataFrame(rows, "v double")
    slow = df.agg(money(F.sum(dec("v"))).alias("s")).collect()[0]["s"]
    fast = df.agg(money_sum_units(units("v"), 2).alias("s")).collect()[0]["s"]
    assert slow == fast and isinstance(fast, float)


@given(
    n_shards=st.integers(min_value=1, max_value=16),
    split=st.none() | st.integers(min_value=0, max_value=15),
    records=st.lists(
        st.tuples(
            st.text(min_size=1, max_size=6),  # partition key
            st.none() | st.text(min_size=1, max_size=6),  # explicit hash key
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(max_examples=60, deadline=None)
def test_put_records_and_writer_place_each_record_alike(n_shards, split, records):
    """kinesis_sim has one router: the driver-side put_records and the
    distributed _Writer put every record in the same shard, on a fresh
    stream of any size and after a split, and that shard is the OPEN one
    whose hash range contains hash32(explicit hash key or partition key)."""
    import json
    import os
    import tempfile

    from pyspark.sql import Row

    from lagom_kinesis_spark.sources.kinesis_sim import (
        _Writer,
        _load_meta,
        create_stream,
        hash32,
        put_records,
        split_shard,
    )

    def placement(d):
        out = {}
        for s in _load_meta(d):
            path = os.path.join(d, s["id"], "records.jsonl")
            if os.path.exists(path):
                for ln in open(path).read().splitlines():
                    out[json.loads(ln)["data"]] = s
        return out

    with tempfile.TemporaryDirectory() as tmp:
        put_dir, write_dir = os.path.join(tmp, "put"), os.path.join(tmp, "write")
        for d in (put_dir, write_dir):
            create_stream(d, n_shards)
            if split is not None:
                split_shard(d, f"shard-{split % n_shards:05d}")
        put_records(put_dir, [(str(i), pk, ehk) for i, (pk, ehk) in enumerate(records)])
        w = _Writer({"path": write_dir}, overwrite=False)
        rows = [
            Row(data=str(i), partition_key=pk, explicit_hash_key=ehk)
            for i, (pk, ehk) in enumerate(records)
        ]
        w.commit([w.write(iter(rows))])
        put, write = placement(put_dir), placement(write_dir)
    assert {k: s["id"] for k, s in put.items()} == {k: s["id"] for k, s in write.items()}
    assert len(put) == len(records)
    for i, (pk, ehk) in enumerate(records):
        s = put[str(i)]
        assert s["status"] == "OPEN" and s["lo"] <= hash32(ehk or pk) < s["hi"]
