"""Cross-engine determinism helpers.

The t2 gate hash-compares Spark output against DuckDB per value
(FIXTURES.md harness rules). Floating point is the hazard: a sum of 60k
doubles near 1e9 differs between engines in the last ~1e-7, and rounding to 6
decimals would flip. Discipline:

- **Money-scale sums** (anything that can exceed ~1e6) accumulate in exact
  DECIMAL on both engines — casts applied to the *operands* so products stay
  exact — then cast the identical decimal to double and round. Bit-identical.
- **Small-magnitude floats** (cosines, ratios, averages of O(100) values)
  round to 6 decimals; the float error (≲1e-12 relative) is orders of
  magnitude below the rounding quantum, so both engines agree.
- Timestamps are compared at µs precision; ``events.ts`` encodings vary by
  fixture generation (int64 ns or timestamp[us]), so the Spark side
  canonicalizes at load (catalog.normalize_event_ts) and every oracle reads
  events through :data:`EVENTS_US_SQL`, whose ``epoch_ns(ts)//1000`` floor is
  exact under both encodings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lagom_kinesis_spark.session import memo

# DuckDB view of `events` matching catalog.load('events') exactly (ns → µs floor).
EVENTS_US_SQL = (
    "SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, "
    "user_id, event_type, value, props FROM main.events"
)


def events_cte(body: str) -> str:
    """Wrap oracle SQL so `events` refers to the µs-normalized relation."""
    return f"WITH events AS ({EVENTS_US_SQL}) {body}"


def r6(c: Column) -> Column:
    return F.round(c, 6)


def let(bound: Column, body) -> Column:
    """Poor-man's let-binding: evaluate ``bound`` ONCE and reference it many
    times inside ``body`` via a single-element ``transform``.

    Catalyst inlines column expressions at every reference site (projection
    collapse), so an expression like ``element_at(split(text), i)`` repeated
    n times re-evaluates the split n times — O(n²) per row. A lambda
    variable is bound to the evaluated value, making every reference O(1).
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def fan_out(df, min_factor: int = 1, min_bytes: int = 0, by: str | None = None):
    """Repartition a scan up to the session's core count when the source
    yields fewer splits than cores.

    Compute-heavy per-row operators (shingling, hashing, tokenization) are
    CPU-bound, not IO-bound: a small compressed text file arrives as ONE
    input split, serializing the expensive map work on a single core. The
    shuffle this adds moves only the raw input (cheap at the scale where
    the condition triggers); on a real cluster reading many splits the
    condition is false and this is a no-op.

    ``by`` hash-partitions on a column instead of round-robin: when the
    first downstream aggregation groups on keys CONTAINING ``by``,
    HashPartitioning(by) already satisfies the aggregate's clustering
    requirement, so the fan-out exchange doubles as the aggregation
    exchange and Catalyst plans no second one. Use it when the ``by``
    column is high-cardinality and unskewed (doc_id); round-robin remains
    the default because it balances perfectly regardless of key shape.

    ``min_bytes`` additionally gates the fan-out on total input size, for
    call sites whose per-row work is only MODERATELY expensive (tokenize +
    count, not shingle + 64 hashes): below the threshold the round-robin
    exchange plus 32-task scheduling costs more than the serial scan saves
    (measured at sf0.1, 0.6 MB documents: +0.18 s with the fan-out; at
    sf10, 6.3 MB: −1.4 s without it). Unknown/non-file sources count as
    large — on a real cluster the split-count check no-ops anyway.
    """
    # Memoized per input DataFrame: the partition-count probe costs
    # ~0.1-0.2 s per call, and catalog.load hands out one DataFrame per table.
    def build():
        if min_bytes and _input_bytes(df) < min_bytes:
            return df  # tiny source: the exchange costs more than it buys
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism * min_factor
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target, F.col(by)) if by else df.repartition(target)

    return memo(df, (min_factor, min_bytes, by), build)


def _input_bytes(df) -> int:
    """Total on-disk bytes behind a file-based scan; ``2**63`` (treat as
    large) when the source is not local files or listing fails."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
        if not files:
            return 2**63
        total = 0
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("", "file"):
                return 2**63
            # unquote: inputFiles() percent-encodes (space, '%', non-ASCII);
            # feeding the encoded form to getsize would raise and fail the
            # gate open on any fixture path containing such characters.
            total += os.path.getsize(unquote(p.path))
        return total
    except Exception:  # non-file relation (rate source, in-memory, ...)
        return 2**63


def hash_build(df):
    """Mark ``df`` as the hash-build side of a fact⋈fact shuffle join.

    Spark defaults big equi-joins to sort-merge; when one side is known to
    be materially smaller (a filtered/projected fact), a shuffled hash join
    skips the sort of the large probe side entirely. Measured on the sf10
    bench fixture (BENCH_NOTES.md, best-of-3 warm interleaved):
    flagship 8.2→3.8 s, join_multiway 8.5→3.9 s, q_shipping_priority
    4.0→3.2 s — the sort of the 60 M-row lineitem side is pure waste.
    Scale-safe: per-task build memory is |build|/shuffle-partitions on a
    uniform key, AQE's skew split still applies to shuffled hash joins,
    and the hint degrades to the planner default whenever that side can't
    host the build for the join type. Only used where the build side is
    structurally smaller (filtered/projected); bucketed-table joins keep
    their sorted-merge plans (see scan_bucketed_sorted's explicit hint).
    """
    return df.hint("shuffle_hash")


def dec(c: Column | str, scale: int = 2, precision: int = 18) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(f"decimal({precision},{scale})")


def money(sum_col: Column) -> Column:
    """Finalize an exact-decimal aggregate: cast to double, NO re-round.

    Spark's decimal→double cast is correctly rounded (BigDecimal
    .doubleValue), so the cast alone is deterministic. A trailing
    round(…, 6) is an identity at safe magnitudes (every money decimal
    has ≤6 fractional digits) but ULP-AMBIGUOUS above ~1e10, where the
    6-decimal quantum drops below one double ulp and Spark's
    BigDecimal-based round can legally pick a different neighboring
    double than DuckDB's arithmetic round — the sf1 sweep caught exactly
    that on agg_pricing_summary.sum_charge. So the contract is: output =
    correctly-rounded double of the exact decimal, on both engines
    (DuckDB via money_sum_sql's VARCHAR hop)."""
    return sum_col.cast("double")


def money_sum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB mirror of ``money(F.sum(dec(expr)))``.

    The VARCHAR hop is load-bearing: DuckDB's direct decimal→double cast
    is NOT correctly rounded (hugeint / 10^scale in float arithmetic),
    and above ~1e10 the round-6 quantum is below one double ulp, so the
    1-ulp cast error stops being absorbed — the sf1 sweep caught
    agg_pricing_summary's sum_charge differing in the last ulp on
    IDENTICAL decimal sums. decimal→VARCHAR is exact and VARCHAR→double
    (strtod) is correctly rounded on both engines, making the oracle's
    double bit-identical to Spark's at every magnitude. Applied to every
    decimal-sum finalization in the oracle SQL corpus."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"


def revenue_expr() -> Column:
    """Exact-decimal l_extendedprice*(1-l_discount) (scale 4)."""
    one = F.lit(1).cast("decimal(18,2)")
    return dec("l_extendedprice") * (one - dec("l_discount"))


#: DuckDB mirror of :func:`revenue_expr`.
revenue_sql = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


def units(c: Column | str, scale: int = 2) -> Column:
    """Exact int64 fixed-point view of a ≤``scale``-decimal double column
    (money columns are 2-decimal by fixture contract, FIXTURES.md): the
    stored double is within ~1e-11 of its decimal value, so round-to-
    nearest lands on the exact integer unit count. Equivalent to
    ``dec(c, scale)`` scaled by 10^scale — but sums/products of LONGS
    stay in whole-stage codegen's primitive path, ~2x the decimal hash
    aggregate (BENCH_NOTES r6).

    Round-to-nearest is ``trunc(x + signum(x)*0.5)`` rather than
    ``F.round``: F.round routes every row through a BigDecimal
    (measured r8 at sf10: the revenue aggregate is 1.09 s under F.round
    vs 0.56 s under the primitive form, bit-identical on all 60M rows
    and on negative acctbals). The two agree wherever |x·10^scale| lands
    within ±(0.5−ε) of an integer — guaranteed by the ≤scale-decimal
    contract; true half-way inputs cannot occur under it."""
    col = F.col(c) if isinstance(c, str) else c
    scaled = col * F.lit(10**scale)
    return (scaled + F.signum(col) * F.lit(0.5)).cast("long")


def revenue_units() -> Column:
    """:func:`revenue_expr` on the int64 fast path: 1e-4 units of
    l_extendedprice*(1-l_discount), exact (both factors are 2-decimal).
    int64 bound: |group sum| < 9.2e18 holds through sf100 for the
    headline shapes (~2e16 at sf100)."""
    return units("l_extendedprice") * (F.lit(100) - units("l_discount"))


def money_sum_units(units_col: Column, frac_digits: int) -> Column:
    """Finalize an int64-units sum under the exact money contract: the
    long sum is exact (codegen'd primitive addition), the long→decimal
    cast is exact, the division by 10^frac_digits is exact at the
    result's ≥6-digit scale, and the final decimal→double cast is
    Spark's correctly-rounded BigDecimal.doubleValue — bit-identical to
    ``money(F.sum(dec(...)))`` and to the oracle's VARCHAR hop
    (money_sum_sql) at every magnitude. Never finalize through plain
    double division: double(sum)/10^k double-rounds once the sum
    exceeds 2^53 units."""
    return (
        F.sum(units_col).cast("decimal(38,6)") / F.lit(10**frac_digits)
    ).cast("double")
