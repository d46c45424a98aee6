"""Query registry: the t2 contract surface.

Every operator from SURVEY.md §2B is exposed as a named :class:`Query`:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus, where
SQL-expressible, a DuckDB oracle SQL string. ``__spark_entry__.py`` simply
re-exports this registry; tests iterate it differentially against DuckDB.

Determinism rules enforced by convention here (FIXTURES.md harness rules):
- alias every computed/aggregate column identically in Spark and SQL;
- round float outputs to 6 decimals on both engines (``helpers.r6``);
- large money sums go through exact decimal accumulation on both engines
  (``helpers`` money discipline) so the round-trip is bit-identical;
- pin sort ties with unique keys.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from lagom_kinesis_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    module: str = ""  # defining queries/* module (family), for sweep ordering


_REGISTRY: dict[str, Query] = {}

#: Queries executed since the last driver-side JVM GC nudge (see wrapped()).
_calls_since_gc = 0
_last_gc_at = 0.0


def _periodic_gc(spark: SparkSession, every: int = 16, min_interval_s: float = 45.0) -> None:
    """Nudge the JVM GC every ``every`` queries in a long single-session
    sweep. Spark's ContextCleaner only reclaims dead broadcasts / shuffle
    files / accumulators after a driver GC discovers the dead references —
    with a large heap and mostly-small queries, organic GCs are rare and
    JVM-side state accumulates across a 100+ query run (the round-1
    mid-suite degradation). Cost: ~0.1-0.3 s per nudge, amortized — the
    ``min_interval_s`` floor keeps fast back-to-back sweeps (the bench's
    best-of-2 loop) from paying it when nothing has had time to accumulate."""
    global _calls_since_gc, _last_gc_at
    import os as _os
    import time as _time

    # bench.py opts out: the nudge otherwise lands INSIDE a timed region on
    # whichever query hits the interval, polluting that query's number; the
    # bench performs the same nudge itself between queries, untimed.
    if _os.environ.get("SPARK_GRAFT_GC_NUDGE") == "0":
        return

    _calls_since_gc += 1
    now = _time.monotonic()
    if _calls_since_gc >= every and now - _last_gc_at >= min_interval_s:
        _calls_since_gc = 0
        _last_gc_at = now
        try:
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        except Exception:
            pass


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            # Operators may persist() intermediates (LSH shingles/buckets);
            # drop leftovers from earlier queries so sequential runs don't
            # accumulate executor-memory pressure.
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
            _periodic_gc(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(
            name,
            wrapped,
            oracle,
            tuple(tags),
            doc or (fn.__doc__ or ""),
            fn.__module__.rsplit(".", 1)[-1],
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Import all query modules (side-effect registration) and return them."""
    import lagom_kinesis_spark.queries  # noqa: F401  (registers everything)

    return dict(_REGISTRY)


# --- Driver-sweep ordering -------------------------------------------------
#
# The driver gate verifies the FIRST ~50 queries of queries() per round, so
# iteration order is the verification scoreboard. Priority:
#   1. Re-row tier: queries whose LATEST driver row is a failure (a fix has
#      presumably landed; a green re-row is the proof), plus any names force-
#      listed in _NEEDS_REROW because their evidence went stale (fixture or
#      oracle upgrades that invalidate an old green row).
#   2. Never-driver-sampled queries, round-robin across defining modules so
#      every remaining family (windows/relational/analytics/timeseries/
#      behavior/graph/streaming/...) gets rows even in a truncated sweep.
#   3. Queries already driver-green, lowest value to re-check.
#
# The sampled/green/failed sets are DERIVED from the CORRECTNESS_r*.json
# artifacts the driver itself writes — not hand-frozen (the hand-frozen set
# went stale two rounds running; see VERDICT r3 #1 and r4 "What's wrong" #1).

#: Manual override ONLY for evidence that went stale without a driver
#: failure (e.g. a fixture swap invalidating an old green row). Empty when
#: no such event is pending; the failed-latest-row tier is automatic.
#:
#: Round-10: the queries whose code or oracle changed this round after
#: their last driver-green row (VERDICT r9 ask #6 — every changed query
#: gets a force-re-row): the two ADVICE-fix queries whose arithmetic
#: changed (integer-div cutoff; decimal quota math), the two whose
#: expression text changed (literal-delimiter lang recovery; BM25 oracle
#: refactored to the shared-CTE form), and the two windows whose state
#: partition hint changed. (Round-9's listing was empty; the round-8 one
#: expired as designed.)
#: name -> min round whose artifact proves the post-change tree (per-name
#: since r11: names changed in DIFFERENT rounds would otherwise share one
#: constant and the earlier cohort would burn extra re-row slots).
#: Round-10 cohort (min 11): the six queries whose code or oracle changed
#: in round 10 (VERDICT r9 ask #6). Round-11 cohort (min 12): the windows
#: whose output mode switched complete→update, plus any other r11-changed
#: query — tumbling/sliding appear once with the LATER round (max wins).
_NEEDS_REROW: dict[str, int] = {
    "sample_temporal_split": 11,
    "mix_token_budget_allocation": 11,
    "scan_text_wholefile": 11,
    "text_bm25_topk": 11,
    "stream_tumbling_window": 12,  # r11: update-mode sink
    "stream_sliding_window": 12,  # r11: update-mode sink
    # r11: band-marking loop converged on mark_known_bands and the
    # catalog build factored into _ensure_band_catalog (behavior-
    # identical refactor, but the convention force-rows any code change)
    "stream_dedup_neardup": 12,
    # r12 cohort (ADVICE-r11 guards — error-path-only changes, but the
    # convention force-rows any code change): keyset empty-cursor guard;
    # neardup_grow_run empty-glob guard (shared by grow + compact).
    "sort_keyset_seek": 13,
    "stream_dedup_catalog_grow": 13,
    "stream_dedup_catalog_compact": 13,
    # r12: merge-hints on the LSH band/verify joins (the sf10 broadcast-
    # OOM fix — strategy-only, results provably identical, but the
    # convention force-rows any code change). dedup_clusters_lsh is new
    # in r12 (never sampled ⇒ already front of the queue). The r12
    # broadcast audit then swept the same trap out of the other
    # corpus⋈corpus paths (simhash bands, semdedup cluster pairs,
    # prefix-filter freq/index/verify).
    "dedup_simhash": 13,
    # r13 cohort (min 14, max-wins over the r12 listings): the xxhash64
    # shingle-proxy extension (dedup_jaccard_pairs [+ the
    # oracle_quadratic no-baseline tag for the bench witness role],
    # dedup_sorted_neighborhood, dedup_clusters, dedup_clusters_lsh's
    # exact arm) plus the shared-helper refactor of the r12 inline sites
    # (dedup_minhash_lsh, dedup_prefix_filter_join — expression-
    # identical), plus the connected_components cloned-session AQE
    # scoping (consumers: dedup_clusters, dedup_clusters_lsh,
    # split_leakage_audit). All oracle-verified this round at
    # sf0.001/sf0.01 and on a fresh untuned driver-style session.
    "dedup_jaccard_pairs": 14,
    "dedup_sorted_neighborhood": 14,
    # r13: semdedup's pair stage moved from the r12 1-D salt (measured
    # losing 2x at sf1 — key-count balls-in-bins) to the 2-D block salt.
    "dedup_semantic_semdedup": 14,
    "dedup_minhash_lsh": 14,
    "dedup_prefix_filter_join": 14,
    "dedup_clusters": 14,
    "dedup_clusters_lsh": 14,
    "split_leakage_audit": 14,
}
#: The force-listing above SELF-EXPIRES per name: once a CORRECTNESS
#: artifact from that name's min round or later records it, the
#: stale-evidence condition is gone and the name must stop consuming a
#: front slot. Without this, a hand-listed name burns a re-row slot every
#: subsequent round until someone remembers to clear the mapping — the
#: same staleness-by-forgetting failure the derived sampled/failed sets
#: were built to prevent.
#:
#: CONVENTION (round-9, after ADVICE r8): set the min round to the round
#: AFTER the one in which the change lands, never the current round. A
#: same-round artifact cannot prove it postdates a mid-round change (the
#: driver may have written it before the change landed); an artifact from
#: the NEXT round provably ran against the committed tree. The cost — one
#: extra re-row round for names the driver happened to sample post-change
#: anyway — is one redundant green row; the alternative is silently
#: expiring an unverified change.


def _driver_history(
    root=None,
) -> tuple[frozenset[str], frozenset[str], dict[str, int]]:
    """(sampled, failed_latest, last_round) from CORRECTNESS_r*.json at
    ``root`` (default: the repo root; tests pass a tmp dir with synthetic
    artifacts). ``last_round`` maps each sampled name to the highest round
    whose artifact records it — the expiry signal for _NEEDS_REROW.

    A row is green if its value-hash matched, or — for oracle-less queries,
    where the driver records ``err == "no_oracle"`` — if the rows-only check
    produced a row count. Any other latest-round record is a failure and
    earns the name a re-row slot. Missing/corrupt artifacts degrade to
    "never sampled" (the name sorts into the fresh tier — safe: the worst
    case is re-verifying a green row, never skipping an unverified one).
    """
    import glob
    import json
    from pathlib import Path

    if root is None:
        root = Path(__file__).resolve().parent.parent
    root = Path(root)
    def round_of(path: str) -> int:
        # NUMERIC round order: lexicographic filename sort would put r6
        # after r10 (or an unpadded rerun after padded ones), making a
        # stale green record overwrite a newer failure — the exact
        # staleness class this derivation exists to prevent.
        import re

        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    latest: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(str(root / "CORRECTNESS_r*.json")), key=round_of):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            rnd = round_of(path)
            for k, v in rows.items():
                if isinstance(v, dict):
                    latest[k] = v
                    last_round[k] = max(last_round.get(k, rnd), rnd)
    failed = frozenset(
        name
        for name, rec in latest.items()
        if not (
            rec.get("hash_match") is True
            # Rows-only green requires rows > 0: the driver's weaker check
            # treats 0 rows as red (a 0-row result proves nothing), so a
            # 0-row record must earn a re-row slot, not sort dead-last.
            or (rec.get("err") == "no_oracle" and (rec.get("spark_rows") or 0) > 0)
        )
    )
    return frozenset(latest), failed, last_round


_DRIVER_SAMPLED, _DRIVER_FAILED, _DRIVER_LAST_ROUND = _driver_history()

#: _NEEDS_REROW minus the expired entries (driver row from that name's
#: min round or later exists — see the mapping's doc).
_ACTIVE_REROW = frozenset(
    n
    for n, min_round in _NEEDS_REROW.items()
    if _DRIVER_LAST_ROUND.get(n, -1) < min_round
)


def driver_order(registry: dict[str, Query]) -> list[str]:
    """Sweep order per the priority above (stable within each tier)."""
    rerow_names = set(_ACTIVE_REROW) | _DRIVER_FAILED
    rerow = [n for n in registry if n in rerow_names]
    fresh = [n for n in registry if n not in _DRIVER_SAMPLED and n not in rerow_names]
    # Round-robin the fresh tier across modules for family coverage.
    by_module: dict[str, list[str]] = {}
    for n in fresh:
        by_module.setdefault(registry[n].module, []).append(n)
    interleaved: list[str] = []
    lanes = list(by_module.values())
    i = 0
    while lanes:
        lane = lanes[i % len(lanes)]
        interleaved.append(lane.pop(0))
        if not lane:
            lanes.remove(lane)
        else:
            i += 1
    green = [n for n in registry if n in _DRIVER_SAMPLED and n not in rerow_names]
    return rerow + interleaved + green


def queries_dict() -> dict[str, QueryFn]:
    qs = all_queries()
    return {name: qs[name].fn for name in driver_order(qs)}


def oracle_dict() -> dict[str, str]:
    qs = all_queries()
    return {
        name: qs[name].oracle
        for name in driver_order(qs)
        if qs[name].oracle is not None
    }
