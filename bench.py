"""Benchmark runner (driver protocol, BASELINE.md §3).

Runs the headline query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with the noop sink (full computation of every output
column, nothing written or serialized to the driver); DuckDB's mirror is
the vectorized arrow fetch. See _time_spark for why count() was wrong.

Other modes: ``--scaling`` (the sf0.001→sf10 ratio trajectory, see
scaling_main) and ``--ab ARM_A ARM_B --queries q1,q2 [--reps N] [--out
PATH]`` (an interleaved fresh-process A/B of two git revisions, see
ab_main).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_revenue_by_nation",
    "agg_pricing_summary",
    "agg_count_distinct_multi",
    "join_multiway",
    "join_broadcast_dims",
    "join_asof",
    "win_topk_per_group",
    "win_running_total",
    "sort_multikey_rownum",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "text_top_tokens",
    "text_tfidf",
    "pipeline_corpus_filter",
    "q_shipping_priority",
    "stream_tumbling_window",
    "stream_session_window",
    # r13 ADDITION (VERDICT r12 ask #2): the core-scaling witness. Every
    # pre-existing headline row is job-floor-bound at sf0.1 (8-vs-32-core
    # ratios ≈1 — PERF r12 flagged suspect_cpus_ignored), so the driver's
    # core-count probe had zero signal. dedup_jaccard_pairs' 3.1M-pair
    # hashed-shingle compare is CPU-bound: measured 4.31 s @32 cores vs
    # 12.19 s @8 (ratio 2.83, .bench/witness_scaling_r13.json). Its
    # deliberately-quadratic oracle is no-baseline (same class as
    # dedup_minhash_lsh) — the row's job is the Spark-side core ratio,
    # not an engine-vs-engine comparison. Names above are unchanged —
    # additions only, per the bench contract.
    "dedup_jaccard_pairs",
]


#: Scaling-trajectory subset (bench.py --scaling): the ratio-collapse
#: evidence of BENCH_NOTES.md as a one-command reproducible artifact.
TRAJECTORY = [
    "flagship_revenue_by_nation",
    "flagship_bucketed",
    "join_multiway",
    "join_multiway_bucketed",
    "join_broadcast_dims",
    "q_shipping_priority",
    "q_shipping_priority_bucketed",
    "dedup_exact",
    "sim_topk_cosine",
    "text_top_tokens",
    "text_tfidf",
    "pipeline_corpus_filter",
    "stream_tumbling_window",
    "stream_session_window",
    # The remaining sf0.1 ratio-table rows marked `weak` in VERDICT r7 —
    # all floor-dominated at sf0.1 (sub-second absolute); their tiers here
    # are the direct evidence of whether the ratio collapses with volume.
    "agg_pricing_summary",
    "agg_count_distinct_multi",
    "agg_count_distinct_multi_bitmap",
    "win_running_total",
    "win_topk_per_group",
    "join_asof",
]


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus_env() -> int | str:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return os.environ.get("SPARK_GRAFT_CPUS", "32")


def _essential_record(
    total: float, times: dict, sf, tainted: bool, cpus, parallelism
) -> dict:
    """The ≤1.5 KB first output line (r13, VERDICT r12 ask #3): every
    contract field + the fields a reader needs to compare rounds
    (per-query seconds, tainted flag, core telemetry). Kept to a factored
    pure function so tests can pin the size bound against a full-width
    query set."""
    return {
        "metric": "headline_suite_wallclock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "tainted": tainted,
        "cpus": cpus,
        "parallelism": parallelism,
        "record": "essential (full record on the next line)",
    }


def _task_counts(spark, group: str) -> dict[str, int]:
    """Total tasks/stages the jobs of ``group`` ran, from the status
    tracker — the per-query parallelism witness the driver's core-scaling
    probe lacked (VERDICT r12 ask #2: at sf0.1 every headline row is
    floor-bound, so 8-vs-32-core seconds read ≈1 and the harness could
    not tell "honors cores" from "serial"; recorded task counts make the
    parallelism legible even where wall-clock cannot). Best-effort: {} on
    any failure — telemetry must never kill a run."""
    try:
        st = spark.sparkContext.statusTracker()
        n_tasks = n_stages = 0
        for jid in st.getJobIdsForGroup(group):
            ji = st.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    n_tasks += si.numTasks
                    n_stages += 1
        return {"tasks": n_tasks, "stages": n_stages}
    except Exception:  # noqa: BLE001
        return {}


def _reset_cache_state(spark) -> None:
    """Untimed, before every timed run. Queries that persist()
    intermediates (dedup_minhash_lsh's shingle frame) leave the previous
    run's cached RDD in executor storage until the async ContextCleaner
    collects it — nondeterministic memory pressure that swung the
    driver-recorded minhash number +80% in r5. Clearing the cache and
    nudging GC makes every run pay the identical, reproducible cost.
    State-store providers are NOT unloaded during the bench
    (SPARK_GRAFT_STREAM_UNLOAD=0 disables memory_sink_table's per-call
    unload): StateStore.stop() costs ~70 ms timed, and unloading between
    runs just moves the maintenance-machinery RESTART into the next timed
    run. Provider growth over one bench (a handful of streaming entries ×
    ≤7 runs × 4 partitions of sf0.1-sized state) is bounded and tiny; the
    300-query gate sweeps keep the per-call unload."""
    try:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    except Exception:
        pass


def _force(df) -> None:
    """The noop-sink force: compute every output column, write nothing."""
    df.write.mode("overwrite").format("noop").save()


def _timed_force(spark, fn, sf_dir: str, group: str | None = None):
    """One timed run: a cache reset, then ``_force(fn(spark, sf_dir))``
    on the clock. Returns (frame, seconds, task counts). With ``group``
    the run's jobs go under that job group and its task/stage counts are
    returned, else {}. setJobGroup is a thread-local property write —
    nanoseconds, and made OUTSIDE the timed region."""
    _reset_cache_state(spark)
    sc = spark.sparkContext
    if group:
        sc.setJobGroup(group, group)
    t0 = time.time()
    df = fn(spark, sf_dir)
    _force(df)
    secs = time.time() - t0
    if not group:
        return df, secs, {}
    counts = _task_counts(spark, group)
    try:
        sc.setLocalProperty("spark.jobGroup.id", None)
    except Exception:  # noqa: BLE001
        pass
    return df, secs, counts


def _time_spark(
    qs, spark, names, sf_dir: str
) -> tuple[dict[str, float], dict[str, dict]]:
    """Warm-to-stable (≤4, stop within 25% of previous) + best-of-3 timed,
    with an untimed GC nudge between queries — the steady-state protocol
    documented in main().

    Forcing action: the noop sink (compute EVERY output column, write
    nothing). ``count()`` — the pre-r6 force — let Catalyst prune the
    aggregate/window expressions count doesn't need, so Spark was timed
    skipping exactly the work DuckDB was timed doing (measured r6:
    agg_pricing_summary 0.50 s under count vs 1.09 s honest;
    win_running_total 0.12 vs 0.32). DuckDB's matching force is the
    vectorized arrow fetch: full computation, near-zero sink either side."""
    times: dict[str, float] = {}
    telemetry: dict[str, dict] = {}
    for name in names:
        fn = qs[name].fn
        # Label every job this query submits (guide §1.5) so the history
        # server / event log reads as one block per query instead of an
        # anonymous run of "save at ...:108" entries.
        spark.sparkContext.setJobDescription(f"bench:{name}")
        n = fn(spark, sf_dir).count()  # rows probe, untimed
        prev = None
        for _ in range(4):
            _, t, _ = _timed_force(spark, fn, sf_dir)
            if prev is not None and t > prev * 0.75:
                break
            prev = t
        best = float("inf")
        for i in range(3):
            # Tag the LAST timed rep with a job group so its task/stage
            # counts are attributable afterwards (r13, VERDICT r12 ask #2).
            group = f"bench:{name}:final" if i == 2 else None
            _, t, counts = _timed_force(spark, fn, sf_dir, group)
            best = min(best, t)
        telemetry[name] = counts
        spark.sparkContext.setJobDescription(None)
        times[name] = round(best, 3)
        print(f"# {name} @ {sf_dir}: {times[name]}s ({n} rows)", file=sys.stderr)
    return times, telemetry


def _time_duck(qs, names, sf_dir: str) -> dict[str, float]:
    """Same warm-to-stable + best-of-3 protocol on DuckDB running the
    matching oracle_sql over the same parquet (BASELINE.md §3); forced
    with the vectorized arrow fetch (full computation, near-zero sink —
    the mirror of Spark's noop sink)."""
    from scripts.gate_sim import duck_views

    con = duck_views(sf_dir)
    duck_times: dict[str, float] = {}
    for name in names:
        oracle = qs[name].oracle
        if oracle is None or "oracle_quadratic" in qs[name].tags:
            continue
        prev = None
        for _ in range(4):
            t0 = time.time()
            con.sql(oracle).fetch_arrow_table()
            t = time.time() - t0
            if prev is not None and t > prev * 0.75:
                break
            prev = t
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            con.sql(oracle).fetch_arrow_table()
            best = min(best, time.time() - t0)
        duck_times[name] = round(best, 3)
        print(f"# duckdb {name} @ {sf_dir}: {duck_times[name]}s", file=sys.stderr)
    con.close()
    return duck_times


def _burn_unit(n: int = 1_000_000) -> float:
    """One calibrated CPU burn unit (n chained md5 digests) — the worker
    for _contention_probe's parallel phase. Self-timed so pool
    spawn/teardown never lands inside the measurement. Top-level for
    multiprocessing pickling."""
    import hashlib
    import time as _t

    t0 = _t.time()
    h = b"x"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return _t.time() - t0


def _single_unit_s(n: int = 1_000_000) -> float:
    """The single-thread clock: best of two in-process burn units. The one
    reading both _contention_probe and _thermal_gate compare against the
    clean reference, so the gate cools on the clock the probe flags."""
    return min(_burn_unit(n) for _ in range(2))


def _burn_ref_s() -> float:
    """The clean-window single-unit reference, overridable for other
    hardware via SPARK_GRAFT_BURN_REF_S. A malformed override falls back
    to the calibrated default: diagnostics must neither kill a run nor be
    silently disabled by it."""
    try:
        return float(os.environ.get("SPARK_GRAFT_BURN_REF_S", "0.51"))
    except ValueError:
        return 0.51


def _contention_probe(n_hashes: int = 1_000_000) -> dict:
    """Calibrated hypervisor-contention probe (VERDICT r9 ask #2).

    Round 9 proved host-level CPU steal can inflate a whole driver bench
    15-30% while every conventional guest-side diagnostic reads clean
    (free memory, zero PSI pressure, no competing process). The detector
    that worked — a 32-way burn of fixed work compared against the
    single-process per-unit time, plus the /proc/stat steal column
    sampled across the burn — lived in session notes; this puts it in
    the protocol so a contended run is machine-detectable, not
    forensically reconstructed.

    Returns {} on any failure (non-Linux, fork unavailable) — the bench
    must never die for its own diagnostics. Fields:
    - single_unit_s: _single_unit_s, the in-process single-thread clock
      that _thermal_gate also reads (clock-speed reference).
    - parallel_unit_max_s: slowest of ncpu simultaneous units — under
      steal every unit stretches; under SMT/turbo it stretches a fixed,
      machine-characteristic amount.
    - effective_cores: ncpu * single/parallel_max. NOT a contention
      signal by itself: 32 vCPUs are 16 physical cores with SMT, so the
      CLEAN value on this box is ~19-21 (r10 idle-window calibration:
      single 0.51 s, parallel-mean 0.76 s, steal 1.2-1.6%) — the SMT
      stretch, not steal. Recorded because its round-over-round drift IS
      meaningful at fixed hardware.
    - steal_pct: /proc/stat steal share across the burn window (steal
      only accrues while vCPUs are runnable, so sampling across a full
      burn is the honest read; near-idle steal under-reports).
    - contended: steal_pct > 5%, or the single-unit time > 1.25x the
      clean-window reference (r9's contended window read 0.76 s against
      the 0.51 s clean reference — the single-thread clock is the
      purest steal detector since SMT never touches it). Reference
      overridable via SPARK_GRAFT_BURN_REF_S for other hardware.
    """
    import multiprocessing as mp

    try:
        def steal_snap() -> tuple[int, int] | None:
            try:
                with open("/proc/stat") as f:
                    vals = [int(x) for x in f.readline().split()[1:]]
            except (OSError, ValueError):
                return None
            return sum(vals), (vals[7] if len(vals) > 7 else 0)

        ncpu = os.cpu_count() or 1
        # fork context: 32 spawn starts would stagger the burn ~1s and
        # let early finishers donate cores to late starters, hiding
        # contention. The JVM is a child PROCESS (py4j socket), not
        # in-process state, so forking the Python driver is safe here —
        # the children touch only hashlib/time.
        ctx = mp.get_context("fork")
        # Every pool wait goes through async+timeout: the post-run probe
        # forks while the driver holds live py4j/JVM-client threads, and a
        # child deadlocked on a lock held at fork time would otherwise hang
        # the bench inside its own diagnostics — try/except can't catch a
        # hang (ADVICE r10). On timeout the `with` __exit__ terminates the
        # pool and the TimeoutError lands in the outer except → {}.
        t_single = _single_unit_s(n_hashes)
        a = steal_snap()
        with ctx.Pool(ncpu) as pool:
            units = pool.map_async(_burn_unit, [n_hashes] * ncpu).get(
                timeout=120
            )
        b = steal_snap()
        t_par = max(units)
        eff = round(ncpu * t_single / t_par, 1) if t_par > 0 else None
        steal_pct = None
        if a is not None and b is not None and b[0] > a[0]:
            steal_pct = round(100.0 * (b[1] - a[1]) / (b[0] - a[0]), 2)
        ref = _burn_ref_s()
        out = {
            "ncpu": ncpu,
            "single_unit_s": round(t_single, 3),
            "single_unit_ref_s": ref,
            "parallel_unit_max_s": round(t_par, 3),
            "parallel_unit_mean_s": round(sum(units) / len(units), 3),
            "effective_cores": eff,
            "steal_pct": steal_pct,
            "contended": bool(
                (steal_pct is not None and steal_pct > 5.0)
                or t_single > 1.25 * ref
            ),
        }
        print(f"# contention probe: {out}", file=sys.stderr)
        return out
    except Exception as e:  # noqa: BLE001 — diagnostics must not kill runs
        print(f"# contention probe skipped: {e}", file=sys.stderr)
        return {}


def _cpu_busy_fraction(sample_s: float = 0.5) -> float | None:
    """Instantaneous busy fraction from two /proc/stat samples. None when
    /proc/stat is unreadable (non-Linux)."""
    def snap() -> tuple[int, int] | None:
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
        except OSError:
            return None
        vals = [int(x) for x in parts[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
        return sum(vals), idle
    a = snap()
    if a is None:
        return None
    time.sleep(sample_s)
    b = snap()
    if b is None:
        return None
    dt, didle = b[0] - a[0], b[1] - a[1]
    return 1.0 - (didle / dt) if dt > 0 else 0.0


def _settle_load(threshold: float = 2.0, max_wait_s: float = 300.0) -> None:
    """Wait (bounded) for the box to be actually quiet before timing. A
    bench launched right after a heavy phase (the driver runs it after its
    correctness sweep; a scaling tier right after a 32-thread fixture
    build) measures residual CPU contention, not the engine — the r5
    driver recorded 11.03 s for a suite that reproduces at ~8.4-9.7 s
    settled, and the r6 scaling artifact recorded flagship_bucketed@sf10
    at 4.15 s where the idle-box number is 1.1 s. Both engines are timed
    after the same settle, so the protocol stays fair.

    The primary signal is the INSTANTANEOUS busy fraction from /proc/stat
    (two 0.5 s samples): 1-min loadavg is a trailing indicator that takes
    minutes to decay after a burst, so keying on it either waits far too
    long on an already-idle box or — with a bounded wait — gives up while
    contention is still real. Loadavg is kept only as a fallback when
    /proc/stat is unreadable."""
    waited = 0.0
    while waited < max_wait_s:
        busy = _cpu_busy_fraction()
        if busy is not None:
            # <10% of the cores busy ⇒ residual noise, not contention.
            if busy < 0.10:
                return
            print(f"# cpu busy {busy:.0%}: settling ...", file=sys.stderr)
            time.sleep(4.5)
            waited += 5.0
            continue
        try:
            with open("/proc/loadavg") as f:
                load1 = float(f.read().split()[0])
        except OSError:
            return
        if load1 < threshold:
            return
        print(
            f"# load {load1:.2f} >= {threshold}: settling ...", file=sys.stderr
        )
        time.sleep(5.0)
        waited += 5.0


def _thermal_gate(max_wait_s: float = 420.0) -> None:
    """Wait (bounded) for the single-thread clock to recover before a
    timed tier. The r11 5-tier regeneration self-tainted its LAST tiers:
    after ~30 min of sustained 32-thread load the burn single-unit read
    0.64-0.67 s against the 0.51 s clean reference with steal ~0 — turbo/
    thermal decay, not hypervisor steal — and the affected tiers needed
    manual clean-window re-records. This gate runs the cheap single-unit
    burn (no 32-way parallel phase) between tiers and sleeps until it
    drops under the contended threshold (1.25× ref) or the bounded wait
    expires (the tier's own pre/post probes still record whatever state
    remains — the gate reduces taint, the probes still detect it)."""
    ref = _burn_ref_s()
    waited = 0.0
    while True:
        t = _single_unit_s()
        if t <= 1.25 * ref or waited >= max_wait_s:
            # bound checked BEFORE sleeping: max_wait_s=0 means one probe
            # and out, and the default never overshoots by a sleep cycle
            # (contrast the old post-sleep check; review r11).
            return
        print(
            f"# thermal gate: single-unit {t:.3f}s > 1.25x{ref}: cooling ...",
            file=sys.stderr,
        )
        time.sleep(30.0)
        waited += 30.0


def main(headline: list[str]) -> None:
    _settle_load()
    probe_pre = _contention_probe()
    # Headline gate (VERDICT r11 ask #1): BENCH_r9 and BENCH_r11 both
    # recorded the repo's most visible round-over-round series on windows
    # their own pre-probe flagged contended. The scaling tiers already cool
    # between runs via _thermal_gate; give the driver-protocol headline
    # suite the same bounded cool-and-retry — one _thermal_gate wait (up to
    # 420 s) plus one re-probe. If the window is STILL flagged after that,
    # we run anyway (the driver expects an artifact) but stamp a top-level
    # "tainted": true so no reader compares the seconds round-over-round.
    gate_note = None
    if probe_pre.get("contended"):
        print(
            "# headline gate: pre-probe flagged contended — cooling before "
            "the timed suite ...",
            file=sys.stderr,
        )
        _thermal_gate()
        reprobe = _contention_probe()
        gate_note = {
            "pre_gate_probe": probe_pre,
            "action": "thermal_gate(<=420s) + re-probe",
            "recovered": not reprobe.get("contended", False),
        }
        probe_pre = reprobe
    sf_dir = _sf_dir()
    # Parse the scale factor up front and degrade to the raw string for
    # fixture dirs that don't end in sf<number> — a ValueError inside the
    # final json.dumps would throw away the whole measured run.
    sf_raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_raw)
    except ValueError:
        sf = sf_raw
    from lagom_kinesis_spark.registry import all_queries
    from lagom_kinesis_spark.session import get_spark

    spark = get_spark("lagom-kinesis-spark-bench")
    qs = all_queries()
    # Warm the engine outside the timed region: JVM/codegen, the Arrow
    # python-worker pool (one-time ~5-10s spawn cost), and the streaming
    # machinery (state store + checkpoint init) — standard warm-cluster
    # benchmarking; none of it is per-query work.
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(x: pd.Series) -> pd.Series:
        return x * 1.0

    spark.range(10000).select(_warm(F.col("id").cast("double"))).count()
    from lagom_kinesis_spark.catalog import stream_dir

    warm_stream = (
        spark.readStream.schema("r_regionkey int, r_name string")
        .parquet(stream_dir(sf_dir, "region"))
        .groupBy("r_name")
        .count()
    )
    from lagom_kinesis_spark.streaming.topics import memory_sink_table

    memory_sink_table(warm_stream, "complete").count()

    # Steady-state protocol (JMH-style): warm up each query until the run
    # time stabilizes (≤4 warm-ups, stop when a run is within 25% of the
    # previous), then best of 3 timed runs. In a 50+-execution single-JVM
    # suite the driver JIT's compile queue is saturated by preceding
    # queries, so the first 1-3 executions of a codegen-heavy query (the
    # 64-hash minhash aggregate is the worst) run partially interpreted —
    # a measured 2-5× transient that one fixed warm-up under-absorbs and
    # that no multi-JVM cluster deployment would ever see per-query. The
    # identical warm-to-stable rule is applied to DuckDB below. The
    # registry's periodic GC nudge is disabled during timed runs
    # (SPARK_GRAFT_GC_NUDGE=0) and performed here between queries instead.
    os.environ["SPARK_GRAFT_GC_NUDGE"] = "0"
    os.environ["SPARK_GRAFT_STREAM_UNLOAD"] = "0"
    times, telemetry = _time_spark(qs, spark, headline, sf_dir)
    total = sum(times.values())

    # BASELINE.md §3 protocol: the operative bar is DuckDB executing the
    # matching oracle_sql on the same parquet, same machine. (Quadratic
    # oracles are skipped inside _time_duck: timing an O(n²) all-pairs
    # correctness check would measure the oracle's blowup, not an engine.)
    duck_times: dict[str, float] = {}
    try:
        duck_times = _time_duck(qs, headline, sf_dir)
    except Exception as e:  # noqa: BLE001 — comparison is best-effort
        print(f"# duckdb comparison skipped: {e}", file=sys.stderr)

    # Transport throughput: the reference's own configuration caps its
    # practical rate far below shard limits (BASELINE.md §2: 10-record
    # consumer polls, strictly sequential mapAsync(1) publish, 1 ms KPL
    # buffer ⇒ O(hundreds-to-low-thousands) records/s single-node). Measure
    # the engine's simulated-transport produce and consume rates on the
    # events table so the "matches-or-beats reference throughput" claim is
    # a recorded number, not an assertion.
    transport = _transport_bench(spark, sf_dir)

    # Streaming steady state: the amortized per-micro-batch number the
    # cold-query headline protocol cannot show (see _stream_steady_state).
    steady: dict = {}
    for shp in ("tumbling", "session"):
        try:
            steady[shp] = _stream_steady_state(spark, sf_dir, shape=shp)
        except Exception as e:  # noqa: BLE001 — metric is best-effort
            print(f"# steady-state [{shp}] skipped: {e}", file=sys.stderr)

    probe_post = _contention_probe()
    contended = bool(
        probe_pre.get("contended") or probe_post.get("contended")
    )
    if contended:
        print(
            "# WARNING: contention probe flagged this run — seconds are "
            "inflated by host-level CPU steal; compare ratios, not "
            "absolutes, and prefer a re-run on a clean window.",
            file=sys.stderr,
        )

    ratios: dict[str, float | str] = {
        k: round(times[k] / duck_times[k], 2)
        for k in duck_times
        if duck_times[k] > 0
    }
    # Queries with a deliberately O(n²) oracle get an explicit no-baseline
    # marker instead of silently vanishing from the ratio table — a missing
    # row reads as "not measured" when the truth is "baseline excluded".
    for k in headline:
        if k not in ratios and "oracle_quadratic" in qs[k].tags:
            ratios[k] = "no-baseline (oracle_quadratic)"
    # Streaming rows: the RECORDED basis is the amortized resident-query
    # number (VERDICT r8 ask #2b) — cold ratio kept alongside in the same
    # cell and, as a float series, under spark_over_duckdb_ratio_cold.
    ratios_cold = {k: v for k, v in ratios.items() if isinstance(v, float)}
    for q, shp in (
        ("stream_tumbling_window", "tumbling"),
        ("stream_session_window", "session"),
    ):
        if isinstance(ratios.get(q), float) and steady.get(shp, {}).get(
            "amortized_one_batch_s"
        ) is not None and duck_times.get(q):
            am = steady[shp]["amortized_one_batch_s"] / duck_times[q]
            ratios[q] = (
                f"amortized {round(am, 2)}x resident-basis "
                f"(recorded; cold {ratios[q]}x one-shot incl. "
                f"query-start lifecycle — see stream_steady_state)"
            )
    try:
        parallelism = spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001
        parallelism = None
    cpus = _cpus_env()
    # Two JSON lines, BOTH contract-complete (metric/value/unit/queries/
    # sf), compact one FIRST (r13, VERDICT r12 ask #3): BENCH_r11's
    # per-query seconds were lost because the stored artifact keeps only
    # a ~2000-char tail of an ~8 KB line. The essential line is ≤1.5 KB —
    # per-query seconds, total, tainted flag, cpus, defaultParallelism —
    # so any truncation-prone capture still carries a parseable record;
    # the verbose line that follows is the full byte-compatible r12
    # record (ratios, steady-state, transport, probes) plus the new
    # task/stage telemetry. A last-line parser gets the full record, a
    # first-line parser gets the essentials — either way per-query
    # seconds survive.
    print(
        json.dumps(_essential_record(total, times, sf, contended, cpus,
                                     parallelism))
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wallclock",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "cpus": cpus,
                "parallelism": parallelism,
                # per-query task/stage counts of the final timed rep —
                # the core-scaling witness telemetry (VERDICT r12 ask #2)
                "task_counts": telemetry,
                "duckdb_queries": duck_times,
                "spark_over_duckdb_ratio": ratios,
                "spark_over_duckdb_ratio_cold": ratios_cold,
                "streaming_protocol_note": (
                    "stream_* headline seconds time a COLD bounded-replay "
                    "query per run (start + incremental planning + "
                    "WAL/offset commit + state-store init + stop) — "
                    "machinery a resident query pays once per lifetime. "
                    "The recorded comparison basis for streaming rows is "
                    "the amortized resident-query number in "
                    "stream_steady_state (t_single - t_lifecycle vs the "
                    "same DuckDB batch); cold numbers are retained "
                    "alongside for round-over-round comparability."
                ),
                "transport": transport,
                "stream_steady_state": steady,
                # tainted: the headline gate cooled/re-probed and the
                # window STILL flagged (or it went contended mid-run) —
                # seconds in this artifact are not comparable
                # round-over-round; use the probe-clean scaling tiers.
                "tainted": contended,
                "contention": {
                    "pre": probe_pre,
                    "post": probe_post,
                    "contended": contended,
                    "headline_gate": gate_note,
                },
            }
        )
    )


#: sf30 runs ONLY the flagship join family (VERDICT r9 ask #8): the
#: bucketed twins' sf10 ratios are the repo's best 100 TB argument, and a
#: third decade shows whether they're flat or still falling. The full
#: TRAJECTORY at sf30 would triple the artifact's runtime for queries
#: whose scaling story three tiers already pin.
SF30_SUBSET = [
    "flagship_revenue_by_nation",
    "flagship_bucketed",
    "join_multiway",
    "join_multiway_bucketed",
    "q_shipping_priority",
    "q_shipping_priority_bucketed",
]


def scaling_tier_main(
    sf_dir: str, tier_out: str, subset: list[str] | None = None
) -> None:
    """One tier of the scaling trajectory, in its own process: fresh
    SparkSession + fresh DuckDB, TRAJECTORY (or ``subset``, for restricted
    tiers such as sf30) timed under the headline protocol, result JSON to
    ``tier_out``."""
    _settle_load()  # tiers launch right after fixture builds / prior JVMs
    probe_pre = _contention_probe()
    from lagom_kinesis_spark.registry import all_queries
    from lagom_kinesis_spark.session import get_spark

    spark = get_spark("lagom-kinesis-spark-scaling-tier")
    os.environ["SPARK_GRAFT_GC_NUDGE"] = "0"
    os.environ["SPARK_GRAFT_STREAM_UNLOAD"] = "0"
    qs = all_queries()
    names = subset or TRAJECTORY
    spark_t, _telemetry = _time_spark(qs, spark, names, sf_dir)
    try:
        duck_t = _time_duck(qs, names, sf_dir)
    except Exception as e:  # noqa: BLE001
        print(f"# duckdb @ {sf_dir} skipped: {e}", file=sys.stderr)
        duck_t = {}
    # Scale-evidence for the amortized streaming basis (VERDICT r8 #2b):
    # the steady-state protocol at EVERY tier, both headline shapes —
    # skipped for restricted tiers that don't time the stream rows.
    steady: dict = {}
    shapes = () if subset else ("tumbling", "session")
    for shp in shapes:
        try:
            steady[shp] = _stream_steady_state(spark, sf_dir, shape=shp)
        except Exception as e:  # noqa: BLE001
            print(f"# steady [{shp}] @ {sf_dir} skipped: {e}", file=sys.stderr)
    probe_post = _contention_probe()
    # Amortized-vs-DuckDB ratio per tier (VERDICT r9 ask #1): the recorded
    # streaming basis is the resident-query amortized batch; the scaling
    # artifact must carry that series, not just the cold one-shot.
    amortized_ratio = {}
    for q, shp in (
        ("stream_tumbling_window", "tumbling"),
        ("stream_session_window", "session"),
    ):
        am = steady.get(shp, {}).get("amortized_one_batch_s")
        if am is not None and duck_t.get(q):
            amortized_ratio[q] = round(am / duck_t[q], 2)
    with open(tier_out, "w") as f:
        json.dump(
            {
                "spark": spark_t,
                "duckdb": duck_t,
                "stream_steady_state": steady,
                "stream_amortized_ratio": amortized_ratio,
                "contention": {
                    "pre": probe_pre,
                    "post": probe_post,
                    "contended": bool(
                        probe_pre.get("contended")
                        or probe_post.get("contended")
                    ),
                },
                "ratio": {
                    k: (
                        round(spark_t[k] / duck_t[k], 2)
                        if k in duck_t and duck_t[k] > 0
                        else "no-baseline (oracle_quadratic)"
                    )
                    for k in spark_t
                    if (k in duck_t and duck_t[k] > 0)
                    or "oracle_quadratic" in qs[k].tags
                },
            },
            f,
        )


def scaling_main(out_path: str, skip_sf10: bool = False) -> None:
    """One-command regeneration of the ratio-collapse trajectory
    (BENCH_NOTES.md): TRAJECTORY queries on Spark AND DuckDB at
    sf0.001 (the fixed-cost floor), sf0.1 (driver fixture), and
    synthetic sf1/sf10 built by scripts/make_scaled_fixture.make
    (fact replication with join-aligned key offsets). Writes one JSON
    artifact with per-sf times and Spark-over-DuckDB ratios.

    Every tier runs in its OWN subprocess (fresh JVM, fresh DuckDB), and
    so does each fixture build: a first single-process implementation
    measured the sf10 join family 5-7× slower than the same tier in a
    fresh process (flagship 32.8 s vs 4.9 s) — cross-tier process state
    (JVM aging after ~1500 stages plus the in-process 2.3 GB DuckDB
    fixture build) poisoning the numbers. Per-tier isolation is also the
    methodologically right protocol for cross-scale comparison: tiers
    are independent measurements, not one long session."""
    import subprocess
    import tempfile

    self_path = os.path.abspath(__file__)
    scripts_dir = os.path.join(os.path.dirname(self_path), "scripts")
    sys.path.insert(0, scripts_dir)
    from make_scaled_fixture import FACTS

    base = _sf_dir()
    floor_dir = os.path.join(os.path.dirname(base.rstrip("/")), "sf0.001")
    scale_root = "/tmp/lagom_kinesis_spark/scale"
    # sf30 (ask r9 #8): third decade for the join family only, gated on
    # disk headroom (~7 GB fixture + shuffle scratch; require 25 GB free
    # so the probe never wedges the box — the skip is recorded in the
    # artifact either way).
    sf30_skip_reason = None
    try:
        st = os.statvfs(scale_root if os.path.exists(scale_root) else "/tmp")
        free_gb = st.f_bavail * st.f_frsize / 1e9
        if free_gb < 25:
            sf30_skip_reason = f"only {free_gb:.0f} GB free (< 25 GB floor)"
    except OSError as e:
        sf30_skip_reason = f"statvfs failed: {e}"
    if os.environ.get("SPARK_GRAFT_SKIP_SF30") == "1":
        sf30_skip_reason = "disabled via SPARK_GRAFT_SKIP_SF30"
    if skip_sf10 and sf30_skip_reason is None:
        # sf30 only runs when sf10 does (tiers gate below); without this
        # the artifact would record sf30_queries=[...] / sf30_skipped=null
        # for a tier that never ran (ADVICE r10).
        sf30_skip_reason = "skipped together with sf10"
    tiers = [("sf1", 10), ("sf10", 100)]
    if not skip_sf10 and sf30_skip_reason is None:
        tiers.append(("sf30", 300))
    sfs: list[tuple[str, str]] = [("sf0.001", floor_dir), ("sf0.1", base)]
    for label, factor in tiers:
        if label == "sf10" and skip_sf10:
            continue
        dst = os.path.join(scale_root, label)
        # Cache key: the _DONE marker make() writes last with the matching
        # (src, factor) spec — a partially-built fixture (interrupted run:
        # facts present, dims missing) must rebuild, not be silently reused.
        done = os.path.join(dst, "_DONE")
        want = f"{os.path.abspath(base)}\nfactor={factor}\n"
        cached = False
        try:
            with open(done) as fh:
                cached = fh.read() == want
        except OSError:
            cached = False
        if cached:
            # The marker alone can outlive the data (/tmp reaping, manual
            # partial cleanup): also require every table file to exist.
            from make_scaled_fixture import DIMS

            cached = all(
                os.path.exists(os.path.join(dst, f"{t}.parquet"))
                for t in (*FACTS, *DIMS)
            )
        if not cached:
            print(f"# building {label} fixture at {dst} ...", file=sys.stderr)
            subprocess.run(
                [
                    sys.executable,
                    os.path.join(scripts_dir, "make_scaled_fixture.py"),
                    base,
                    dst,
                    str(factor),
                ],
                check=True,
            )
        sfs.append((label, dst))

    result: dict[str, dict] = {}
    for label, sf_dir in sfs:
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            tier_out = tf.name
        print(f"# tier {label} ({sf_dir}) in fresh process ...", file=sys.stderr)
        # Cool-down between tiers: sustained multi-tier load decays the
        # turbo clock and taints the later tiers (r11) — wait for the
        # single-thread burn to read clean before launching the next one.
        _thermal_gate()
        cmd = [sys.executable, self_path, "--scaling-tier", sf_dir, tier_out]
        if label == "sf30":
            cmd += ["--queries", ",".join(SF30_SUBSET)]
        subprocess.run(cmd, check=True)
        with open(tier_out) as f:
            result[label] = json.load(f)
        os.unlink(tier_out)
    # Floor share: what fraction of the sf0.1 wall-clock is the per-query
    # fixed cost (the sf0.001 time, where real work is ~zero).
    floor = result.get("sf0.001", {}).get("spark", {})
    at01 = result.get("sf0.1", {}).get("spark", {})
    floor_share = {
        k: round(min(1.0, floor[k] / at01[k]), 2)
        for k in floor
        if k in at01 and at01[k] > 0
    }
    payload = {
        "metric": "scaling_trajectory",
        "unit": "sec",
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "queries": TRAJECTORY,
        "sf30_queries": SF30_SUBSET if sf30_skip_reason is None else None,
        "sf30_skipped": sf30_skip_reason,
        "scales": result,
        "floor_share_sf0.1": floor_share,
        "note": (
            "sf1/sf10 are synthetic fact replications of the sf0.1 driver "
            "fixture (scripts/make_scaled_fixture.py, join-aligned key "
            "domains); sf0.001 measures the per-query fixed cost floor. "
            "Protocol identical to the headline bench (warm-to-stable + "
            "best-of-3 timed, noop-sink/arrow-fetch forcing, both "
            "engines); every tier and fixture build runs in its own "
            "fresh process (see scaling_main docstring for why)."
        ),
    }
    line = json.dumps(payload)
    with open(out_path, "w") as f:
        f.write(line + "\n")
    print(line)


def _stream_steady_state(
    spark, sf_dir: str, n_chunks: int = 8, shape: str = "tumbling"
) -> dict:
    """Amortized (resident-query) cost of a streaming aggregation — the
    RECORDED basis for the stream_* rows (VERDICT r8 ask #2b).

    The headline `stream_*` ratios time a COLD query per run (the only
    honest way to compare a bounded replay against a batch oracle), so
    they are dominated by per-query-START machinery a production
    continuous query pays once per LIFETIME. This measures the amortized
    numbers directly, for both headline shapes (``tumbling`` and
    ``session``):

    - t_lifecycle_s: the same query over an EMPTY source — pure
      start/plan/stop lifecycle, zero batches (decomposition: cold ≈
      lifecycle + per-batch machinery + data work).
    - t_single_batch_s: one availableNow batch over all rows.
    - amortized_one_batch_s = t_single − t_lifecycle: what a RESIDENT
      query pays to process the same rows as one micro-batch — the
      number compared against DuckDB in the headline's amortized ratio.
    - marginal_batch_s = (t_n_batches − t_single)/(n−1): the
      steady-state per-micro-batch increment when the same rows arrive
      as ``n_chunks`` maxFilesPerTrigger=1 batches (per-batch offset-log
      + planning floor dominates when chunks are small; batch VOLUME is
      what a deployment scales).

    Partitions follow the volume-aware rule the queries themselves use
    (streaming_ops.stream_shuffle_partitions); chunking happens once
    outside the timed region."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F2

    from lagom_kinesis_spark.catalog import io_scratch, load, normalize_event_ts
    from lagom_kinesis_spark.queries.streaming_ops import (
        stream_shuffle_partitions,
    )
    from lagom_kinesis_spark.session import scoped_confs

    # io_scratch folds the events fixture fingerprint into the path: a
    # regenerated fixture gets fresh chunks instead of a stale _SUCCESS
    # adoption (the staleness class fixed for the IVF/catalog layouts).
    root = io_scratch("steady", sf_dir, source="events")
    chunk_dir = os.path.join(root, f"chunks{n_chunks}")
    if not os.path.exists(os.path.join(chunk_dir, "_SUCCESS")):
        shutil.rmtree(chunk_dir, ignore_errors=True)
        load(spark, sf_dir, "events").repartition(n_chunks).write.mode(
            "overwrite"
        ).parquet(chunk_dir)
    empty_dir = os.path.join(root, "empty")
    os.makedirs(empty_dir, exist_ok=True)
    n_rows = load(spark, sf_dir, "events").count()
    # Schema from the CHUNKS (what the stream reads), not the fixture:
    # chunks are written from the normalized load() output (ts already
    # TimestampType µs), so the fixture's raw encoding — int64 ns or
    # timestamp-NTZ, which _events_raw_schema would report — is the wrong
    # read schema here and would fail (ns fixture) or silently
    # reinterpret under a non-UTC session (NTZ fixture).
    schema = spark.read.parquet(chunk_dir).schema

    def run(max_files: int | None, src: str = chunk_dir) -> float:
        reader = spark.readStream.schema(schema)
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        s = normalize_event_ts(reader.parquet(src))
        if shape == "session":
            agg = s.groupBy(
                F2.session_window("ts", "5 minutes"), "user_id"
            ).agg(F2.count("*").alias("n_events"))
        else:
            agg = (
                s.groupBy(F2.window("ts", "5 minutes"), "event_type")
                .agg(
                    F2.count("*").alias("n"),
                    F2.sum("value").alias("total_value"),
                )
            )
        ckpt = os.path.join(root, "ckpt", _uuid.uuid4().hex[:12])
        # UPDATE mode for tumbling (r11, VERDICT r10 ask #1): the recorded
        # basis is what a production resident query pays, and complete
        # mode's full-state re-emit per batch is machinery no deployment
        # with a keyed sink needs — the r10 A/B measured it at ~0.43
        # s/batch at sf10's window count (1.434 s update vs 1.865 s
        # complete, .bench/ab_stream_tumbling_sf10_r10.py @ 5678885). The
        # registered query now runs update mode too, so basis == headline
        # machinery.
        # Session stays complete: session_window aggregation without a
        # watermark supports complete mode only (update needs a watermark
        # to bound mergeable-session state, which would change the
        # query's semantics vs its batch oracle).
        mode = "update" if shape == "tumbling" else "complete"
        t0 = time.time()
        q = (
            agg.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            dt = time.time() - t0
        finally:
            # stop() even when awaitTermination raises — a failed run must
            # not leak an active stream into the next measurement — and the
            # per-run uuid checkpoint dir is removed on BOTH paths (a
            # success-only cleanup leaked one dir per failed invocation
            # under the scratch root; ADVICE r8).
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return dt

    # Same partition rule the registered queries use: small-state for
    # tumbling (bounded |windows|x|types| state), volume rule for session.
    parts = stream_shuffle_partitions(
        sf_dir, state="small" if shape == "tumbling" else "large"
    )
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(parts)}):
        run(None)  # warm (lifecycle + codegen), untimed
        t_single = min(run(None) for _ in range(2))
        t_multi = min(run(1) for _ in range(2))
        t_life = min(run(None, src=empty_dir) for _ in range(2))
    marginal = max(0.0, (t_multi - t_single) / (n_chunks - 1))
    out = {
        "shape": shape,
        "n_batches": n_chunks,
        "t_lifecycle_s": round(t_life, 3),
        "t_single_batch_s": round(t_single, 3),
        "t_n_batches_s": round(t_multi, 3),
        "amortized_one_batch_s": round(max(0.0, t_single - t_life), 3),
        "marginal_batch_s": round(marginal, 4),
        "marginal_rows_per_s": (
            round((n_rows / n_chunks) / marginal) if marginal > 0 else None
        ),
    }
    print(f"# stream steady-state [{shape}]: {out}", file=sys.stderr)
    return out


def _transport_bench(spark, sf_dir: str) -> dict:
    transport: dict[str, float] = {}
    try:
        import shutil

        from pyspark.sql import functions as F2

        from lagom_kinesis_spark.catalog import load
        from lagom_kinesis_spark.sources import KinesisSimDataSource

        try:
            spark.dataSource.register(KinesisSimDataSource)
        except Exception:
            pass
        tdir = "/tmp/lagom_kinesis_spark/bench_transport"
        shutil.rmtree(tdir, ignore_errors=True)
        ev = load(spark, sf_dir, "events").select(
            F2.col("event_id").cast("string").alias("data"),
            F2.col("event_type").alias("partition_key"),
        )
        n_records = ev.count()  # warms the scan outside the timed region
        t0 = time.time()
        (
            ev.write.format("kinesis_sim")
            .option("path", tdir)
            .option("n_shards", "8")
            .mode("append")
            .save()
        )
        produce_s = time.time() - t0
        t0 = time.time()
        consumed = (
            spark.read.format("kinesis_sim").option("path", tdir).load().count()
        )
        consume_s = time.time() - t0
        assert consumed == n_records, (consumed, n_records)
        transport = {
            "n_records": n_records,
            "produce_rps": round(n_records / produce_s),
            "consume_rps": round(n_records / consume_s),
        }
        print(f"# transport: {transport}", file=sys.stderr)
        shutil.rmtree(tdir, ignore_errors=True)
    except Exception as e:  # noqa: BLE001 — throughput is best-effort
        print(f"# transport bench skipped: {e}", file=sys.stderr)
    return transport


# --- fresh-process A/B (bench.py --ab) ---------------------------------------


def _parse_arm(spec: str) -> tuple[str, dict[str, str]]:
    """``REV[:ENV=VAL[,ENV=VAL]]`` -> (revision, env overrides). The
    revision ``.`` is the working tree as it is."""
    rev, _, tail = spec.partition(":")
    env: dict[str, str] = {}
    for kv in filter(None, tail.split(",")):
        k, eq, v = kv.partition("=")
        if not (k and eq):
            raise ValueError(f"arm {spec!r}: {kv!r} is not ENV=VAL")
        env[k] = v
    return rev or ".", env


def ab_mismatches(runs: list[dict]) -> list[str]:
    """One line per query whose (rows, value hash) differs between runs."""
    out = []
    for q in runs[0]["queries"]:
        seen = {(r["queries"][q]["rows"], r["queries"][q]["hash"]) for r in runs}
        if len(seen) > 1:
            out.append(f"{q}: {sorted(seen)}")
    return out


def ab_child_main(tree: str, names: list[str], prefix: str) -> None:
    """One A/B run in its own process, on the engine of ``tree``. Per
    query: an untimed collect (row count + value hash; it is also the
    warm-up), one timed noop-sink force after a cache reset with its
    task counts, and the forced frame's formatted plan, written to
    ``<prefix>.<query>.txt``. The run's record goes to ``<prefix>.json``."""
    # The canonicalizer and plan printer come from this checkout, so both
    # arms are hashed alike; only then does the arm's engine go first.
    from scripts.audit_plans import plan_of
    from scripts.gate_sim import canon_frame, value_hash

    sys.path.insert(0, tree)
    import lagom_kinesis_spark

    pkg = os.path.realpath(lagom_kinesis_spark.__file__)
    if not pkg.startswith(os.path.realpath(tree) + os.sep):
        sys.exit(f"bench --ab: imported {pkg}, not the engine under {tree}")
    from lagom_kinesis_spark.registry import all_queries
    from lagom_kinesis_spark.session import get_spark

    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"bench --ab: unknown queries at {tree}: {unknown}")
    sf_dir = _sf_dir()
    spark = get_spark("lagom-kinesis-spark-ab")
    # The bench defaults, unless the arm overrides them.
    os.environ.setdefault("SPARK_GRAFT_GC_NUDGE", "0")
    os.environ.setdefault("SPARK_GRAFT_STREAM_UNLOAD", "0")
    res: dict[str, dict] = {}
    for name in names:
        fn = qs[name].fn
        pdf = fn(spark, sf_dir).toPandas()
        df, secs, counts = _timed_force(spark, fn, sf_dir, f"ab:{name}")
        secs = round(secs, 3)
        plan = f"{prefix}.{name}.txt"
        with open(plan, "w") as f:
            f.write(plan_of(df))
        res[name] = {
            "rows": len(pdf),
            "hash": value_hash(canon_frame(pdf)),
            "seconds": secs,
            **counts,
            "plan": plan,
        }
        print(f"# {name} @ {sf_dir}: {secs}s ({len(pdf)} rows, "
              f"{res[name]['hash'][:16]})", file=sys.stderr)
    with open(f"{prefix}.json", "w") as f:
        json.dump({"parallelism": spark.sparkContext.defaultParallelism,
                   "queries": res}, f)


def ab_main(
    specs: list[tuple[str, dict[str, str]]], names: list[str], reps: int, out: str
) -> int:
    """Interleaved fresh-process A/B of two arms (see _parse_arm). Each
    revision is checked out once with ``git worktree add --detach``; pairs
    run A,B then B,A, alternating; every run is its own ``--ab-child``
    process. Writes one JSON record to ``out``, and each run's own record
    and plans under ``<out>.runs/``. Returns 1 if any run's rows or hash
    differ."""
    import shutil
    import statistics
    import subprocess
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))

    def git(cwd: str, *args: str) -> str:
        return subprocess.run(
            ["git", "-C", cwd, *args], check=True, capture_output=True, text=True
        ).stdout.strip()

    arms = dict(zip("AB", specs))
    # Children run with cwd set to their arm's tree: every path they get
    # must be absolute.
    runs_dir = os.path.abspath(os.path.splitext(out)[0] + ".runs")
    sf_env = {"SPARK_GRAFT_SF_DIR": os.path.abspath(_sf_dir())}
    os.makedirs(runs_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="bench-ab-")
    trees = {".": root}
    try:
        for rev, _ in arms.values():
            if rev not in trees:
                trees[rev] = os.path.join(tmp, str(len(trees)))
                git(root, "worktree", "add", "--detach", trees[rev], rev)
        commits = {rev: git(tree, "rev-parse", "HEAD") for rev, tree in trees.items()}
        if git(root, "status", "--porcelain"):
            commits["."] += "+dirty"
        probe_pre = _contention_probe()
        runs: list[dict] = []
        for pair in range(reps):
            for label in "AB" if pair % 2 == 0 else "BA":
                rev, env = arms[label]
                prefix = os.path.join(runs_dir, f"run{len(runs)}{label}")
                print(f"# ab run {len(runs)}: arm {label}", file=sys.stderr)
                t0 = time.time()
                # cwd=tree: the Python workers (python -m pyspark.daemon)
                # put their cwd first on sys.path, so they import the
                # arm's engine too.
                subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--ab-child",
                     trees[rev], prefix, "--queries", ",".join(names)],
                    check=True, cwd=trees[rev], env={**os.environ, **sf_env, **env},
                )
                with open(f"{prefix}.json") as f:
                    res = json.load(f)
                runs.append({"arm": label, "pair": pair,
                             "wall_s": round(time.time() - t0, 3), **res})
        probe_post = _contention_probe()
    finally:
        for rev, tree in trees.items():
            if rev != ".":
                subprocess.run(["git", "-C", root, "worktree", "remove", "--force",
                                tree], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", root, "worktree", "prune"], capture_output=True)
    mismatches = ab_mismatches(runs)
    record = {
        "metric": "ab_wallclock",
        "unit": "sec",
        "sf_dir": sf_env["SPARK_GRAFT_SF_DIR"],
        "queries": names,
        "reps": reps,
        "arms": {
            label: {"rev": rev, "env": env, "commit": commits[rev]}
            for label, (rev, env) in arms.items()
        },
        "runs": runs,
        "median_s": {
            label: {
                q: round(statistics.median(
                    r["queries"][q]["seconds"] for r in runs if r["arm"] == label
                ), 3)
                for q in names
            }
            for label in "AB"
        },
        "probes": {"pre": probe_pre, "post": probe_post},
        "mismatches": mismatches,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("arms", "median_s", "mismatches")}))
    for line in mismatches:
        print(f"# OUTPUT MISMATCH {line}", file=sys.stderr)
    return 1 if mismatches else 0


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "--scaling",
        action="store_true",
        help="run the sf0.001/sf0.1/sf1/sf10 ratio-trajectory instead of the headline suite",
    )
    ap.add_argument(
        "--ab",
        nargs=2,
        metavar=("ARM_A", "ARM_B"),
        type=_parse_arm,
        help="interleaved fresh-process A/B of two arms, each a git revision "
        "or '.' (the working tree), optionally REV:ENV=VAL[,ENV=VAL]",
    )
    ap.add_argument(
        "--queries",
        type=lambda v: [q.strip() for q in v.split(",") if q.strip()],
        help="comma-separated query names: a headline subset, or the --ab queries",
    )
    ap.add_argument("--reps", type=int, default=3, help="--ab pairs of runs (default 3)")
    # defaults are LOCAL names: an argless rerun must never clobber a
    # committed per-round evidence artifact.
    ap.add_argument(
        "--out",
        help="artifact path (default BENCH_SCALING_local.json for --scaling, "
        "AB_local.json for --ab)",
    )
    ap.add_argument("--skip-sf10", action="store_true", help="trajectory without the sf10 tier")
    ap.add_argument(
        "--scaling-tier",
        nargs=2,
        metavar=("SF_DIR", "TIER_OUT"),
        help="internal: run one isolated trajectory tier (spawned by --scaling)",
    )
    ap.add_argument(
        "--ab-child",
        nargs=2,
        metavar=("TREE", "PREFIX"),
        help="internal: run one A/B run on TREE's engine (spawned by --ab)",
    )
    a = ap.parse_args()
    if a.ab_child:
        ab_child_main(a.ab_child[0], a.queries, a.ab_child[1])
    elif a.scaling_tier:
        scaling_tier_main(a.scaling_tier[0], a.scaling_tier[1], a.queries)
    elif a.ab:
        if not a.queries or a.reps < 1:
            ap.error("--ab needs --queries and --reps >= 1")
        sys.exit(ab_main(a.ab, a.queries, a.reps, a.out or "AB_local.json"))
    elif a.scaling:
        if a.queries:
            ap.error("--queries does not apply to --scaling")
        scaling_main(a.out or "BENCH_SCALING_local.json", skip_sf10=a.skip_sf10)
    else:
        main(a.queries or HEADLINE)
