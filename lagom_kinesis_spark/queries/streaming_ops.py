"""Streaming operators with batch-equivalence oracles (SURVEY.md §2B
"Streaming-only").

Each query runs a real Structured Streaming query (file-stream source over
``events.parquet``, Trigger.AvailableNow, memory sink) and returns the sink
table; the DuckDB oracle computes the same result in batch SQL — the
batch-equivalence check of SURVEY.md §5.2 layer 2. Delivery semantics /
fault injection live in tests/test_topics.py.

Window-start values are emitted as explicit epoch-second buckets
(floor(epoch/width)*width) so both engines agree exactly; Spark's
``F.window`` aligns to the epoch, which matches the floor formula.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import (
    fixture_fingerprint,
    io_scratch,
    normalize_event_ts,
    path_of,
    stable_tag,
    stream_dir,
)
from lagom_kinesis_spark.functions import events_cte, r6
from lagom_kinesis_spark.queries.behavior import ATTRIBUTION_ORACLE
from lagom_kinesis_spark.operators import sketches
from lagom_kinesis_spark.registry import register
from lagom_kinesis_spark.session import memo, scoped_confs, tune
from lagom_kinesis_spark.streaming.topics import memory_sink_table


def _events_raw_schema(spark: SparkSession, sf_dir: str):
    """The events file's ACTUAL on-disk read schema (metadata-only probe).

    readStream requires an explicit schema; deriving it from the same batch
    read that catalog.load performs guarantees batch and streaming apply the
    identical ts canonicalization (normalize_event_ts) and can never diverge
    when the driver regenerates fixtures with a different ts encoding.
    Memoized per fixture fingerprint: the probe is a ~70 ms footer job paid
    by every streaming query."""
    return memo(
        spark,
        ("events_schema", fixture_fingerprint(sf_dir, "events")),
        lambda: spark.read.parquet(path_of(sf_dir, "events")).schema,
    )


def _events_dir_with_sentinel(sf_dir: str) -> str:
    """events stream dir + one far-future '__eos' sentinel record.

    Outer stream joins only emit null-extended rows once the watermark
    proves no match can arrive; on a bounded replay the watermark stalls at
    max(ts) - delay, stranding the tail. The sentinels (a standard bounded-
    replay device) advance the watermark past all real data. They must
    SURVIVE the per-side event_type filters (Catalyst pushes filters below
    the watermark node, so a filtered-out sentinel never updates it) —
    hence one 'click' and one 'purchase' sentinel with never-matching
    user_ids. Neither appears in output: the purchase sentinel matches no
    click window; the click sentinel's own window cannot close before the
    replay ends (its ts IS the max event time)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # Fingerprint-keyed like every other fixture-derived cache: a
    # regenerated events fixture (same encoding, longer time span) would
    # otherwise keep a stale max(ts)+2h sentinel that is no longer
    # far-future — outer-join tails and timer sessions silently never
    # finalize. A new fingerprint lands at a fresh dir instead.
    d = (
        "/tmp/lagom_kinesis_spark/stream_src/"
        f"{stable_tag(sf_dir)}_{fixture_fingerprint(sf_dir, 'events')}_events_eos"
    )
    link = f"{d}/events.parquet"
    sentinel = f"{d}/zz_sentinel.parquet"
    src_schema = pq.read_schema(path_of(sf_dir, "events"))
    # A cached sentinel written under a PREVIOUS fixture encoding would
    # mismatch the source schema; rewrite whenever the ts types differ.
    stale = False
    if os.path.exists(sentinel):
        stale = (
            pq.read_schema(sentinel).field("ts").type
            != src_schema.field("ts").type
        )
    if stale or not (os.path.islink(link) and os.path.exists(sentinel)):
        os.makedirs(d, exist_ok=True)
        if not os.path.islink(link):
            try:
                os.symlink(path_of(sf_dir, "events"), link)
            except FileExistsError:
                pass  # a sibling process won the race (shared cache dir)
        # Sentinel ts must be written in the file's NATIVE encoding (int64
        # ns for legacy fixtures, timestamp[us] for current ones) so both
        # parts read under one schema and one canonicalization.
        ts_type = src_schema.field("ts").type
        # arrow-side max: no million-element Python list at larger tiers
        raw_max = pc.max(
            pq.read_table(path_of(sf_dir, "events"), columns=["ts"])["ts"]
            .cast(pa.int64())
        ).as_py()
        if pa.types.is_int64(ts_type):
            eos_vals = pa.array([raw_max + 2 * 3600 * 10**9] * 2, pa.int64())
        else:  # timestamp[unit]: int64 cast above is in that unit
            per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[
                ts_type.unit
            ]
            eos_vals = pa.array(
                [raw_max + 2 * 3600 * per_sec] * 2, pa.int64()
            ).cast(ts_type)
        table = pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": eos_vals,
                "user_id": pa.array([-999, -998], pa.int64()),
                "event_type": pa.array(["click", "purchase"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        )
        # Atomic publish: write a dot-prefixed temp (hidden from Spark's
        # directory scan) and rename over the sentinel — this dir is a
        # SHARED cross-process cache, and a concurrent reader must see
        # either the old or the new sentinel, never a partial file.
        tmp = os.path.join(d, f".zz_sentinel.tmp{os.getpid()}")
        pq.write_table(table, tmp)
        os.replace(tmp, sentinel)
    return d


def _events_num_rows(sf_dir: str) -> int:
    """Row count of the events fixture from parquet footer metadata,
    cached on the fixture fingerprint so the footers are read once."""
    return _events_rows(sf_dir, fixture_fingerprint(sf_dir, "events"))


@functools.lru_cache(maxsize=32)
def _events_rows(sf_dir: str, _fingerprint: str) -> int:
    import glob
    import os

    import pyarrow.parquet as pq

    p = path_of(sf_dir, "events")
    # Recursive glob: a nested/partitioned fixture layout (key=... dirs)
    # must count its leaf files, not silently see 0 rows and floor the
    # stream-partition rule to 8 at any scale (ADVICE r9).
    files = (
        sorted(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))
        if os.path.isdir(p)
        else [p]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def stream_shuffle_partitions(sf_dir: str, state: str = "large") -> int:
    """Volume- and STATE-CARDINALITY-aware shuffle/state partition count
    for events replays.

    The r4 pin of 4 partitions (right for tiny custom-source tests) was
    serializing the DATA work of stateful streaming at scale: one state
    partition processes rows sequentially inside the micro-batch, so at
    sf10 the session window took 2.15 s at 4 partitions vs 1.09 s at 16
    (r9 interleaved A/B). Scale rule for ``state="large"`` (per-user /
    per-session / per-key state that grows with the data): one partition
    per ~625k input rows, clamped to [8, 16] (32 regresses: per-partition
    state commit overhead outruns the parallelism gain on this local[32]
    box).

    ``state="small"`` (r10): aggregations whose state cardinality is
    bounded by TYPE × WINDOW cardinality, not data volume (tumbling /
    sliding windows over event_type). There the volume rule overshoots —
    every extra state partition adds commit/maintenance overhead while
    the state itself would fit in one: the r10 interleaved A/B at sf10
    measured tumbling complete-mode 1.30 s at 8 partitions vs 1.87 s at
    the volume rule's 16 (and 8 was already neutral-to-better at sf0.1,
    where the volume rule also lands on 8). Fixed 8: enough input-side
    map parallelism feeding the tiny state, no overshoot at any tier.
    A real cluster sizes this to executor cores; the point the rule
    encodes is that state partitioning must follow the STATE's size, not
    a fixture-era constant or the input volume alone."""
    if state == "small":
        return 8
    return min(16, max(8, _events_num_rows(sf_dir) // 625_000))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events topic (Kinesis-semantics source; file
    transport in tests, same TRIM_HORIZON = process-all-available replay —
    SURVEY.md §2B scans table). ts canonicalization identical to batch.
    Its sinks take their partition count from stream_shuffle_partitions."""
    tune(spark)
    raw = (
        spark.readStream.schema(_events_raw_schema(spark, sf_dir))
        .parquet(stream_dir(sf_dir, "events"))
    )
    return normalize_event_ts(raw)


@register(
    "stream_tumbling_window",
    oracle=events_cte(
        """
    SELECT (epoch_us(ts)//1000000)//300*300 AS bucket_start,
           event_type,
           COUNT(*) AS n,
           round(SUM(value), 6) AS total_value
    FROM events GROUP BY bucket_start, event_type
    """
    ),
    tags=("streaming", "window"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window aggregation (streaming, UPDATE mode).
    State cardinality is |windows|×|event types| — volume-independent —
    so the sink uses the small-state partition rule (r10 A/B: 1.30 s at
    8 partitions vs 1.87 s at the volume rule's 16, sf10).

    Update mode (r11, VERDICT r10 ask #1): complete mode re-emits the
    ENTIRE window state every micro-batch — measured ~0.43 s/batch at
    sf10's window count (1.434 s update vs 1.865 s complete, r10 A/B) —
    while update emits only windows touched by the batch. The bounded
    replay here is a single availableNow batch (file source, no
    maxFilesPerTrigger), so every window is touched exactly once and the
    update-mode sink holds exactly the final state — bit-identical to
    complete mode (pinned by tests/test_streaming.py). A CHUNKED replay
    needs sink-side compaction (keep latest row per window key); the
    foreachBatch form of that compaction is proven in the same test."""
    src = events_stream(spark, sf_dir)
    agg = (
        src
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"), r6(F.sum("value")).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return memory_sink_table(
        agg, "update", stream_shuffle_partitions(sf_dir, state="small")
    )


@register(
    "stream_sliding_window",
    oracle=events_cte(
        """
    , expanded AS (
      SELECT unnest([ (epoch_us(ts)//1000000)//300*300,
                      (epoch_us(ts)//1000000)//300*300 - 300 ]) AS win_start,
             value
      FROM events
    )
    SELECT win_start, COUNT(*) AS n, round(SUM(value), 6) AS total_value
    FROM expanded GROUP BY win_start
    """
    ),
    tags=("streaming", "window"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 minutes — each event lands in two
    windows; the oracle expands windows explicitly. Window-count state
    (volume-independent) → small-state partition rule, as tumbling; UPDATE
    output mode, as tumbling (single-batch replay → identical to complete;
    saves complete-mode's full-state re-emit — see stream_tumbling_window
    docstring for the r10 measurement and the chunked-replay compaction
    contract)."""
    src = events_stream(spark, sf_dir)
    agg = (
        src
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count("*").alias("n"), r6(F.sum("value")).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "n",
            "total_value",
        )
    )
    return memory_sink_table(
        agg, "update", stream_shuffle_partitions(sf_dir, state="small")
    )


@register(
    "stream_session_window",
    oracle=events_cte(
        """
    , gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 5 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      -- ORDER BY (ts, event_id): the same total order as gaps' lag. With
      -- ts alone, duplicate timestamps straddling a session boundary get
      -- an ARBITRARY tie order in the running sum, assigning some of them
      -- to the previous island (caught by the sf1 stress fixture, where
      -- replication duplicates every boundary ts 10x; invisible at sf0.1
      -- where per-user duplicate timestamps don't occur).
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM islands GROUP BY user_id, session_id
    """
    ),
    tags=("streaming", "window"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (5-minute gap); oracle is the classic
    gaps-and-islands rewrite. Boundary semantics: a gap of exactly the
    window size starts a new session in both formulations."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return memory_sink_table(agg, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "stream_watermark_dedup",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "dedup"),
)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: the stream unioned with itself (every record
    delivered twice — the at-least-once redelivery shape) then
    dropDuplicates on event_id under a watermark; counts equal the
    single-copy distinct counts."""
    s = events_stream(spark, sf_dir)
    doubled = s.unionByName(events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return memory_sink_table(deduped, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "stream_dedup_within_watermark",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "dedup"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+): the TIME-BOUNDED
    dedup — state for a key is evicted once the watermark passes its
    event time, vs classic dropDuplicates (stream_watermark_dedup) whose
    key set grows forever. The right primitive for at-least-once
    redelivery, where duplicates arrive CLOSE together: at 100 TB/day the
    state store holds one watermark-window of keys, not the stream's
    lifetime. Same redelivery shape as the classic query (stream unioned
    with itself) so the two dedup semantics are directly comparable —
    and, with all duplicates inside one watermark window, the same exact
    distinct-count oracle."""
    s = events_stream(spark, sf_dir)
    doubled = s.unionByName(events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return memory_sink_table(deduped, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "stream_stream_join",
    oracle=events_cte(
        """
    , clicks AS (SELECT event_id AS click_id, user_id, ts FROM events
                 WHERE event_type = 'click'),
      purchases AS (SELECT event_id AS purchase_id, user_id, ts FROM events
                    WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 10 MINUTE
    """
    ),
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 10 minutes after a click,
    watermarked on both sides so state is bounded (the 100 TB requirement
    for unbounded streams)."""
    s = events_stream(spark, sf_dir)
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("click_id", "purchase_id")
    return memory_sink_table(joined, "append", stream_shuffle_partitions(sf_dir))


@register(
    "stream_stream_semi_join",
    oracle=events_cte(
        """
    , clicks AS (SELECT event_id AS click_id, user_id, ts FROM events
                 WHERE event_type = 'click'),
      purchases AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'purchase')
    SELECT c.click_id FROM clicks c
    WHERE EXISTS (
      SELECT 1 FROM purchases p
      WHERE p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 10 MINUTE
    )
    """
    ),
    tags=("streaming", "join"),
)
def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: clicks that convert within 10
    minutes, emitted ONCE regardless of how many purchases match — the
    existence-check shape (an inner join would fan out per match and
    need a downstream dedup carrying its own state). Completes the
    stream-join matrix next to inner/left/full outer. Both sides
    watermarked, the time-range condition bounds both state stores —
    same 100 TB state contract as the inner join."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_semi",
    ).select("click_id")
    return memory_sink_table(joined, "append", stream_shuffle_partitions(sf_dir))


@register(
    "stream_key_compaction",
    oracle=events_cte(
        """
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_key_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-style key compaction as a streaming aggregate: the LATEST
    record per key, maintained incrementally — the changelog→table
    materialization every CDC consumer builds (contrast
    stream_watermark_dedup, which keeps the FIRST occurrence). One
    ``max_by`` over a (ts, event_id) struct: per-key state is exactly one
    row forever, merge-order free, and the event_id tiebreak makes the
    compacted table deterministic under equal timestamps on both
    engines."""
    s = events_stream(spark, sf_dir)
    last = F.max_by(
        F.struct("ts", "event_type", "value"), F.struct("ts", "event_id")
    ).alias("l")
    compacted = (
        s.groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("l.ts").alias("last_ts"),
            F.col("l.event_type").alias("last_event_type"),
            F.col("l.value").alias("last_value"),
        )
    )
    return memory_sink_table(compacted, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "stream_static_join",
    oracle=events_cte(
        """
    SELECT c_mktsegment, COUNT(*) AS n_events
    FROM events JOIN main.customer ON user_id + 1 = c_custkey
    GROUP BY c_mktsegment
    """
    ),
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension (broadcast — the dim never shuffles the
    stream side)."""
    from lagom_kinesis_spark.catalog import load

    s = events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    joined = (
        s.join(F.broadcast(cust), s.user_id + 1 == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
    )
    return memory_sink_table(joined, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "stream_stateful_counts",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(*) AS n, round(SUM(value), 6) AS total_value
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate state (update-mode semantics); final state equals
    the batch aggregate."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), r6(F.sum("value")).alias("total_value"))
    )
    return memory_sink_table(agg, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "stream_hll_distinct_users",
    oracle=sketches.hll_oracle_sql(
        "events", "user_id", ("event_type",), alias="est_users"
    ),
    tags=("streaming", "stateful", "sketch"),
)
def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type over an UNBOUNDED stream with FIXED
    state: the streaming aggregation's state IS the portable-HLL register
    table (|event_types| x 4096 max-rho cells, operators/sketches.py) —
    the sketch answer to streaming countDistinct, which Spark (rightly)
    refuses to run as a stateful agg because exact distinct state grows
    with the stream. max() is a streaming-supported aggregate and HLL's
    merge operator, so each micro-batch folds in at no extra machinery,
    and by the register merge law (tests/test_operators.py::
    test_sketch_merge_laws) the final state bit-equals the batch sketch —
    hence an EXACT SQL oracle for an approximate streaming operator. The
    estimate is read from the finished state batch-side."""
    ev = events_stream(spark, sf_dir)
    regs = sketches.hll_registers(ev, F.col("user_id"), ("event_type",))
    state = memory_sink_table(regs, "complete", stream_shuffle_partitions(sf_dir))
    return sketches.hll_estimate(state, ("event_type",), alias="est_users")


@register(
    "stream_hll_windowed_distinct",
    oracle=events_cte(
        ", "
        + sketches.hll_oracle_sql(
            "(SELECT (epoch_us(ts)//1000000)//300*300 AS bucket_start,"
            " user_id FROM events)",
            "user_id",
            ("bucket_start",),
            alias="est_users",
        ).lstrip().removeprefix("WITH")
    ),
    tags=("streaming", "stateful", "window", "sketch"),
)
def stream_hll_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users PER 5-MINUTE WINDOW over the stream — the
    unique-visitors-per-interval question — with sketch-bounded state:
    |windows| x 4096 register rows instead of |windows| x |users| exact
    state (the unbounded-key shape that makes streaming countDistinct
    unrunnable). Same merge-law construction as stream_hll_distinct_users,
    keyed by event-time bucket; at production scale a watermark on ts
    would close old windows and evict their registers — here the bounded
    replay keeps complete mode exact, and the final state bit-equals the
    per-window batch sketch (the oracle)."""
    ev = events_stream(spark, sf_dir).select(
        (F.floor(F.unix_timestamp("ts") / 300) * 300).alias("bucket_start"),
        "user_id",
    )
    regs = sketches.hll_registers(ev, F.col("user_id"), ("bucket_start",))
    state = memory_sink_table(regs, "complete", stream_shuffle_partitions(sf_dir))
    return sketches.hll_estimate(state, ("bucket_start",), alias="est_users")


@register(
    "stream_arbitrary_state",
    oracle=events_cte(
        """
    SELECT user_id, COUNT(*) AS n_events,
           round(SUM(value), 6) AS total_value,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_arbitrary_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via applyInPandasWithState: per-user
    running (count, total, max_seen) state emitted once per batch — the
    custom-operator escape hatch (SURVEY.md §2B 'arbitrary state'). The
    bounded replay is a single batch, so the emitted state equals the batch
    aggregate (the oracle)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        count, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((count, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [count],
                "total_value": [round(total, 6)],
                "max_value": [mx],
            }
        )

    out = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, total_value double, max_value double",
            stateStructType="count long, total double, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return memory_sink_table(out, "update", stream_shuffle_partitions(sf_dir))


#: Pure-python protobuf vendored on this image by the Cloud SDK — the only
#: google.protobuf distribution present (pip is off-limits here). PySpark 4's
#: transformWithState state-server protocol needs it in BOTH the driver and
#: the streaming python worker.
_VENDORED_PROTOBUF = "/usr/lib/google-cloud-sdk/platform/google_appengine"


class TransformWithStateUnavailable(RuntimeError):
    """Raised by :func:`_enable_transform_with_state` when neither a real
    ``google.protobuf`` package nor the image's vendored copy exists.

    This is the DOCUMENTED degrade signal for the four ``stream_tws_*``
    queries: it is raised before any session/env mutation, so callers can
    translate it cleanly — pytest callers skip
    (``test_transform_with_state_degrades_without_protobuf``), and an
    image change that removes the vendored path yields this explicit
    environment-limit message instead of an opaque worker crash."""


#: transformWithStateInPandas requires a provider that supports the v2
#: arbitrary-state API (typed value/list/map state + timers), which the
#: RocksDB provider does and the default in-memory HDFS-backed map does
#: not; other streaming queries keep the session default, so the
#: transformWithState sinks scope this to their own run.
ROCKSDB_PROVIDER = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def _enable_transform_with_state(spark: SparkSession) -> None:
    """Make ``transformWithStateInPandas`` runnable on this image.

    The API ships in this Spark build and the RocksDB provider loads, but
    the state-server protocol imports ``google.protobuf``, which is not
    installed as a package (COVERAGE.md records the r6 probe). The image
    DOES carry a pure-python protobuf 6.32 vendored under the Cloud SDK's
    app-engine platform; gencode in pyspark is 6.33, one minor ahead, so
    the runtime's version gate must be waived via its own documented
    escape hatch (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK — pure-python
    descriptors are compatible across this gap; proven end-to-end by
    tests/test_streaming.py::test_transform_with_state_matches_batch).

    Injection is fully runtime — no shell env needed, so the driver's own
    harness session works: ``sc.environment`` entries are folded into
    every PythonFunction's envVars, which is exactly the env the
    StreamingPythonRunner spawns workers with."""
    import os
    import sys

    if not os.path.isdir(_VENDORED_PROTOBUF):
        # A future image may ship protobuf as a real package (and drop the
        # Cloud SDK vendored copy): prefer it — an installed package is on
        # the workers' path already, so only the version-gate waiver is
        # needed. Probe by import, not find_spec (a sys.modules None entry
        # — the test's absence mock — must read as absent, not crash).
        try:
            import google.protobuf  # noqa: F401

            os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
            spark.sparkContext.environment[
                "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"
            ] = "true"
            return
        except ImportError:
            pass
        raise TransformWithStateUnavailable(
            "transformWithState needs google.protobuf; neither the package "
            f"nor the vendored copy at {_VENDORED_PROTOBUF} is present — "
            "environment limit, not an operator gap (COVERAGE.md r6 probe)"
        )
    if _VENDORED_PROTOBUF not in sys.path:
        sys.path.append(_VENDORED_PROTOBUF)
    os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    env = spark.sparkContext.environment
    pp = env.get("PYTHONPATH", "")
    if _VENDORED_PROTOBUF not in pp:
        env["PYTHONPATH"] = f"{pp}:{_VENDORED_PROTOBUF}" if pp else _VENDORED_PROTOBUF
    env["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"


@register(
    "stream_transform_with_state",
    oracle=events_cte(
        """
    SELECT user_id, COUNT(*) AS n_events,
           round(SUM(value), 6) AS total_value,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream_arbitrary_state twin on Spark 4's arbitrary-state v2 API
    (``transformWithStateInPandas`` + typed ValueState on the RocksDB
    provider) — same per-user running (count, total, max) state, same
    batch-aggregate oracle. v2 is the 100 TB story for custom operators:
    typed state primitives (value/list/map), timers, TTL, and a state
    store that spills (RocksDB) instead of the in-memory HDFS-backed map.

    The provider conf is scoped to this query (set before start, restored
    after): transformWithState requires column families, which only the
    RocksDB provider supports; other streaming queries keep the default."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    tune(spark)
    _enable_transform_with_state(spark)
    state_schema = StructType(
        [
            StructField("count", LongType()),
            StructField("total", DoubleType()),
            StructField("mx", DoubleType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )

    class Track(StatefulProcessor):
        def init(self, handle) -> None:
            self.state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            count, total, mx = (
                self.state.get() if self.state.exists() else (0, 0.0, float("-inf"))
            )
            for pdf in rows:
                count += len(pdf)
                total += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            self.state.update((count, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [count],
                    "total_value": [round(total, 6)],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    out = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            Track(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    with scoped_confs(spark, ROCKSDB_PROVIDER):
        return memory_sink_table(out, "update", stream_shuffle_partitions(sf_dir))


@register(
    "stream_tws_ttl",
    oracle=events_cte(
        """
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_tws_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-configured ValueState — the last piece of the arbitrary-state
    v2 surface (ValueState/ListState/MapState/timers landed r8): state
    registered with ``ttlDurationMs`` is evicted by the store once its
    processing-time lease lapses, which is how a 100 TB resident job
    bounds per-key state without hand-rolled timer cleanup.

    TTL is PROCESSING-time — inherently wall-clock — so the oracle pins
    the non-expiry contract instead: with a 1-hour TTL no lease can
    lapse inside a bounded replay, and the per-user counts must equal
    the batch aggregate exactly. The expiry side is proven mechanically
    in tests/test_streaming.py::test_tws_ttl_state_expires (two batches
    separated by a sleep longer than a short TTL → the count restarts).

    noDataMicroBatches is disabled for exactly this run: in
    ProcessingTime mode Spark keeps scheduling empty batches to advance
    the TTL clock, so Trigger.AvailableNow NEVER terminates on a bounded
    replay (measured: 300+ zero-row batches and counting). Lease
    enforcement does not need them — expiration is checked on access —
    which the expiry test demonstrates across two restarts."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    tune(spark)
    _enable_transform_with_state(spark)
    state_schema = StructType([StructField("count", LongType())])
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
        ]
    )

    class TtlCount(StatefulProcessor):
        def init(self, handle) -> None:
            self.state = handle.getValueState(
                "cnt", state_schema, ttlDurationMs=3_600_000
            )

        def handleInputRows(self, key, rows, timer_values):
            count = self.state.get()[0] if self.state.exists() else 0
            for pdf in rows:
                count += len(pdf)
            self.state.update((count,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

        def close(self) -> None:
            pass

    out = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            TtlCount(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="ProcessingTime",
        )
    )
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    with scoped_confs(spark, {**ROCKSDB_PROVIDER, nd_key: "false"}):
        return memory_sink_table(out, "update", stream_shuffle_partitions(sf_dir))


@register("stream_rate_source_smoke", oracle=None, tags=("streaming", "smoke"))
def stream_rate_source_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate source smoke (dev/diagnostic source, SURVEY.md §2B scans)."""
    tune(spark)
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
    )
    agg = rate.groupBy().agg(F.count("*").alias("n"), F.max("value").alias("max_v"))
    name = "rate_smoke_tbl"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    import time as _t

    try:
        # Bounded observation window — processAllAvailable would chase the
        # unbounded rate source forever.
        deadline = _t.time() + 10
        while _t.time() < deadline and not spark.table(name).take(1):
            _t.sleep(0.3)
    finally:
        q.stop()
    return spark.table(name)


@register(
    "stream_stream_left_join",
    oracle=events_cte(
        """
    , clicks AS (SELECT event_id AS click_id, user_id, ts FROM events
                 WHERE event_type = 'click'),
      purchases AS (SELECT event_id AS purchase_id, user_id, ts FROM events
                    WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id
    FROM clicks c LEFT JOIN purchases p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 10 MINUTE
    """
    ),
    tags=("streaming", "join"),
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: null-extended click rows are emitted
    only once the watermark proves no matching purchase can arrive — state
    stays bounded and the result still equals the batch LEFT JOIN. Uses the
    sentinel-advanced source so the bounded replay finalizes its tail."""
    tune(spark)
    eos_dir = _events_dir_with_sentinel(sf_dir)

    def eos_stream():
        raw = spark.readStream.schema(
            _events_raw_schema(spark, sf_dir)
        ).parquet(eos_dir)
        # Watermark BEFORE the event-type filter: the watermark must track
        # the whole stream (incl. the sentinel), not just the filtered
        # subset — else each side's watermark stalls at its own last event.
        return normalize_event_ts(raw).withWatermark("ts", "30 minutes")

    clicks = eos_stream().filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = eos_stream().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id")
    return memory_sink_table(joined, "append")


@register(
    "stream_file_sink_exactly_once",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(*) AS n, round(SUM(value), 6) AS total_value
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "sink"),
)
def stream_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production FILE sink with its ``_spark_metadata`` commit log —
    exactly-once delivery to a lake directory, the way a 100 TB pipeline
    actually lands streams (memory/foreachBatch cover the harness paths;
    this is the at-rest one). Three guarantees exercised in one query:

    1. append run: availableNow replay writes committed part files and
       records them in the transaction log;
    2. restart from the same checkpoint with no new data is a NO-OP —
       at-least-once sources + idempotent sink commit = exactly-once
       (no re-emitted files, no double rows);
    3. an ORPHAN part file dropped into the directory (a crashed task's
       leftover, the classic non-transactional-sink corruption) is
       INVISIBLE to readers: batch reads over a sink dir resolve through
       the metadata log, not the directory listing.

    The returned aggregate over the read-back equals the single-copy
    batch aggregate (the oracle) — any duplicate or orphan row would
    break the hash match."""
    import glob
    import os
    import shutil

    out = io_scratch("fsink_out", sf_dir)
    ck = io_scratch("fsink_ck", sf_dir)
    tune(spark)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)

    def run_once() -> None:
        q = (
            events_stream(spark, sf_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()  # a failed batch must not leak the running query

    run_once()
    committed = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    run_once()  # restart, same checkpoint: no new data -> no new files
    after = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert committed and after == committed, "restart re-emitted files"
    # crashed-task leftover: a real part file NOT in the metadata log
    orphan = os.path.join(out, "part-99999-orphan.parquet")
    shutil.copy(committed[0], orphan)
    df = spark.read.parquet(out)  # resolves via _spark_metadata
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), r6(F.sum("value")).alias("total_value")
    )


@register(
    "stream_tws_list_state",
    oracle=events_cte(
        """
    , ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, COUNT(*) AS n_recent,
           round(SUM(value), 6) AS recent_total
    FROM ranked WHERE rn <= 3 GROUP BY user_id
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_tws_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithState with typed LIST state: per user, keep only the
    3 most recent events (by event time, event_id tie-break) — the
    bounded feature-window shape (last-N purchases, last-N clicks) that
    a 100 TB feature store serves online. State is O(3) per key however
    long the stream runs; arrival order within/across batches is
    irrelevant because the processor re-ranks its merged (state ∪ batch)
    set by the total order before truncating. Oracle: the batch
    row_number()<=3 window."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    tune(spark)
    _enable_transform_with_state(spark)
    ev_schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_recent", LongType()),
            StructField("recent_total", DoubleType()),
        ]
    )

    class LastN(StatefulProcessor):
        N = 3

        def init(self, handle) -> None:
            self.recent = handle.getListState("recent", ev_schema)

        def handleInputRows(self, key, rows, timer_values):
            merged = [tuple(r) for r in self.recent.get()]
            for pdf in rows:
                merged.extend(
                    zip(pdf["ts"], pdf["event_id"], pdf["value"])
                )
            # total order: newest first, event_id breaks ts ties exactly
            # like the oracle's ORDER BY ts DESC, event_id DESC
            merged.sort(key=lambda t: (t[0], t[1]), reverse=True)
            top = merged[: self.N]
            self.recent.put(top)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_recent": [len(top)],
                    "recent_total": [round(sum(t[2] for t in top), 6)],
                }
            )

        def close(self) -> None:
            pass

    out = (
        events_stream(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            LastN(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    with scoped_confs(spark, ROCKSDB_PROVIDER):
        return memory_sink_table(out, "update", stream_shuffle_partitions(sf_dir))


@register(
    "stream_tws_timers",
    oracle=events_cte(
        """
    , gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 5 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM islands GROUP BY user_id, session_id
    """
    ),
    tags=("streaming", "stateful", "timers"),
)
def stream_tws_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME TIMERS (arbitrary state v2): sessionization where the
    session CLOSE is driven by a registered timer firing when the
    watermark passes last_event + gap — the idle-timeout shape native
    session_window can't customize (per-key dynamic gaps, emit-on-close
    side effects, abandoned-cart alerts). Mechanics under bounded
    replay: in-batch gaps close sessions inline in handleInputRows; the
    final open session per user is carried in ValueState with a timer at
    last_ts + 5 min; the far-future EOS sentinel advances the watermark
    past every timer, so the closing no-data micro-batch fires
    handleExpiredTimer and flushes the tails. Output equals the batch
    gaps-and-islands sessionization (stream_session_window's oracle).
    Sentinel keys (negative user_ids) are suppressed INSIDE the
    processor — a stream-level filter would be pushed below the
    watermark node and the sentinel would never advance it."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    tune(spark)
    _enable_transform_with_state(spark)
    GAP_MS = 5 * 60 * 1000
    state_schema = StructType(
        [
            StructField("start_ts", TimestampType()),
            StructField("last_ts", TimestampType()),
            StructField("n", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )

    class Sessionizer(StatefulProcessor):
        def init(self, handle) -> None:
            self.handle = handle
            self.open = handle.getValueState("open", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            if key[0] < 0:  # EOS sentinel key: watermark-only, no session
                for _ in rows:
                    pass
                return
            pts = []
            for pdf in rows:
                pts.extend(zip(pdf["ts"], pdf["event_id"]))
            pts.sort()
            sessions = []  # closed this call
            if self.open.exists():
                start, last, n = self.open.get()
            else:
                start, last, n = None, None, 0
            for ts, _eid in pts:
                if last is not None and (
                    (ts - last).total_seconds() * 1000 >= GAP_MS
                ):
                    sessions.append((start, n))
                    start, n = ts, 0
                if start is None:
                    start = ts
                last = ts
                n += 1
            self.open.update((start, last, n))
            # one live timer per key: re-arm at the new session tail
            for t in list(self.handle.listTimers()):
                self.handle.deleteTimer(t)
            expiry = int(pd.Timestamp(last).timestamp() * 1000) + GAP_MS
            self.handle.registerTimer(expiry)
            if sessions:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(sessions),
                        "session_start": [s for s, _ in sessions],
                        "n_events": [n for _, n in sessions],
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: N803 — framework invokes by these kwarg names
            if self.open.exists():
                start, last, n = self.open.get()
                self.open.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "session_start": [start],
                        "n_events": [n],
                    }
                )

        def close(self) -> None:
            pass

    src = (
        spark.readStream.schema(_events_raw_schema(spark, sf_dir))
        .parquet(_events_dir_with_sentinel(sf_dir))
    )
    ev = normalize_event_ts(src).withWatermark("ts", "1 minute")
    out = (
        ev.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            Sessionizer(),
            outputStructType=out_schema,
            outputMode="Append",
            timeMode="EventTime",
        )
    )
    with scoped_confs(spark, ROCKSDB_PROVIDER):
        return memory_sink_table(out, "append")


@register(
    "stream_tws_map_state",
    oracle=events_cte(
        """
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
    """
    ),
    tags=("streaming", "stateful"),
)
def stream_tws_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithState with typed MAP state — the fourth and last v2
    state primitive (ValueState / ListState / timers / MapState): a
    per-user map of event_type → running count, the per-key
    sub-dictionary shape (feature counters, per-device counters under a
    user key) that would otherwise force the sub-key into the grouping
    key and explode the key space. State is O(|event types|) per user;
    updates are point lookups. Emitted as one row per map entry each
    batch; bounded single replay ⇒ equals the batch rollup (oracle)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    tune(spark)
    _enable_transform_with_state(spark)
    key_schema = StructType([StructField("event_type", StringType())])
    val_schema = StructType([StructField("n", LongType())])
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("n", LongType()),
        ]
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle) -> None:
            self.counts = handle.getMapState("counts", key_schema, val_schema)

        def handleInputRows(self, key, rows, timer_values):
            batch: dict[str, int] = {}
            for pdf in rows:
                for et, c in pdf["event_type"].value_counts().items():
                    batch[et] = batch.get(et, 0) + int(c)
            for et, c in batch.items():
                prev = (
                    self.counts.getValue((et,))[0]
                    if self.counts.containsKey((et,))
                    else 0
                )
                self.counts.updateValue((et,), (prev + c,))
            ets, ns = [], []
            for k, v in self.counts.iterator():
                ets.append(k[0])
                ns.append(v[0])
            yield pd.DataFrame(
                {"user_id": [key[0]] * len(ets), "event_type": ets, "n": ns}
            )

        def close(self) -> None:
            pass

    out = (
        events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeCounts(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    with scoped_confs(spark, ROCKSDB_PROVIDER):
        return memory_sink_table(out, "update", stream_shuffle_partitions(sf_dir))


# NOTE (r8): an r6-era conditional registration of
# stream_transform_with_state lived here, gated on google.protobuf being
# importable (it never was, so the block was dead in every environment).
# The r8 implementation above registers unconditionally and injects the
# image's vendored protobuf itself; the conditional block had to go with
# it — once the injection makes protobuf importable inside python WORKERS,
# a worker re-importing this module would have registered the name twice
# and failed every later UDF-bearing query in that worker (caught as a
# stream_attribution_last_touch gate red).


@register(
    "stream_corpus_dedup",
    oracle="""
    SELECT lang,
           COUNT(DISTINCT md5(text)) AS n_unique_docs,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
    """,
    tags=("streaming", "llm", "dedup"),
)
def stream_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup for the training-corpus pipeline: documents
    arrive as a stream (at-least-once transport ⇒ content re-deliveries),
    dedup on (lang, md5(text)) state, count unique vs raw per language. The
    LLM exact-dedup operator in its streaming form — state keys on the
    content hash so at scale the dedup state shuffles evenly, and a
    watermark on ingest time would bound it (the bounded fixture replay
    needs none). Dedup state includes lang because the same text CAN arrive
    under two languages (observed at sf0.1): a global content-hash key
    would credit the duplicate to whichever language arrived first —
    nondeterministic under stream reordering — while the per-lang key is
    arrival-order independent and equals batch COUNT(DISTINCT) per lang."""
    tune(spark)
    raw = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(stream_dir(sf_dir, "documents"))
    deduped = (
        raw.withColumn("h", F.md5(F.col("text").cast("binary")))
        .dropDuplicates(["lang", "h"])
        .groupBy("lang")
        .agg(F.count("*").alias("n_unique_docs"))
    )
    totals = raw.groupBy("lang").agg(F.count("*").alias("n_docs"))
    # Two stateful branches of one source joined at the sink would need
    # multi-watermark complete-mode support; run them as two bounded
    # replays into memory sinks and join the (|langs|-sized) results.
    left = memory_sink_table(deduped, "complete")
    right = memory_sink_table(totals, "complete")
    return left.join(right, "lang")


def neardup_stream_frame(raw: DataFrame, catalog: DataFrame) -> DataFrame:
    """Shared core of stream_dedup_neardup (the 2-batch cross-batch-state
    pytest drives it over a synthetic 2-file source): per-row portable
    MinHash band keys → content-hash dedup STATE across micro-batches →
    stream-static band-key joins against the history catalog → per-source
    rollup. Returns the (unstarted) streaming aggregate.

    The band-key array is projected BEFORE the dropDuplicates state
    shuffle: the exchange materializes it, so the four post-dedup join
    keys are array reads of shuffled data, not four re-inlined minhash
    pipelines (projection collapse would re-derive an expression column
    at every reference site)."""
    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens

    keyed = raw.select(
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        portable_minhash_band_keys(shingles(tokens("text"))).alias("ks"),
    ).dropDuplicates(["source", "h"])
    marked, known = mark_known_bands(keyed, catalog)
    dup = F.count_if(known)
    return marked.groupBy("source").agg(
        F.count("*").alias("n_unique"),
        dup.alias("n_neardup_hist"),
        F.count_if(~known).alias("n_novel"),
        r6(dup / F.count("*").cast("double")).alias("neardup_share"),
    )


def _neardup_keyed_ctes() -> str:
    """Shared WITH-prefix of the streaming near-dup oracles: documents →
    (doc_id, source, content-hash h, portable band-key array ks), the
    exact derivation of operators/similarity.portable_minhash_band_keys
    in DuckDB SQL (same md5 fold, same seeds, same band layout). Both
    stream_dedup_neardup and stream_dedup_catalog_grow replay from this
    one string so the two oracles can never desync on the key family."""
    from lagom_kinesis_spark.operators.similarity import (
        _hexfold_sql,
        portable_minhash_band_keys_sql,
    )

    return f"""
    WITH toks AS (
      SELECT doc_id, source, md5(text) AS h,
             string_split(lower(text), ' ') AS w
      FROM documents
    ), sub AS (
      SELECT doc_id, source, h,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
      FROM toks
    ), h0t AS (
      SELECT doc_id, source, h,
             CASE WHEN len(sh) = 0 THEN NULL
                  ELSE list_transform(sh, s ->
                         CAST({_hexfold_sql('s')} AS VARCHAR))
             END AS h0
      FROM sub
    ), keyed AS (
      SELECT doc_id, source, h,
             CASE WHEN h0 IS NULL THEN NULL
                  ELSE {portable_minhash_band_keys_sql()} END AS ks
      FROM h0t
    )"""


def _neardup_oracle() -> str:
    """DuckDB replay of the full streaming near-dup pipeline: the shared
    portable band-key derivation (_neardup_keyed_ctes), the content-hash
    dedup as GROUP BY (source, h) (order-independent — ks is
    text-derived, so every duplicate row carries the identical array),
    and catalog membership as a list_intersect against history's
    distinct keys."""
    return _neardup_keyed_ctes() + """, cat AS (
      SELECT DISTINCT unnest(ks) AS k
      FROM keyed WHERE doc_id % 3 <> 0 AND ks IS NOT NULL
    ), uniq AS (
      SELECT source, h, ANY_VALUE(ks) AS ks
      FROM keyed WHERE doc_id % 3 = 0 GROUP BY source, h
    ), catl AS (
      SELECT list(k) AS kl FROM cat
    ), marked AS (
      SELECT source,
             COALESCE(len(list_intersect(ks, kl)) > 0, FALSE) AS known
      FROM uniq CROSS JOIN catl
    )
    SELECT source,
           COUNT(*) AS n_unique,
           COUNT(*) FILTER (WHERE known) AS n_neardup_hist,
           COUNT(*) FILTER (WHERE NOT known) AS n_novel,
           round(COUNT(*) FILTER (WHERE known)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS neardup_share
    FROM marked GROUP BY source
    """


@register(
    "stream_dedup_neardup",
    oracle=_neardup_oracle(),
    tags=("streaming", "llm", "dedup", "scale"),
)
def stream_dedup_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup against a persisted band-key catalog — the
    composition the reference's transport layer and the LLM curation
    mandate meet in: documents arrive as a stream and each micro-batch is
    (a) exact-deduped against cross-batch content-hash STATE and (b)
    marked near-dup-of-history when any of its 16-hash/4-band portable
    MinHash keys hits the catalog history left at rest
    (dedup_incremental_catalog's contract, upgraded from exact to NEAR
    dup: a lightly-edited re-crawl of a known document still collides on
    ≥1 band with probability 1-(1-j⁴)⁴ — ~0.97 at j=0.8).

    Scale: band keys are per-row array expressions (stateless map — the
    streaming-compatible form of MinHash; no explode, no pre-state
    shuffle), dedup state shuffles on (source, content-hash) so it
    spreads evenly, the catalog joins are stream-static on band-key
    equality (broadcast here; at a 100 TB history the catalog is a
    partitioned table and the joins shuffle the BATCH, never history —
    history text is never re-read, the whole point), and the rollup is
    |sources|-cardinality. Oracle: the identical derivation in SQL
    (portable md5 minhash family — replayable where xxhash64 is not)."""
    tune(spark)
    catalog = spark.read.parquet(_ensure_band_catalog(spark, sf_dir))
    raw = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .parquet(stream_dir(sf_dir, "documents"))
        .filter(F.col("doc_id") % 3 == 0)
    )
    return memory_sink_table(neardup_stream_frame(raw, catalog), "complete")


def _ensure_band_catalog(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture fingerprint) the history band-key catalog:
    distinct portable MinHash band keys of the 2/3 history arm
    (doc_id % 3 != 0), 4 keys × ~35 bytes per historical doc — history-
    at-rest, never re-scanned. ONE builder shared by stream_dedup_neardup
    and the grow/compact scenario: the two inline copies wrote the same
    fingerprint-cached directory, so an edit to one would silently leave
    the other's content in the shared cache depending on execution order
    (review r11)."""
    import os as _os

    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens

    cat_dir = io_scratch("neardup_band_catalog", sf_dir, source="documents")
    if not _os.path.exists(_os.path.join(cat_dir, "_SUCCESS")):
        (
            spark.read.parquet(path_of(sf_dir, "documents"))
            .filter(F.col("doc_id") % 3 != 0)
            .select(
                F.explode(
                    portable_minhash_band_keys(shingles(tokens("text")))
                ).alias("k")
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(cat_dir)
        )
    return cat_dir


def mark_known_bands(keyed: DataFrame, catalog: DataFrame, bands: int = 4):
    """(marked_frame, known_column) — flag each keyed row (h, ks) whose
    band-key array hits the catalog on ANY band, via one equality join
    per band against the key-unique catalog (the stream-static join shape
    of neardup_stream_frame, factored for batch use in foreachBatch).
    Catalog must be key-unique or matches fan out — the grow protocol
    below maintains that invariant for free."""
    marked = keyed
    flags = []
    for b in range(bands):
        cat_b = F.broadcast(
            catalog.select(
                F.col("k").alias(f"k{b}"), F.lit(True).alias(f"kn{b}")
            )
        )
        marked = marked.join(
            cat_b,
            F.element_at(F.col("ks"), b + 1) == F.col(f"k{b}"),
            "left",
        )
        flags.append(F.col(f"kn{b}"))
    return marked, F.coalesce(*flags, F.lit(False))


def _neardup_grow_ctes() -> str:
    """Batch-by-batch DuckDB replay of the growing-catalog run (shared by
    the grow and compact oracles): batch 0 (doc_id % 6 = 0) marks against
    the initial history catalog and its novel docs' keys are appended;
    batch 1 (doc_id % 6 = 3) content-hash dedups against batch 0's
    (source, h) state and marks against the GROWN catalog. Keys of a
    novel doc are all absent from the catalog it was checked against
    (known = any-band hit, so ¬known = zero hits) — appending distinct
    novel-doc keys therefore keeps the catalog key-unique with no
    anti-join, the invariant the Spark side leans on."""
    return _neardup_keyed_ctes() + """, cat0 AS (
      SELECT DISTINCT unnest(ks) AS k
      FROM keyed WHERE doc_id % 3 <> 0 AND ks IS NOT NULL
    ), b0 AS (
      SELECT source, h, ANY_VALUE(ks) AS ks
      FROM keyed WHERE doc_id % 6 = 0 GROUP BY source, h
    ), cat0l AS (
      SELECT list(k) AS kl FROM cat0
    ), b0m AS (
      SELECT source, h, ks,
             COALESCE(len(list_intersect(ks, kl)) > 0, FALSE) AS known
      FROM b0 CROSS JOIN cat0l
    ), added0 AS (
      SELECT DISTINCT unnest(ks) AS k FROM b0m
      WHERE NOT known AND ks IS NOT NULL
    ), cat1l AS (
      SELECT list(k) AS kl
      FROM (SELECT k FROM cat0 UNION ALL SELECT k FROM added0)
    ), b1 AS (
      SELECT source, h, ANY_VALUE(ks) AS ks
      FROM keyed k1 WHERE doc_id % 6 = 3
        AND NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.source = k1.source AND b0.h = k1.h)
      GROUP BY source, h
    ), b1m AS (
      SELECT source, h, ks,
             COALESCE(len(list_intersect(ks, kl)) > 0, FALSE) AS known
      FROM b1 CROSS JOIN cat1l
    ), added1 AS (
      SELECT DISTINCT unnest(ks) AS k FROM b1m
      WHERE NOT known AND ks IS NOT NULL
    )"""


def _neardup_grow_oracle() -> str:
    """The grow query's final projection over _neardup_grow_ctes: one
    rollup row per batch."""
    return _neardup_grow_ctes() + """
    SELECT 0 AS batch_seq,
           COUNT(*) AS n_unique,
           COUNT(*) FILTER (WHERE known) AS n_neardup_hist,
           COUNT(*) FILTER (WHERE NOT known) AS n_novel,
           (SELECT COUNT(*) FROM added0) AS n_keys_added
    FROM b0m
    UNION ALL
    SELECT 1 AS batch_seq,
           COUNT(*) AS n_unique,
           COUNT(*) FILTER (WHERE known) AS n_neardup_hist,
           COUNT(*) FILTER (WHERE NOT known) AS n_novel,
           (SELECT COUNT(*) FROM added1) AS n_keys_added
    FROM b1m
    """


def neardup_grow_run(
    spark: SparkSession,
    raw: DataFrame,
    initial_catalog_dir: str,
    run_dir: str,
    after_grow_write=None,
) -> DataFrame:
    """Shared core of stream_dedup_catalog_grow (the pytest drives it over
    a synthetic source): run the keyed+deduped stream through a
    foreachBatch maintenance loop that (a) marks each micro-batch against
    the CURRENT catalog (initial history + every prior batch's appended
    keys), (b) appends the batch's novel-doc band keys under
    ``run_dir/grow/b=<batch_id>``, then (c) commits the batch's rollup row
    under ``run_dir/res/b=<batch_id>``. Returns the rollup frame.

    Exactly-once: both writes are batch-id-keyed OVERWRITES, so
    foreachBatch's at-least-once retries are idempotent (a retry rewrites
    the same content under the same path); the rollup write lands LAST,
    so a results row exists only if its grow append committed — the same
    prepare-then-commit discipline as the two-phase kinesis_sim sink.
    The checkpoint lives at a FIXED path inside ``run_dir`` so a crashed
    run restarts from its offsets and re-executes the failed batch
    (proven by the injected-crash pytest via ``after_grow_write``, the
    fault-injection seam called between the prepare and commit writes —
    the widest window a crash can hit).
    Catalog key-uniqueness needs no anti-join: a novel doc's keys are all
    absent from the catalog it was checked against (known = ANY-band hit),
    and a later doc sharing a key with an appended one is by construction
    KNOWN, not re-appended. In-batch near-dup pairs both count novel
    (marking is against the catalog as of batch start); distinct() merges
    their shared keys at append.

    Scale: per-batch work is the 4 band-key equi-joins + one distinct over
    the batch's novel keys — the catalog is read as history-at-rest
    parquet (never re-derived from text) and grows by appended key files;
    a production deployment compacts ``grow/`` into the base catalog
    periodically (bounded small-file count), exactly like any streaming
    lake sink.

    Compaction handoff contract: the COMPACTOR owns the reader swap, and
    it happens only between runs — (1) stop the stream, (2)
    compact_band_catalog(base, grow/, new_base), (3) move the folded
    ``grow/b=*`` deltas aside, (4) restart with
    ``initial_catalog_dir=new_base`` and the SAME checkpoint. Marking
    reads base ∪ deltas either way, so a resumed batch sees the identical
    key set whether its history lives in deltas or in the compacted base —
    proven batch-for-batch against a never-compacted control run by
    tests/test_streaming.py::
    test_catalog_grow_resumes_after_compaction_handoff. The loop itself
    never rewrites ``initial_catalog_dir`` mid-run (handle() re-reads it
    per batch, so an in-place swap under a LIVE run would race the
    in-flight plan — hence stop-first)."""
    import glob as _glob
    import os as _os

    grow_root = _os.path.join(run_dir, "grow")
    res_root = _os.path.join(run_dir, "res")

    def handle(batch_df: DataFrame, bid: int) -> None:
        cat = spark.read.parquet(initial_catalog_dir)
        # Exclude the batch's OWN delta dir: after a crash between prepare
        # and commit, the retried batch's keys are already on disk under
        # b=<bid> — including them would mark the batch's docs as
        # near-dups of THEMSELVES (wrong rollup) and the prepare
        # overwrite would delete files the in-flight catalog plan still
        # references (FAILED_READ_FILE on the rollup pass). Reading only
        # b=<other> reconstructs the catalog exactly as of batch start,
        # which is what makes the retry idempotent — found by the
        # injected-crash pytest, not by inspection.
        grown = sorted(
            d
            for d in _glob.glob(_os.path.join(grow_root, "b=*"))
            if _os.path.basename(d) != f"b={bid}"
        )
        if grown:
            cat = cat.unionByName(spark.read.parquet(*grown))
        marked, known = mark_known_bands(batch_df, cat)
        marked = marked.withColumn("known", known).persist()
        try:
            (
                marked.filter(~F.col("known") & F.col("ks").isNotNull())
                .select(F.explode("ks").alias("k"))
                .distinct()
                .write.mode("overwrite")
                .parquet(_os.path.join(grow_root, f"b={bid}"))
            )
            if after_grow_write is not None:
                after_grow_write(bid)
            n_added = spark.read.parquet(
                _os.path.join(grow_root, f"b={bid}")
            ).count()
            (
                marked.agg(
                    F.count("*").alias("n_unique"),
                    F.count_if(F.col("known")).alias("n_neardup_hist"),
                    F.count_if(~F.col("known")).alias("n_novel"),
                )
                .select(
                    F.lit(bid).cast("long").alias("batch_seq"),
                    "n_unique",
                    "n_neardup_hist",
                    "n_novel",
                    F.lit(n_added).cast("long").alias("n_keys_added"),
                )
                .write.mode("overwrite")
                .parquet(_os.path.join(res_root, f"b={bid}"))
            )
        finally:
            marked.unpersist()

    # FIXED checkpoint path (run_dir is fresh per invocation, so no
    # collision): a crashed run restarted with the same run_dir resumes
    # from its committed offsets instead of replaying from scratch —
    # the restart contract the fault-injection pytest exercises.
    ckpt = _os.path.join(run_dir, "ckpt")
    q = (
        raw.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    batch_dirs = sorted(_glob.glob(_os.path.join(res_root, "b=*")))
    if not batch_dirs:
        # Empty source dir ⇒ availableNow terminates after zero batches and
        # the bare parquet() call would raise a confusing no-paths py4j
        # error. Surface the actual condition instead (ADVICE r11).
        raise ValueError(
            f"neardup grow run produced no micro-batches (no b=* rollup "
            f"dirs under {res_root}); is the stream source dir empty?"
        )
    return spark.read.parquet(*batch_dirs)


def _grow_scenario(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str, str]:
    """The fixture-backed grow scenario shared by stream_dedup_catalog_grow
    and stream_dedup_catalog_compact: build (fingerprint-cached) initial
    catalog + 2-chunk stream arm, run neardup_grow_run, return
    (rollup_frame, catalog_dir, run_dir)."""
    tune(spark)
    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens
    from lagom_kinesis_spark.streaming.topics import fresh_scratch_dir

    import os as _os
    import glob as _glob

    docs = spark.read.parquet(path_of(sf_dir, "documents"))
    # Initial history catalog: the ONE shared fingerprint-cached build
    # (same dir stream_dedup_neardup reads).
    cat_dir = _ensure_band_catalog(spark, sf_dir)
    # Deterministic 2-chunk stream arm, fingerprint-cached; part-file
    # mtimes pin the batch order (file source processes oldest-first).
    chunks = io_scratch("neardup_grow_chunks", sf_dir, source="documents")
    if not _os.path.exists(_os.path.join(chunks, "_DONE")):
        now = __import__("time").time()
        for i, (name, rem) in enumerate([("c0", 0), ("c1", 3)]):
            d = _os.path.join(chunks, name)
            (
                docs.filter(F.col("doc_id") % 6 == rem)
                .select("doc_id", "text", "source")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(d)
            )
            for f in _glob.glob(_os.path.join(d, "*.parquet")):
                _os.utime(f, (now - 100 + i * 50, now - 100 + i * 50))
        with open(_os.path.join(chunks, "_DONE"), "w") as fh:
            fh.write("c0,c1\n")
    raw = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(chunks + "/*")
        .select(
            "source",
            F.md5(F.col("text").cast("binary")).alias("h"),
            portable_minhash_band_keys(shingles(tokens("text"))).alias("ks"),
        )
        .dropDuplicates(["source", "h"])
    )
    run_dir = fresh_scratch_dir("neardup_grow_run")
    return neardup_grow_run(spark, raw, cat_dir, run_dir), cat_dir, run_dir


def _recorded_grow(spark: SparkSession, sf_dir: str):
    """Run the grow scenario and keep it as this session's last grow run,
    {"run": (documents fingerprint, cat_dir, run_dir)}: compact reuses it
    rather than re-run the 2-batch stream, whose outputs are deterministic."""
    out, cat_dir, run_dir = _grow_scenario(spark, sf_dir)
    memo(spark, "last_grow_run", dict)["run"] = (
        fixture_fingerprint(sf_dir, "documents"), cat_dir, run_dir
    )
    return out, cat_dir, run_dir


@register(
    "stream_dedup_catalog_grow",
    oracle=_neardup_grow_oracle(),
    tags=("streaming", "llm", "dedup", "scale"),
)
def stream_dedup_catalog_grow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_dedup_neardup's MAINTENANCE leg (VERDICT r10 ask #4): the
    catalog is no longer static — each micro-batch's novel documents
    append their band keys back to it exactly-once, so batch N+1 dedups
    against batch N (a re-crawl arriving minutes after the original is
    caught, not just re-crawls of deep history). Two deterministic
    micro-batches of the streaming arm (doc_id % 6 = 0, then % 6 = 3;
    chunk files mtime-ordered, maxFilesPerTrigger=1), cross-batch
    content-hash state via streaming dropDuplicates, marking + append +
    rollup in foreachBatch (see neardup_grow_run for the two-phase
    idempotent-write protocol and the key-uniqueness invariant). Output:
    one row per batch — uniques, history-near-dups, novels, keys added.
    Oracle: the identical two-batch replay in SQL from the shared keyed
    CTEs."""
    out, _cat, _run = _recorded_grow(spark, sf_dir)
    return out


def compact_band_catalog(
    spark: SparkSession,
    base_dir: str,
    grow_root: str,
    out_dir: str,
    n_files: int = 4,
) -> tuple[int, int, int]:
    """Compact a grown band-key catalog: base + every ``grow/b=*`` delta
    rewritten as ONE bounded, key-clustered parquet layout (the periodic
    maintenance job that stops the per-batch appends from accreting a
    small-file problem — same role as any streaming lake sink's
    compaction). Returns (n_base, n_appended, n_compacted); the caller
    asserts n_compacted == n_base + n_appended, which PROVES the
    key-uniqueness invariant end-to-end because n_compacted is counted
    through distinct() — any duplicate key anywhere would make it
    smaller. repartition(n_files, k) clusters equal keys into the same
    file, the layout the band-join's other side wants."""
    import glob as _glob
    import os as _os

    base = spark.read.parquet(base_dir)
    grown = sorted(_glob.glob(_os.path.join(grow_root, "b=*")))
    n_base = base.count()
    if grown:
        deltas = spark.read.parquet(*grown)
        n_delta = deltas.count()
        full = base.unionByName(deltas)
    else:
        n_delta = 0
        full = base
    full.repartition(n_files, "k").write.mode("overwrite").parquet(out_dir)
    n_comp = spark.read.parquet(out_dir).distinct().count()
    return n_base, n_delta, n_comp


@register(
    "stream_dedup_catalog_compact",
    oracle=_neardup_grow_ctes() + """
    SELECT (SELECT COUNT(*) FROM cat0) AS n_keys_base,
           (SELECT COUNT(*) FROM added0) + (SELECT COUNT(*) FROM added1)
             AS n_keys_appended,
           (SELECT COUNT(*) FROM cat0) + (SELECT COUNT(*) FROM added0)
             + (SELECT COUNT(*) FROM added1) AS n_keys_compacted
    """,
    tags=("streaming", "llm", "dedup", "scale"),
)
def stream_dedup_catalog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction leg closing the catalog lifecycle (build → grow →
    COMPACT): run the two-batch grow scenario, then rewrite base +
    appended deltas as one bounded key-clustered layout and prove no key
    was lost or duplicated — the oracle computes all three counts from
    the batch replay, and the compacted count goes through distinct()
    so any uniqueness violation breaks the hash match. The three counts
    are scalar aggregates (bounded driver values by construction).
    Reuses the last completed grow run of this session when its outputs
    are still on disk (see _recorded_grow) — the grow outputs are
    deterministic, so re-executing the streaming pipeline inside every
    compact call bought nothing but wall-clock (review r11)."""
    import glob as _glob
    import os as _os

    from lagom_kinesis_spark.streaming.topics import fresh_scratch_dir

    tune(spark)
    last = memo(spark, "last_grow_run", dict).get("run")
    if (
        last is not None
        and last[0] == fixture_fingerprint(sf_dir, "documents")
        and _glob.glob(_os.path.join(last[2], "res", "b=*"))
    ):
        _, cat_dir, run_dir = last
    else:
        _rollup, cat_dir, run_dir = _recorded_grow(spark, sf_dir)

    comp_dir = _os.path.join(fresh_scratch_dir("neardup_compact"), "cat")
    n_base, n_delta, n_comp = compact_band_catalog(
        spark, cat_dir, _os.path.join(run_dir, "grow"), comp_dir
    )
    return spark.createDataFrame(
        [(n_base, n_delta, n_comp)],
        "n_keys_base long, n_keys_appended long, n_keys_compacted long",
    )


@register(
    "kinesis_sim_roundtrip",
    oracle="""
    SELECT lang, COUNT(*) AS n_records, COUNT(DISTINCT shard) AS n_shards
    FROM (
      SELECT lang,
             CAST(('0x' || substr(md5(lang), 1, 8)) AS BIGINT) % 4 AS shard
      FROM documents
    )
    GROUP BY lang
    """,
    tags=("streaming", "source", "kinesis"),
)
def kinesis_sim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transport round-trip over the kinesis_sim Python DataSource:
    publish every document as a (json, partition_key=lang) record via the
    KPL-analogue ``put_records``, scan it back with
    ``format("kinesis_sim")`` (one input partition per shard — the KCL
    lease model), decode, and aggregate. The oracle counts one shard per
    key (any deterministic router does), so the check covers payload
    fidelity AND the same-key→same-shard contract. Harness-scale publish
    happens driver-side; production publishing is the distributed
    TaggedProducer."""
    import json as _json
    import shutil as _shutil

    import pyarrow.parquet as _pq

    from lagom_kinesis_spark.catalog import path_of
    from lagom_kinesis_spark.sources import KinesisSimDataSource, put_records

    tune(spark)
    try:
        spark.dataSource.register(KinesisSimDataSource)
    except Exception:
        pass  # already registered in this session
    d = io_scratch("ksim_docs", sf_dir)  # per-process: no sibling races
    _shutil.rmtree(d, ignore_errors=True)
    tbl = _pq.read_table(path_of(sf_dir, "documents"), columns=["doc_id", "lang"])
    put_records(
        d,
        [
            (_json.dumps({"doc_id": i, "lang": lang}), lang)
            for i, lang in zip(
                tbl["doc_id"].to_pylist(), tbl["lang"].to_pylist()
            )
        ],
        n_shards=4,
    )
    rec = spark.read.format("kinesis_sim").option("path", d).load()
    return (
        rec.select(
            F.get_json_object("data", "$.lang").alias("lang"), "shard_id"
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("shard_id").alias("n_shards"),
        )
    )


@register(
    "stream_chained_windows",
    oracle=events_cte(
        """
    , l1 AS (
      SELECT (epoch_us(ts)//1000000)//300*300 AS b5, COUNT(*) AS n
      FROM events GROUP BY b5
    )
    SELECT b5//900*900 AS b15,
           CAST(SUM(n) AS BIGINT) AS total_events,
           MAX(n) AS busiest_5min,
           COUNT(*) AS n_buckets
    FROM l1 GROUP BY b15
    """
    ),
    tags=("streaming", "window"),
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregation (Spark ≥3.4): 5-minute counts
    re-aggregated into 15-minute roll-ups in ONE streaming query — the
    hypertable-style multi-resolution rollup, incrementally maintained."""
    # Complete-mode chaining trips Spark's global-watermark correctness
    # check, which guards against LATE data reaching the downstream stateful
    # op. A bounded availableNow replay has no late data, so the check is
    # safely disabled for this query (production continuous mode would use
    # append + watermark finalization instead).
    check_key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    with scoped_confs(spark, {check_key: "false"}):
        l1 = (
            events_stream(spark, sf_dir)
            .withWatermark("ts", "1 hour")  # required to chain stateful ops
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.count("*").alias("n"))
        )
        l2 = (
            l1.groupBy(F.window(F.col("window"), "15 minutes"))
            .agg(
                F.sum("n").alias("total_events"),
                F.max("n").alias("busiest_5min"),
                F.count("*").alias("n_buckets"),
            )
            .select(
                F.unix_timestamp(F.col("window.start")).alias("b15"),
                "total_events",
                "busiest_5min",
                "n_buckets",
            )
        )
        return memory_sink_table(l2, "complete", stream_shuffle_partitions(sf_dir))


@register(
    "kinesis_sim_produce_roundtrip",
    oracle="""
    SELECT lang, COUNT(*) AS n_records, COUNT(DISTINCT shard) AS n_shards
    FROM (
      SELECT lang,
             CAST(('0x' || substr(md5(lang), 1, 8)) AS BIGINT) % 4 AS shard
      FROM documents
    )
    GROUP BY lang
    """,
    tags=("streaming", "sink", "kinesis"),
)
def kinesis_sim_produce_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED producer → consumer round-trip through the kinesis_sim
    DataSource: ``df.write.format("kinesis_sim")`` stages per-shard part
    files on the executors and commits them in one deterministic driver
    append (the two-phase exactly-once sink protocol — the KPL publish
    path `Producer.scala:217-250` with its commit-after-publish
    discipline), then the shard scan reads everything back. Unlike
    `kinesis_sim_roundtrip` (driver-side ``put_records``), every record
    here flows through Spark's DataSourceWriter task/commit machinery.
    The oracle counts one shard per key, so same-key → same-shard must
    survive the distributed write."""
    import shutil as _shutil

    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.sources import KinesisSimDataSource

    tune(spark)
    try:
        spark.dataSource.register(KinesisSimDataSource)
    except Exception:
        pass  # already registered in this session
    d = io_scratch("ksim_produce", sf_dir)  # per-process: no sibling races
    _shutil.rmtree(d, ignore_errors=True)
    records = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("data"),
        F.col("lang").alias("partition_key"),
    )
    (
        records.write.format("kinesis_sim")
        .option("path", d)
        .option("n_shards", "4")
        .mode("append")
        .save()
    )
    rec = spark.read.format("kinesis_sim").option("path", d).load()
    return (
        rec.select(F.col("partition_key").alias("lang"), "shard_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("shard_id").alias("n_shards"),
        )
    )


@register(
    "stream_append_finalized_windows",
    oracle=events_cte(
        """
    , wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT (epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000)
             AS bucket_start,
           event_type, COUNT(*) AS n
    FROM events, wm
    WHERE time_bucket(INTERVAL '5 minutes', ts) + INTERVAL 5 MINUTE <= w
    GROUP BY 1, 2
    """
    ),
    tags=("streaming", "window", "watermark"),
)
def stream_append_finalized_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode tumbling windows: a window row is emitted exactly once,
    when the 10-minute watermark passes its end — the emit-on-close
    contract downstream consumers rely on for exactly-once window
    delivery (contrast `stream_tumbling_window`'s update-mode refresh,
    which re-emits a window every batch that touches it).
    Windows still open at end of replay stay in state, unemitted: the
    oracle is the closed-window subset (end ≤ max ts − delay), NOT the
    full aggregate — that asymmetry IS the semantics under test.
    """
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_start"),
            "event_type",
            "n",
        )
    )
    return memory_sink_table(agg, "append", stream_shuffle_partitions(sf_dir))


@register(
    "stream_relay_to_kinesis",
    oracle=events_cte(
        """
    SELECT event_type AS partition_key, COUNT(*) AS n_records,
           COUNT(DISTINCT CAST(('0x' || substr(md5(event_type), 1, 8)) AS BIGINT) % 4)
             AS n_shards
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "sink", "kinesis"),
)
def stream_relay_to_kinesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core dataflow end-to-end on simulated transport:
    consume the events topic as a stream, and per micro-batch PRODUCE
    every record to a kinesis_sim stream through the distributed
    DataSourceWriter (`foreachBatch` + format("kinesis_sim") — the
    subscriber→flow→producer relay `Producer.scala:186-215` runs for
    every topic pair), then scan the produced stream back per shard.
    Epoch-staged writer commits make a replayed batch append-idempotent
    at the staging level; the oracle counts one shard per key, so payload
    counts AND one-shard-per-key placement must survive the relay.
    """
    import shutil as _shutil

    from lagom_kinesis_spark.sources import KinesisSimDataSource

    tune(spark)
    try:
        spark.dataSource.register(KinesisSimDataSource)
    except Exception:
        pass  # already registered in this session
    d = io_scratch("ksim_relay", sf_dir)  # per-process: no sibling races
    _shutil.rmtree(d, ignore_errors=True)

    def flow(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                F.col("event_id").cast("string").alias("data"),
                F.col("event_type").alias("partition_key"),
            )
            .write.format("kinesis_sim")
            .option("path", d)
            .option("n_shards", "4")
            .mode("append")
            .save()
        )

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(flow)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    rec = spark.read.format("kinesis_sim").option("path", d).load()
    return rec.groupBy("partition_key").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("shard_id").alias("n_shards"),
    )


@register(
    "kinesis_sim_reshard_roundtrip",
    oracle="""
    SELECT CASE
             WHEN doc_id % 2 = 0 THEN 'shard-00000'
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) < 2147483648 THEN 'shard-00001'
             ELSE 'shard-00002'
           END AS shard_id,
           COUNT(*) AS n_records
    FROM documents GROUP BY 1
    """,
    tags=("streaming", "source", "kinesis", "reshard"),
)
def kinesis_sim_reshard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kinesis SplitShard semantics end-to-end: records published before
    the split land in the (now CLOSED, still fully readable — SHARD_END)
    parent; after the split the producer routes each key's md5 hash32
    into whichever child owns that half of the parent's range. The scan
    reads parent AND children (one lease/partition each); the oracle
    recomputes the pre/post routing arithmetic — range containment must
    survive the reshard exactly."""
    import shutil as _shutil

    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.sources import KinesisSimDataSource
    from lagom_kinesis_spark.sources.kinesis_sim import (
        create_stream,
        put_records,
        split_shard,
    )

    tune(spark)
    try:
        spark.dataSource.register(KinesisSimDataSource)
    except Exception:
        pass  # already registered in this session
    d = io_scratch("ksim_reshard", sf_dir)  # per-process: no sibling races
    _shutil.rmtree(d, ignore_errors=True)
    create_stream(d, n_shards=1)
    import pyarrow.parquet as _pq

    from lagom_kinesis_spark.catalog import path_of

    ids = _pq.read_table(path_of(sf_dir, "documents"), columns=["doc_id"])[
        "doc_id"
    ].to_pylist()
    put_records(d, [(str(i), str(i)) for i in ids if i % 2 == 0])
    split_shard(d, "shard-00000")
    put_records(d, [(str(i), str(i)) for i in ids if i % 2 == 1])
    rec = spark.read.format("kinesis_sim").option("path", d).load()
    return rec.groupBy("shard_id").agg(F.count("*").alias("n_records"))


@register(
    "stream_histogram_quantile",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(floor(value / 8) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bucket, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM h
    )
    SELECT event_type,
           CAST(MIN(bucket) * 8 AS BIGINT) AS p95_lo,
           CAST(MAX(total) AS BIGINT) AS n_events
    FROM c WHERE cum * 20 >= total * 19
    GROUP BY event_type
    """,
    tags=("streaming", "stateful", "sketch"),
)
def stream_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p95 of `value` per event type over an unbounded stream with FIXED
    state: a fixed-width histogram sketch as the streaming aggregate.

    Spark (rightly) refuses `percentile` as a streaming aggregate —
    exact quantile state grows with the stream. The histogram answer
    bounds state at |event_types| x |buckets| counter rows (same
    discipline as the HLL/CMS family, operators/sketches.py): the
    streaming agg is groupBy(type, bucket).count(), a supported shape,
    and the quantile is read from the finished state batch-side with a
    cumulative window. Determinism: bucket = floor(value / 8) — division
    by a power of two is exact in IEEE double, so both engines compute
    identical buckets, and the 0.95 rank test is pure-integer
    (cum*20 >= total*19) — hence an EXACT SQL oracle for an approximate
    (bucket-resolution) streaming operator. At production scale the
    bucket width trades resolution for state; log-width buckets bound
    relative error the same way.
    """
    from pyspark.sql import Window as W

    ev = events_stream(spark, sf_dir).select(
        "event_type", F.floor(F.col("value") / 8).cast("long").alias("bucket")
    )
    hist = ev.groupBy("event_type", "bucket").agg(F.count("*").alias("n"))
    state = memory_sink_table(hist, "complete", stream_shuffle_partitions(sf_dir))
    by_type = W.partitionBy("event_type")
    c = state.select(
        "event_type",
        "bucket",
        F.sum("n").over(by_type.orderBy("bucket")).alias("cum"),
        F.sum("n").over(by_type).alias("total"),
    )
    return (
        c.filter(F.col("cum") * 20 >= F.col("total") * 19)
        .groupBy("event_type")
        .agg(
            (F.min("bucket") * 8).cast("long").alias("p95_lo"),
            F.max("total").cast("long").alias("n_events"),
        )
    )


@register(
    "stream_state_store_read",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "state", "scan"),
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state-store DATA SOURCE (Spark 4 `format("statestore")`): after
    a bounded replay commits its aggregation state, read the checkpoint
    back as a DataFrame — committed state becomes a queryable table, the
    ops surface for state debugging, reconciliation, and offline state
    migration. The single-batch replay makes the persisted count state
    equal the batch aggregate, which is the exact oracle. Scale: the
    reader exposes partition_id and loads each state partition
    independently — a state scan parallelizes like any other source."""
    import uuid

    from lagom_kinesis_spark.streaming.topics import (
        _unload_state_stores,
        fresh_scratch_dir,
    )

    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"ssr_{uuid.uuid4().hex[:12]}"
    # checkpoint must outlive this call (the returned DataFrame reads it
    # lazily); fresh_scratch_dir defers deletion to the next invocation
    ck = fresh_scratch_dir("statescan")
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        _unload_state_stores(spark)
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    st = spark.read.format("statestore").load(ck)
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n"),
    )


def recover_snapshot(target: str) -> None:
    """Roll forward a crash between swap_snapshot's two renames: if the
    live dir is missing but the aside copy exists, restore it. Call
    before every read of a swap-managed snapshot."""
    import os

    old = f"{target}_old"
    if not os.path.exists(target) and os.path.exists(old):
        os.rename(old, target)


def swap_snapshot(target: str, new_dir: str) -> None:
    """Crash-safe snapshot promotion: rename the live dir ASIDE, promote
    the new one, drop the aside copy. rmtree-then-rename has a window
    where a kill leaves NO readable snapshot at all; here every window
    leaves one (target, or target_old for recover_snapshot to restore).
    Unit-tested directly in tests/test_streaming.py — the registered
    query replays from scratch per invocation, so only a mid-batch kill
    ever exercises recovery in situ."""
    import os
    import shutil

    old = f"{target}_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(target, old)
    os.rename(new_dir, target)
    shutil.rmtree(old, ignore_errors=True)


@register(
    "stream_cdc_scd2_apply",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '1995-01-01' AS valid_from,
           CAST(concat(1996 + c_custkey % 3, '-01-01') AS TIMESTAMP)
             AS valid_to,
           FALSE AS is_current
    FROM customer
    UNION ALL
    SELECT c_custkey,
           concat('B', c_custkey % 3, '_', c_mktsegment) AS c_mktsegment,
           CAST(concat(1996 + c_custkey % 3, '-01-01') AS TIMESTAMP)
             AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM customer
    """,
    tags=("streaming", "merge"),
)
def stream_cdc_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC → SCD2 dimension maintenance: a change-data stream
    (3 files, one micro-batch each via maxFilesPerTrigger=1) applied
    incrementally to a type-2 dimension with ``foreachBatch`` +
    ``operators/merge.scd2_apply`` — the production pattern for keeping a
    warehouse dimension current from a stream without a lakehouse MERGE
    sink: each batch rewrites the (dimension-sized, small) snapshot;
    at 100 TB the fact side streams, the dimension stays
    snapshot-rewritable. The CDC batches PARTITION the key space
    (custkey mod 3), so per-key application order is fixed and the final
    state is file-arrival-order-independent — which is what makes the
    one-shot SQL oracle exact. Restartable: the checkpoint + commit-log
    track applied batches."""
    import os
    import shutil

    from lagom_kinesis_spark.catalog import io_scratch, load
    from lagom_kinesis_spark.operators.merge import scd2_apply

    base = io_scratch("cdc_scd2", sf_dir)  # per-process: no sibling races
    shutil.rmtree(base, ignore_errors=True)  # fresh replay per invocation
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    cust = load(spark, sf_dir, "customer")
    for k in range(3):
        (
            cust.filter(F.col("c_custkey") % 3 == k)
            .select(
                "c_custkey",
                F.concat(
                    F.lit(f"B{k}_"), F.col("c_mktsegment")
                ).alias("c_mktsegment"),
                F.lit(f"{1996 + k}-01-01 00:00:00")
                .cast("timestamp")
                .alias("eff"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{base}/tmp{k}")
        )
        part = [
            f for f in os.listdir(f"{base}/tmp{k}") if f.endswith(".parquet")
        ][0]
        os.rename(f"{base}/tmp{k}/{part}", f"{src}/batch_{k}.parquet")
    target = f"{base}/target"
    (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.lit("1995-01-01 00:00:00").cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .write.mode("overwrite")
        .parquet(target)
    )

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        recover_snapshot(target)
        tgt = sp.read.parquet(target)
        out = scd2_apply(tgt, bdf, keys=["c_custkey"], attrs=["c_mktsegment"])
        out.write.mode("overwrite").parquet(f"{target}_new")
        swap_snapshot(target, f"{target}_new")

    stream = (
        spark.readStream.schema(
            "c_custkey bigint, c_mktsegment string, eff timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ck")
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.read.parquet(target)


@register(
    "stream_attribution_last_touch",
    oracle=ATTRIBUTION_ORACLE,
    tags=("streaming", "stateful"),
)
def stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING last-touch attribution — the online form of
    behavior_attribution_last_touch: per-user state carries the most
    recent click (ts, event_id) across batches; each purchase is credited
    to the carried click within a 1-hour lookback at arrival. The state is
    ONE row per user however long the stream runs — the canonical
    bounded-state sessionless attribution an event pipeline serves in
    real time (batch replays compute it as a window; a stream cannot,
    because the window never closes).

    Within a batch the group's rows are sorted by (ts, event_id) before
    the stateful fold, so a single-batch bounded replay is bit-equal to
    the batch window oracle; across batches the carried state yields the
    same answer as long as batch boundaries respect arrival order (the
    journal replay's contract) — pinned by the 2-batch split test in
    tests/test_streaming.py."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "user_id", "ts", "event_type")
    out = ev.groupBy("user_id").applyInPandasWithState(
        attribution_stateful,
        outputStructType="purchase_id long, click_id long",
        stateStructType="lc_ts timestamp, lc_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return memory_sink_table(out, "append", stream_shuffle_partitions(sf_dir))


def attribution_stateful(key, pdfs, state):
    """Per-user last-touch fold for stream_attribution_last_touch (module
    level so the cross-batch test can mount it on its own 2-batch source):
    state = the most recent click's (ts, event_id); purchases emit the
    carried click when it is within the 1-hour lookback."""
    import pandas as pd

    lc_ts, lc_id = state.get if state.exists else (None, None)
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    out_pid, out_cid = [], []
    for ts, eid, etype in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
        if etype == "purchase":
            out_pid.append(eid)
            if lc_ts is not None and lc_ts >= ts - pd.Timedelta(hours=1):
                out_cid.append(lc_id)
            else:
                out_cid.append(None)
        else:
            lc_ts, lc_id = ts, eid
    if lc_ts is not None:
        # lc_ts is a pandas Timestamp when set this batch but a plain
        # datetime when carried from a previous batch's state.
        state.update((pd.Timestamp(lc_ts).to_pydatetime(), int(lc_id)))
    yield pd.DataFrame(
        {
            "purchase_id": pd.Series(out_pid, dtype="int64"),
            "click_id": pd.Series(out_cid, dtype="object"),
        }
    )


def _resume_run_round(agg: DataFrame, name: str, ck: str):
    """One availableNow round of the incremental-resume scenario; returns
    the StreamingQuery's progress list (numInputRows per batch)."""
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return [p for p in q.recentProgress]
    finally:
        q.stop()  # a failed batch must not leak the running query


def incremental_resume_scenario(spark: SparkSession, sf_dir: str):
    """Build the 2-round incremental ingest: round 1 processes the even
    half, new files land, round 2 RESUMES from the same checkpoint and
    must read only the odd half while the aggregation state carries.
    Returns (final table DataFrame, round1 progress, round2 progress) —
    the progress lists let the test pin 'round 2 read only the new
    rows'."""
    import glob
    import os
    import shutil

    from lagom_kinesis_spark.catalog import load

    src = io_scratch("resume_src", sf_dir)
    ck = io_scratch("resume_ck", sf_dir)
    for d in (src, ck):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def land(pred, stage: str) -> None:
        tmp = f"{src}_{stage}"
        e.filter(pred).coalesce(4).write.mode("overwrite").parquet(tmp)
        for i, f in enumerate(sorted(glob.glob(f"{tmp}/part-*.parquet"))):
            os.rename(f, os.path.join(src, f"{stage}_{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(src)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), r6(F.sum("value")).alias("total_value")
    )
    name = "resume_tbl"
    land(F.col("event_id") % 2 == 0, "b1")
    p1 = _resume_run_round(agg, name, ck)
    land(F.col("event_id") % 2 == 1, "b2")
    p2 = _resume_run_round(agg, name, ck)
    return spark.table(name), p1, p2


@register(
    "stream_incremental_resume",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(*) AS n, round(SUM(value), 6) AS total_value
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming", "stateful", "checkpoint"),
)
def stream_incremental_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume incremental ingest — the property every nightly
    file-landing pipeline stands on: run 1 processes the files present,
    the query STOPS, more files land, run 2 starts from the SAME
    checkpoint and processes ONLY the new files while the aggregation
    state carries forward. The final complete-mode state must equal the
    batch aggregate over everything (the oracle) — double-processing or
    dropped files both break the match, so the hash IS the exactly-once
    evidence; tests/test_streaming.py additionally pins that round 2's
    input-row count is only the second landing."""
    tune(spark)
    out, _, _ = incremental_resume_scenario(spark, sf_dir)
    return out


@register(
    "stream_stream_full_outer_join",
    oracle=events_cte(
        """
    , clicks AS (SELECT event_id AS click_id, user_id, ts FROM events
                 WHERE event_type = 'click'),
      purchases AS (SELECT event_id AS purchase_id, user_id, ts FROM events
                    WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id
    FROM clicks c FULL JOIN purchases p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 10 MINUTE
    """
    ),
    tags=("streaming", "join"),
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — completes the stream-join matrix
    (inner / left / full): null-extended rows on EITHER side emit only
    once that side's watermark proves no match can arrive; the time-range
    condition bounds both sides' state, so neither join leg accumulates
    forever. Same sentinel-advanced bounded-replay device as the left
    join (neither sentinel can finalize before the replay ends, so
    neither appears in output); result equals the batch FULL JOIN."""
    tune(spark)
    eos_dir = _events_dir_with_sentinel(sf_dir)

    def eos_stream():
        raw = spark.readStream.schema(
            _events_raw_schema(spark, sf_dir)
        ).parquet(eos_dir)
        return normalize_event_ts(raw).withWatermark("ts", "30 minutes")

    clicks = eos_stream().filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = eos_stream().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select("click_id", "purchase_id")
    return memory_sink_table(joined, "append")


@register(
    "stream_union_fan_in",
    oracle=events_cte(
        """
    SELECT event_type, COUNT(*) AS n, round(SUM(value), 6) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """
    ),
    tags=("streaming",),
)
def stream_union_fan_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source fan-in: TWO independent streaming sources (the topic
    split across directories — multi-region feeds, or a topic plus its
    backfill) unioned into ONE streaming aggregation. Spark plans the
    union as extra scan legs feeding the same stateful agg, so the state
    and checkpoint stay unified — the property that makes fan-in safe:
    no per-source duplicate aggregation to reconcile. Oracle: the batch
    aggregate over the whole topic."""
    tune(spark)
    import os
    import shutil

    from lagom_kinesis_spark.catalog import load

    src_a = io_scratch("fanin_a", sf_dir, source="events")
    src_b = io_scratch("fanin_b", sf_dir, source="events")
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for pred, src, stage in (
        (F.col("event_id") % 2 == 0, src_a, "a"),
        (F.col("event_id") % 2 == 1, src_b, "b"),
    ):
        if not os.path.exists(os.path.join(src, "_FANIN_DONE")):
            shutil.rmtree(src, ignore_errors=True)
            e.filter(pred).coalesce(2).write.mode("overwrite").parquet(src)
            open(os.path.join(src, "_FANIN_DONE"), "w").close()
    sch = "event_id long, user_id long, event_type string, value double"
    a = spark.readStream.schema(sch).parquet(src_a)
    b = spark.readStream.schema(sch).parquet(src_b)
    # exact distinct users: collect_set size keeps the state exact and
    # mergeable across the two source legs
    agg = (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            r6(F.sum("value")).alias("total_value"),
            F.size(F.collect_set("user_id")).cast("long").alias("n_users"),
        )
    )
    return memory_sink_table(agg, "complete")
