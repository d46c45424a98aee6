"""Watermark late-data semantics (SURVEY.md §2B 'watermark + late-data
drop'): a record arriving after its window's state has been evicted (the
watermark passed the window end in an earlier batch) is dropped from an
append-mode windowed aggregation.

Spark's eviction is lazy: a late row arriving in the same batch where the
watermark first passes its window still merges into live state. The drop is
only guaranteed once eviction happened in a PRIOR batch — hence three
batches here: data, watermark-advancer (evicts + emits), late straggler.
"""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lagom_kinesis_spark.queries.streaming_ops import ROCKSDB_PROVIDER
from lagom_kinesis_spark.session import scoped_confs


@pytest.fixture()
def three_batch_source(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(name: str, minutes: list[int], id0: int) -> None:
        pdf = pd.DataFrame(
            {
                "event_id": range(id0, id0 + len(minutes)),
                "ts": [base + pd.Timedelta(minutes=m) for m in minutes],
                "value": [1.0] * len(minutes),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / name))
        time.sleep(1.1)  # file source orders batches by modification time

    write("batch_a", list(range(100)), 0)  # minutes 0..99
    write("batch_b", list(range(100, 110)), 1000)  # advances watermark, evicts
    write("batch_c", [5], 2000)  # late straggler for an evicted window
    return str(src)


def test_late_rows_dropped_beyond_watermark(spark, three_batch_source):
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(three_batch_source + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("window.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3, "expected one batch per file"
    q.stop()
    counts = [
        r["n"]
        for r in spark.table("late_drop_tbl").collect()
        if r["start"] == int(pd.Timestamp("2024-01-01 00:00:00").timestamp())
    ]
    # Window [00:00, 00:10) was evicted+emitted with its on-time count of 10;
    # the batch-3 straggler (minute 5) must be dropped, not re-emitted.
    assert counts == [10]


def test_rocksdb_state_store_provider(spark):
    """The engine's stateful streaming ops run unchanged on the RocksDB
    state store — the production provider for large state (HDFS-backed
    in-memory maps OOM once per-partition state outgrows the heap)."""
    from lagom_kinesis_spark.registry import all_queries
    from tests.conftest import SF_DIR

    with scoped_confs(spark, ROCKSDB_PROVIDER):
        df = all_queries()["stream_session_window"].fn(spark, SF_DIR)
        assert df.count() > 0


def test_event_time_timeout_evicts_idle_keys(spark, tmp_path):
    """GroupStateTimeout.EventTimeTimeout: a key idle past its timeout
    timestamp is evicted when the watermark passes it — the session-expiry
    contract for arbitrary stateful operators (the half of
    stream_arbitrary_state's API surface a single-batch replay can't show).
    Two bounded availableNow runs share one checkpoint: run 2's later
    events advance the watermark and fire run 1's timeouts."""
    import glob
    import os
    import shutil
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def add_file(idx, rows):
        stage = str(tmp_path / f"stage{idx}")
        spark.createDataFrame(rows, "user string, ts timestamp, v long").coalesce(
            1
        ).write.parquet(stage)
        shutil.copy(
            glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/{idx:05d}.parquet"
        )

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (n,) = state.get
            yield pd.DataFrame(
                {"user": [key[0]], "status": ["evicted"], "n": [n]}
            )
            state.remove()
            return
        n = state.get[0] if state.exists else 0
        last_ms = 0
        for pdf in pdfs:
            n += len(pdf)
            last_ms = max(last_ms, int(pdf["ts"].max().timestamp() * 1000))
        state.update((n,))
        # expire 5 minutes of event time after the key's last event
        state.setTimeoutTimestamp(last_ms + 5 * 60 * 1000)
        yield pd.DataFrame({"user": [key[0]], "status": ["active"], "n": [n]})

    def run(name):
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and recovery across runs is the point of this test.
        emitted: list = []
        q = (
            spark.readStream.schema("user string, ts timestamp, v long")
            .parquet(src)
            .withWatermark("ts", "1 minute")
            .groupBy("user")
            .applyInPandasWithState(
                track,
                outputStructType="user string, status string, n long",
                stateStructType="n long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
            .writeStream.foreachBatch(
                lambda bdf, eid: emitted.extend(bdf.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return {(r["user"], r["status"]): r["n"] for r in emitted}

    add_file(0, [("a", t0, 1), ("a", t0 + timedelta(minutes=1), 2), ("b", t0, 3)])
    first = run("ett_run1")
    assert first[("a", "active")] == 2 and first[("b", "active")] == 1

    # 30 minutes later: watermark sweeps past a's and b's timeout stamps.
    add_file(1, [("c", t0 + timedelta(minutes=30), 4)])
    second = run("ett_run2")
    assert second[("c", "active")] == 1
    assert second[("a", "evicted")] == 2, second
    assert second[("b", "evicted")] == 1, second


def test_snapshot_swap_recovers_every_crash_window(tmp_path):
    """The CDC→SCD2 sink's snapshot swap: a kill at ANY point between
    swap_snapshot's renames must leave a readable snapshot that
    recover_snapshot restores — the restartable contract the registered
    query's fresh-replay setup never exercises in situ."""
    import os

    from lagom_kinesis_spark.queries.streaming_ops import (
        recover_snapshot,
        swap_snapshot,
    )

    t = str(tmp_path / "t")

    def mk(d: str, content: str) -> None:
        os.makedirs(d)
        with open(os.path.join(d, "f"), "w") as f:
            f.write(content)

    mk(t, "v1")
    mk(t + "_new", "v2")
    swap_snapshot(t, t + "_new")
    assert open(f"{t}/f").read() == "v2" and not os.path.exists(t + "_old")

    # Crash window A: live dir renamed aside, promotion not reached —
    # only _old exists; recovery must roll it back to the live name.
    os.rename(t, t + "_old")
    recover_snapshot(t)
    assert open(f"{t}/f").read() == "v2" and not os.path.exists(t + "_old")

    # Crash window B: promotion done, aside cleanup not — both exist;
    # recovery must keep the (newer) live dir, and the NEXT swap must
    # still succeed by sweeping the stale aside copy first.
    mk(t + "_old", "stale")
    recover_snapshot(t)
    assert open(f"{t}/f").read() == "v2"
    mk(t + "_new", "v3")
    swap_snapshot(t, t + "_new")
    assert open(f"{t}/f").read() == "v3" and not os.path.exists(t + "_old")


def test_attribution_state_carries_across_batches(spark, tmp_path):
    """stream_attribution_last_touch's per-user state must survive batch
    boundaries: a click in batch 1 attributes a purchase in batch 2 (within
    the lookback), and a purchase whose only preceding click is >1h older
    stays organic. Also exercises the datetime-vs-pandas-Timestamp state
    round-trip that only a multi-batch run hits."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from lagom_kinesis_spark.queries.streaming_ops import attribution_stateful

    src = tmp_path / "attr_src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(name, rows, sleep=True):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "ts", "event_type"]
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / name))
        if sleep:
            time.sleep(1.1)

    # batch 1: u1 clicks @0min; u2 clicks @0min
    write(
        "b1",
        [
            (1, 1, base, "click"),
            (2, 2, base, "click"),
        ],
    )
    # batch 2: u1 purchase @30min (attributed to click 1);
    #          u2 purchase @90min (>1h after click 2 → organic);
    #          u2 click @91min then purchase @92min (attributed to 5)
    write(
        "b2",
        [
            (3, 1, base + pd.Timedelta(minutes=30), "purchase"),
            (4, 2, base + pd.Timedelta(minutes=90), "purchase"),
            (5, 2, base + pd.Timedelta(minutes=91), "click"),
            (6, 2, base + pd.Timedelta(minutes=92), "purchase"),
        ],
        sleep=False,
    )
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        attribution_stateful,
        outputStructType="purchase_id long, click_id long",
        stateStructType="lc_ts timestamp, lc_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attr_xbatch_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2, "expected one batch per file"
    q.stop()
    got = {
        r["purchase_id"]: r["click_id"]
        for r in spark.table("attr_xbatch_tbl").collect()
    }
    assert got == {3: 1, 4: None, 6: 5}


def test_transform_with_state_matches_batch(spark, tmp_path):
    """transformWithStateInPandas (arbitrary state v2, RocksDB provider,
    vendored-protobuf injection — streaming_ops._enable_transform_with_state)
    end-to-end: per-user ValueState must carry across batch boundaries and
    the final update-mode row per user must equal the batch aggregate."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lagom_kinesis_spark.queries.streaming_ops import (
        TransformWithStateUnavailable,
        _enable_transform_with_state,
    )

    try:
        _enable_transform_with_state(spark)
    except TransformWithStateUnavailable as e:
        pytest.skip(str(e))
    src = tmp_path / "tws_src"
    src.mkdir()

    def write(name, rows, sleep=True):
        pdf = pd.DataFrame(rows, columns=["user_id", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / name))
        if sleep:
            time.sleep(1.1)

    write("b1", [(1, 10.0), (2, 5.0), (1, 2.0)])
    write("b2", [(1, 7.0), (3, 1.0)], sleep=False)

    state_schema = StructType([StructField("n", LongType()), StructField("s", DoubleType())])
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("s", DoubleType()),
        ]
    )

    class Sum(StatefulProcessor):
        def init(self, handle) -> None:
            self.state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            n, s = self.state.get() if self.state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self.state.update((n, s))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "s": [s]})

        def close(self) -> None:
            pass

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        Sum(), outputStructType=out_schema, outputMode="Update", timeMode="None"
    )
    with scoped_confs(spark, ROCKSDB_PROVIDER):
        q = (
            out.writeStream.format("memory")
            .queryName("tws_xbatch_tbl")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(q.recentProgress) >= 2, "expected one batch per file"
        q.stop()
    # running state is monotone in n, so the row with the largest n per
    # user is the final update — no reliance on memory-sink row order
    latest: dict[int, tuple[int, float]] = {}
    for r in spark.table("tws_xbatch_tbl").collect():
        if r["user_id"] not in latest or r["n"] > latest[r["user_id"]][0]:
            latest[r["user_id"]] = (r["n"], r["s"])
    assert latest == {1: (3, 19.0), 2: (1, 5.0), 3: (1, 1.0)}


def test_transform_with_state_degrades_without_protobuf(spark, monkeypatch):
    """An image change that removes the vendored Cloud-SDK protobuf must
    turn the four stream_tws_* rows into a DOCUMENTED environment-limit
    signal (TransformWithStateUnavailable, raised before any session/env
    mutation), never an opaque worker crash — VERDICT r8 ask #8. Mocks
    the vendored path away AND blocks the real package import."""
    import sys

    from lagom_kinesis_spark.queries import streaming_ops as so

    monkeypatch.setattr(
        so, "_VENDORED_PROTOBUF", "/nonexistent/vendored_protobuf"
    )
    # A None sys.modules entry makes `import google.protobuf` raise
    # ImportError — the standard absence mock for an already-importable
    # package (the probe is documented to read this as absent).
    monkeypatch.setitem(sys.modules, "google.protobuf", None)
    env_before = dict(spark.sparkContext.environment)
    with pytest.raises(so.TransformWithStateUnavailable) as ei:
        so._enable_transform_with_state(spark)
    assert "environment limit" in str(ei.value)
    # raised BEFORE mutating the executor env: a failed probe must not
    # leave a broken PYTHONPATH behind for every later python worker
    assert dict(spark.sparkContext.environment) == env_before


def test_tws_ttl_state_expires(spark, tmp_path):
    """The expiry half of stream_tws_ttl's contract (the registered query
    pins non-expiry under a 1 h TTL): with a SHORT ttlDurationMs and a
    wall-clock gap longer than it between two availableNow rounds over
    one checkpoint, the second round must see the key's state as absent —
    the count restarts instead of accumulating."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    from lagom_kinesis_spark.queries.streaming_ops import (
        TransformWithStateUnavailable,
        _enable_transform_with_state,
    )

    try:
        _enable_transform_with_state(spark)
    except TransformWithStateUnavailable as e:
        pytest.skip(str(e))

    src = tmp_path / "ttl_src"
    src.mkdir()
    ckpt = str(tmp_path / "ttl_ck")
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
                "cnt", state_schema, ttlDurationMs=500
            )

        def handleInputRows(self, key, rows, timer_values):
            count = self.state.get()[0] if self.state.exists() else 0
            for pdf in rows:
                count += len(pdf)
            self.state.update((count,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

        def close(self) -> None:
            pass

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / name))

    def run_round():
        # memory sink cannot recover from a checkpoint; foreachBatch can —
        # it is the restart-capable sink the topics layer itself uses
        got: list = []
        # ProcessingTime mode + availableNow never terminates with no-data
        # batches on (they keep advancing the TTL clock) — same scoping as
        # the registered query
        nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
        with scoped_confs(spark, {**ROCKSDB_PROVIDER, nd_key: "false"}):
            # batches land as subdirectories: glob one level like the
            # tws cross-batch test above
            stream = spark.readStream.schema(
                "user_id long, value double"
            ).parquet(str(src) + "/*")
            out = stream.groupBy("user_id").transformWithStateInPandas(
                TtlCount(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="ProcessingTime",
            )
            q = (
                out.writeStream.foreachBatch(
                    lambda df, bid: got.extend(
                        (r["user_id"], r["n_events"]) for r in df.collect()
                    )
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        return got

    write("b1", [(1, 10.0), (1, 2.0)])
    assert run_round() == [(1, 2)]
    time.sleep(1.5)  # let the 500 ms lease lapse
    write("b2", [(1, 7.0)])
    # expired: the second round restarts at 1, never 3
    assert run_round() == [(1, 1)]


def test_incremental_resume_second_round_reads_only_new_files(spark):
    """stream_incremental_resume's exactly-once evidence is the oracle
    hash; this pins the INCREMENTAL half: round 2 (same checkpoint) must
    ingest exactly the odd-half row count — no reprocessing of round 1's
    files, no misses."""
    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.queries.streaming_ops import (
        incremental_resume_scenario,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events")
    n_even = e.filter(F.col("event_id") % 2 == 0).count()
    n_odd = e.filter(F.col("event_id") % 2 == 1).count()
    _, p1, p2 = incremental_resume_scenario(spark, SF_DIR)
    rows1 = sum(p["numInputRows"] for p in p1)
    rows2 = sum(p["numInputRows"] for p in p2)
    assert rows1 == n_even
    assert rows2 == n_odd


def test_stream_shuffle_partitions_volume_rule(monkeypatch):
    """The volume rule is the r9 scale fix (state partitioning follows
    input volume, clamp [8,16]); pin the formula at the boundary volumes
    so a future edit can't silently serialize sf10 again."""
    from lagom_kinesis_spark.queries import streaming_ops as so

    cases = {1_000: 8, 100_000: 8, 5_000_000: 8, 6_250_000: 10, 10_000_000: 16,
             100_000_000: 16}
    for rows, want in cases.items():
        monkeypatch.setattr(so, "_events_num_rows", lambda _sf, r=rows: r)
        assert so.stream_shuffle_partitions("/any") == want, rows


def _rate_counts(spark):
    # rate + availableNow terminates after one batch
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .groupBy("value")
        .count()
    )


def test_sink_partition_count_reaches_state_store(spark, monkeypatch):
    """memory_sink_table's explicit count sizes the stateful operator:
    Structured Streaming fixes the state-store instance count from
    shuffle.partitions at start(). The caller's conf is untouched after."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from lagom_kinesis_spark.streaming import topics

    started = []
    real_start = DataStreamWriter.start

    def spy_start(self, *a, **k):
        started.append(real_start(self, *a, **k))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", spy_start)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    topics.memory_sink_table(_rate_counts(spark), "complete", partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    (q,) = started
    ops = [op for p in q.recentProgress for op in p.stateOperators]
    assert ops
    assert {(op.numShufflePartitions, op.numStateStoreInstances) for op in ops} == {
        (3, 3)
    }


def test_memory_sink_restores_partitions_when_start_raises(spark):
    """start() itself can raise (append mode on an un-watermarked
    aggregation); the partition override must not outlive it."""
    from lagom_kinesis_spark.streaming import topics

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception, match="(?i)append"):
        topics.memory_sink_table(_rate_counts(spark), "append", partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_bench_stream_steady_state_contract(spark):
    """bench.py's steady-state metric is a per-round driver artifact; a
    broken implementation degrades to a silent {} in the JSON (main()
    wraps it best-effort), so pin the contract here: it must produce all
    keys, a multi-batch run strictly slower than the single batch, and a
    non-negative marginal — at the floor fixture with 2 chunks so the
    smoke stays cheap."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    keys = {
        "shape",
        "n_batches",
        "t_lifecycle_s",
        "t_single_batch_s",
        "t_n_batches_s",
        "amortized_one_batch_s",
        "marginal_batch_s",
        "marginal_rows_per_s",
    }
    for shape in ("tumbling", "session"):
        out = bench._stream_steady_state(
            spark, "/root/testdata/sf0.001", n_chunks=2, shape=shape
        )
        assert set(out) == keys
        assert out["shape"] == shape
        assert out["n_batches"] == 2
        # >= with 10% tolerance, not strict >: with only ONE extra
        # micro-batch at the floor fixture, timing noise on a loaded box
        # can cross the two min-of-2 timings; the contract under test is
        # "both runs complete and produce sane keys", not micro-timing
        # (ADVICE r8).
        assert out["t_single_batch_s"] > 0
        assert out["t_lifecycle_s"] > 0
        assert out["t_n_batches_s"] >= out["t_single_batch_s"] * 0.9
        assert out["marginal_batch_s"] >= 0
        assert out["amortized_one_batch_s"] >= 0


def test_bench_probe_and_thermal_gate_contract():
    """The contention probe and thermal gate are best-effort diagnostics
    that must never wedge or crash the bench: the probe returns a full
    field set (or {}) through its timeout-guarded pools, and the gate
    returns promptly once the single-unit burn reads clean (max_wait_s=0
    bounds the wait for the test)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    out = bench._contention_probe(n_hashes=50_000)
    if out:  # {} allowed on fork-unavailable platforms
        assert {
            "ncpu",
            "single_unit_s",
            "parallel_unit_max_s",
            "effective_cores",
            "steal_pct",
            "contended",
        } <= set(out)
        assert isinstance(out["contended"], bool)
    bench._thermal_gate(max_wait_s=0)  # returns, never raises


def test_probe_and_thermal_gate_read_one_clock(monkeypatch):
    """The headline gate cools on the clock the probe flags: both read the
    single-thread unit through bench._single_unit_s, so a reading the probe
    calls contended keeps the gate cooling, and a clean reading releases
    it at once."""
    import os
    import sys
    import threading
    import time

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    reading, calls, sleeps = {"s": 1.0}, [], []
    real_sleep, me = time.sleep, threading.get_ident()

    def clock(n=1_000_000):
        calls.append(n)
        return reading["s"]

    def sleep(s):
        # time.sleep is patched process-wide: py4j's client thread keeps
        # sleeping in the background, and only this thread's calls count.
        if threading.get_ident() == me:
            sleeps.append(s)
        else:
            real_sleep(s)

    monkeypatch.setattr(bench, "_single_unit_s", clock)
    monkeypatch.setattr(bench.time, "sleep", sleep)
    monkeypatch.setenv("SPARK_GRAFT_BURN_REF_S", "0.5")
    out = bench._contention_probe(n_hashes=20_000)
    assert calls == [20_000]
    if out:  # {} allowed on fork-unavailable platforms
        assert out["single_unit_s"] == 1.0 and out["contended"] is True
    bench._thermal_gate(max_wait_s=30)  # 1.0 s > 1.25 × 0.5 s: cools once
    assert sleeps == [30.0] and len(calls) == 3
    reading["s"] = 0.5
    bench._thermal_gate(max_wait_s=30)
    assert sleeps == [30.0] and len(calls) == 4


def test_update_mode_chunked_replay_compacts_to_batch_result(spark, tmp_path):
    """The update-mode contract behind stream_tumbling_window's r11 basis
    switch: a SINGLE-batch replay emits each window once (sink holds the
    final state — that equivalence is pinned by the driver oracle), while
    a CHUNKED replay re-emits a window per touching batch and the sink
    compacts by keeping the LATEST row per key. Proven here with a 3-chunk
    maxFilesPerTrigger=1 replay into a foreachBatch parquet sink carrying
    batch_id, compacted by max-batch_id-per-window — must equal the batch
    aggregate exactly."""
    from tests.conftest import SF_DIR

    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.functions import r6

    src = str(tmp_path / "chunks")
    load(spark, SF_DIR, "events").repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def agg_of(df):
        return (
            df.groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count("*").alias("n"), r6(F.sum("value")).alias("total_value"))
            .select(
                F.unix_timestamp(F.col("window.start")).alias("bucket_start"),
                "event_type",
                "n",
                "total_value",
            )
        )

    sink_dir = str(tmp_path / "sink")
    q = (
        agg_of(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        .writeStream.foreachBatch(
            lambda df, bid: df.withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .parquet(sink_dir)
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    raw = spark.read.parquet(sink_dir)
    assert raw.select("batch_id").distinct().count() == 3  # really chunked
    # Sink-side compaction: latest emission per window key wins.
    compacted = (
        raw.groupBy("bucket_start", "event_type")
        .agg(
            F.max_by(
                F.struct("n", "total_value"), F.col("batch_id")
            ).alias("s")
        )
        .select("bucket_start", "event_type", "s.n", "s.total_value")
    )
    got = sorted(tuple(r) for r in compacted.collect())
    want = sorted(
        tuple(r) for r in agg_of(load(spark, SF_DIR, "events")).collect()
    )
    assert got == want


def test_neardup_stream_dedups_across_batches(spark, tmp_path):
    """stream_dedup_neardup's cross-batch STATE contract: a document whose
    content hash arrived in batch 1 must be dropped when it re-arrives in
    batch 2 (at-least-once transport re-delivery), and near-dup marking
    against the band catalog must hold for streamed rows in either batch.
    Drives the factored core (neardup_stream_frame) over a synthetic
    2-file source with maxFilesPerTrigger=1."""
    import time

    from pyspark.sql import functions as F

    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens
    from lagom_kinesis_spark.queries.streaming_ops import neardup_stream_frame

    hist_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today and every day after that without fail"
    )
    # One-token edit ('fail' -> 'delay'): shares 2 of 4 band keys with
    # hist_text (deterministic on these fixed strings — verified against
    # the DuckDB replay), so it must be flagged near-dup WITHOUT being an
    # exact content match: the NEAR in near-dup.
    near_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today and every day after that without delay"
    )
    t1 = "completely different first document about spark streaming state stores"
    t2 = "another unrelated text concerning parquet scan pruning and shuffles"
    src = tmp_path / "stream"
    src.mkdir()

    def write(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / name))
        time.sleep(1.1)  # file source orders batches by modification time

    write("batch_a", [(1, t1, "s"), (2, t2, "s")])
    # batch 2: doc 3 re-delivers doc 1's CONTENT (new doc_id — state must
    # drop it), doc 4 is an exact re-crawl of the catalog history doc
    # (every band matches -> known), doc 5 is the lightly-EDITED variant
    # (different content hash, 2/4 bands match -> near-dup, not exact-dup).
    write("batch_b", [(3, t1, "s"), (4, hist_text, "s"), (5, near_text, "s")])

    catalog = (
        spark.createDataFrame([(hist_text,)], "text string")
        .select(
            F.explode(
                portable_minhash_band_keys(shingles(tokens("text")))
            ).alias("k")
        )
        .distinct()
    )
    raw = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        neardup_stream_frame(raw, catalog)
        .writeStream.format("memory")
        .queryName("neardup_2batch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2, "expected one micro-batch per file"
    q.stop()
    rows = {r["source"]: r for r in spark.table("neardup_2batch").collect()}
    r = rows["s"]
    # 5 arrivals, 4 unique (doc 3's content deduped against batch-1 state)
    assert r["n_unique"] == 4, r
    # doc 4 (exact re-crawl, 4/4 bands) AND doc 5 (one-token edit, 2/4
    # bands — the NEAR case) both hit the catalog
    assert r["n_neardup_hist"] == 2, r
    assert r["n_novel"] == 2, r


def test_catalog_grow_flags_neardup_of_prior_batch_novel_doc(spark, tmp_path):
    """stream_dedup_catalog_grow's maintenance contract (VERDICT r10 ask
    #4): a document NOVEL in batch 1 appends its band keys to the catalog,
    so a lightly-edited variant arriving in batch 2 is flagged near-dup —
    against keys that did NOT exist when the query started. Also pins the
    cross-batch content-hash state (exact re-delivery in batch 2 is
    dropped before marking) and the per-batch key-append counts."""
    import time

    from pyspark.sql import functions as F

    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens
    from lagom_kinesis_spark.queries.streaming_ops import neardup_grow_run

    novel_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today and every day after that without fail"
    )
    # One-token edit — shares 2 of 4 band keys with novel_text (the same
    # deterministic pair the static-catalog test pins).
    near_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today and every day after that without delay"
    )
    unrelated = "completely different document about spark streaming state stores"

    src = tmp_path / "stream"
    src.mkdir()

    def write(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / name))
        time.sleep(1.1)  # file source orders batches by modification time

    write("batch_a", [(1, novel_text, "s")])
    # batch 2: doc 2 re-delivers doc 1's CONTENT (state drops it), doc 3
    # is the lightly-edited variant — near-dup of a batch-1 NOVEL doc.
    write("batch_b", [(2, novel_text, "s"), (3, near_text, "s")])

    cat_dir = str(tmp_path / "cat")
    (
        spark.createDataFrame([(unrelated,)], "text string")
        .select(
            F.explode(
                portable_minhash_band_keys(shingles(tokens("text")))
            ).alias("k")
        )
        .distinct()
        .write.parquet(cat_dir)
    )
    raw = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
        .select(
            "source",
            F.md5(F.col("text").cast("binary")).alias("h"),
            portable_minhash_band_keys(shingles(tokens("text"))).alias("ks"),
        )
        .dropDuplicates(["source", "h"])
    )
    out = neardup_grow_run(spark, raw, cat_dir, str(tmp_path / "run"))
    rows = {r["batch_seq"]: r for r in out.collect()}
    assert set(rows) == {0, 1}
    # batch 1: the doc is novel (no catalog hit) and its 4 keys append
    assert rows[0]["n_unique"] == 1 and rows[0]["n_novel"] == 1
    assert rows[0]["n_neardup_hist"] == 0 and rows[0]["n_keys_added"] == 4
    # batch 2: the exact re-delivery is gone (state), and the EDITED
    # variant hits the keys batch 1 appended — the maintenance leg working
    assert rows[1]["n_unique"] == 1, rows[1]
    assert rows[1]["n_neardup_hist"] == 1 and rows[1]["n_novel"] == 0
    assert rows[1]["n_keys_added"] == 0

    # Compaction closes the lifecycle: base (4 keys of `unrelated`) +
    # batch-1's 4 appended keys rewrite to ONE bounded layout with no key
    # lost or duplicated (n_comp goes through distinct()), in ≤2 files,
    # and the key SET is exactly base ∪ deltas.
    import glob

    from lagom_kinesis_spark.queries.streaming_ops import compact_band_catalog

    comp_dir = str(tmp_path / "compacted")
    n_base, n_delta, n_comp = compact_band_catalog(
        spark, cat_dir, str(tmp_path / "run" / "grow"), comp_dir, n_files=2
    )
    assert (n_base, n_delta, n_comp) == (4, 4, 8)
    assert len(glob.glob(comp_dir + "/part-*.parquet")) <= 2
    want_keys = {
        r["k"]
        for r in spark.read.parquet(
            cat_dir, *glob.glob(str(tmp_path / "run" / "grow" / "b=*"))
        ).collect()
    }
    got_keys = {r["k"] for r in spark.read.parquet(comp_dir).collect()}
    assert got_keys == want_keys


def test_catalog_grow_restart_after_crash_is_exactly_once(spark, tmp_path):
    """The grow leg's two-phase claim under an ACTUAL crash: a failure
    injected between the prepare write (novel keys appended) and the
    commit write (rollup row) — the widest window — followed by a restart
    from the same checkpoint, must yield the same catalog and rollup as a
    never-crashed run: the retried batch OVERWRITES its batch-id-keyed
    paths instead of double-appending."""
    import glob
    import time

    import pytest
    from pyspark.sql import functions as F

    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens
    from lagom_kinesis_spark.queries.streaming_ops import neardup_grow_run

    t_a = "first unique document about broadcast joins and shuffle planning"
    t_b = "second unique document describing watermark semantics in streams"
    src = tmp_path / "stream"
    src.mkdir()
    for i, (name, rows) in enumerate(
        [("batch_a", [(1, t_a, "s")]), ("batch_b", [(2, t_b, "s")])]
    ):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / name))
        time.sleep(1.1)
    cat_dir = str(tmp_path / "cat")
    spark.createDataFrame(
        [("unrelated seed history text",)], "text string"
    ).select(
        F.explode(portable_minhash_band_keys(shingles(tokens("text")))).alias("k")
    ).distinct().write.parquet(cat_dir)

    def raw():
        return (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .select(
                "source",
                F.md5(F.col("text").cast("binary")).alias("h"),
                portable_minhash_band_keys(shingles(tokens("text"))).alias("ks"),
            )
            .dropDuplicates(["source", "h"])
        )

    run_dir = str(tmp_path / "run")
    crashed = {"n": 0}

    def boom(bid: int) -> None:
        if bid == 1 and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("injected crash between prepare and commit")

    with pytest.raises(Exception, match="injected crash"):
        neardup_grow_run(spark, raw(), cat_dir, run_dir, after_grow_write=boom)
    assert crashed["n"] == 1
    # the crash landed AFTER the prepare: batch 1's keys are on disk, but
    # its rollup commit is not
    assert glob.glob(run_dir + "/grow/b=1/*.parquet")
    assert not glob.glob(run_dir + "/res/b=1/*.parquet")

    # restart from the same checkpoint: batch 1 re-executes, overwriting
    # its batch-id-keyed paths — never double-appending
    out = neardup_grow_run(spark, raw(), cat_dir, run_dir)
    rows = {r["batch_seq"]: r for r in out.collect()}
    assert set(rows) == {0, 1}
    for b in (0, 1):
        assert rows[b]["n_unique"] == 1 and rows[b]["n_novel"] == 1
        assert rows[b]["n_keys_added"] == 4, rows[b]
    keys = [r["k"] for r in spark.read.parquet(*glob.glob(run_dir + "/grow/b=*")).collect()]
    assert len(keys) == len(set(keys)) == 8  # 4 per novel doc, no dups


def test_catalog_grow_resumes_after_compaction_handoff(spark, tmp_path):
    """The grow→compact HANDOFF under a live checkpoint (VERDICT r11 ask
    #4): a grow stream whose deltas were folded into a compacted base must
    RESUME from the same checkpoint reading base=compacted + empty deltas
    and produce, batch for batch, exactly what a never-compacted run
    produces. The sharp edge: batch 2's near-dup flag can only come from
    keys that lived in grow/b=* before the swap — if the compacted base
    dropped or duplicated them, the rollup (or the final key set) diverges.
    Protocol under test (neardup_grow_run's docstring contract): stop →
    compact → move deltas aside → restart with the new base dir."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from lagom_kinesis_spark.operators.similarity import (
        portable_minhash_band_keys,
    )
    from lagom_kinesis_spark.operators.text import shingles, tokens
    from lagom_kinesis_spark.queries.streaming_ops import (
        compact_band_catalog,
        neardup_grow_run,
    )

    t_a = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today and every day after that without fail"
    )
    t_b = "second unique document describing watermark semantics in streams"
    # one-token edit of t_b — near-dup via keys batch 1 APPENDS
    t_b_near = "second unique document describing watermark semantics in rivers"
    t_c = "third unique document about arrow batches and pandas udf transfer"
    src = tmp_path / "stream"
    src.mkdir()

    def write(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / name))
        time.sleep(1.1)  # file source orders batches by modification time

    def raw():
        return (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .select(
                "source",
                F.md5(F.col("text").cast("binary")).alias("h"),
                portable_minhash_band_keys(shingles(tokens("text"))).alias(
                    "ks"
                ),
            )
            .dropDuplicates(["source", "h"])
        )

    cat_dir = str(tmp_path / "cat")
    spark.createDataFrame(
        [("unrelated seed history text",)], "text string"
    ).select(
        F.explode(portable_minhash_band_keys(shingles(tokens("text")))).alias(
            "k"
        )
    ).distinct().write.parquet(cat_dir)

    write("batch_a", [(1, t_a, "s")])
    write("batch_b", [(2, t_b, "s")])
    run_dir = str(tmp_path / "run")
    out1 = {
        r["batch_seq"]: tuple(r)
        for r in neardup_grow_run(spark, raw(), cat_dir, run_dir).collect()
    }
    assert set(out1) == {0, 1}

    # --- the handoff: stop (run ended) → compact → move deltas aside ---
    comp_dir = str(tmp_path / "compacted")
    n_base, n_delta, n_comp = compact_band_catalog(
        spark, cat_dir, run_dir + "/grow", comp_dir, n_files=2
    )
    assert n_comp == n_base + n_delta  # nothing lost, nothing duplicated
    folded = tmp_path / "folded_deltas"
    folded.mkdir()
    for d in glob.glob(run_dir + "/grow/b=*"):
        shutil.move(d, str(folded))
    assert not glob.glob(run_dir + "/grow/b=*")

    # --- resume the SAME checkpoint with base=compacted ---
    # batch 2: an exact re-delivery of t_a (cross-batch content-hash state
    # must survive the restart), the t_b edit (near-dup ONLY via keys that
    # now live in the compacted base — the handoff proof), and a novel doc.
    write("batch_c", [(4, t_a, "s"), (5, t_b_near, "s"), (6, t_c, "s")])
    out2 = {
        r["batch_seq"]: tuple(r)
        for r in neardup_grow_run(spark, raw(), comp_dir, run_dir).collect()
    }
    assert set(out2) == {0, 1, 2}
    assert out2[0] == out1[0] and out2[1] == out1[1]  # history rows stable
    # (2, n_unique=2 [re-delivery state-dropped], n_neardup_hist=1 [the
    #  edit, via the COMPACTED base], n_novel=1, n_keys_added=4)
    assert out2[2] == (2, 2, 1, 1, 4), out2[2]

    # --- control: never-compacted run over the same 3 chunks ---
    ctrl = {
        r["batch_seq"]: tuple(r)
        for r in neardup_grow_run(
            spark, raw(), cat_dir, str(tmp_path / "run_ctrl")
        ).collect()
    }
    assert ctrl == out2  # batch-for-batch identical rollup
    # final catalog key SET identical: compacted ∪ post-swap deltas ==
    # base ∪ all never-compacted deltas
    got = {
        r["k"]
        for r in spark.read.parquet(
            comp_dir, *glob.glob(run_dir + "/grow/b=*")
        ).collect()
    }
    want = {
        r["k"]
        for r in spark.read.parquet(
            cat_dir, *glob.glob(str(tmp_path / "run_ctrl") + "/grow/b=*")
        ).collect()
    }
    assert got == want


def test_compact_reuses_a_grow_run_only_from_its_own_session(
    spark, monkeypatch, tmp_path
):
    """stream_dedup_catalog_compact reuses the grow run its own session
    recorded, and a session that ran no grow runs its own. The grow
    scenario and the compaction are stubbed, so no stream runs."""
    from lagom_kinesis_spark.queries import streaming_ops as so
    from tests.conftest import SF_DIR

    grows, compacted = [], []

    def grow(sess, sf_dir):
        run_dir = tmp_path / f"run{len(grows)}"
        (run_dir / "res" / "b=0").mkdir(parents=True)
        grows.append(sess)
        return sess.range(1), str(tmp_path / "cat"), str(run_dir)

    def compact(sess, base_dir, grow_root, out_dir, n_files=4):
        compacted.append(grow_root)
        return 1, 2, 3

    monkeypatch.setattr(so, "_grow_scenario", grow)
    monkeypatch.setattr(so, "compact_band_catalog", compact)
    first = spark.newSession()
    so.stream_dedup_catalog_grow(first, SF_DIR)
    assert so.stream_dedup_catalog_compact(first, SF_DIR).collect() == [(1, 2, 3)]
    assert grows == [first]
    assert compacted == [str(tmp_path / "run0" / "grow")]
    other = spark.newSession()
    so.stream_dedup_catalog_compact(other, SF_DIR)
    assert grows == [first, other]
    assert compacted[-1] == str(tmp_path / "run1" / "grow")


def test_events_num_rows_counts_nested_layouts(spark, tmp_path):
    """_events_num_rows must count leaf files of a nested/partitioned
    events directory (key=... subdirs), not just top-level *.parquet —
    a nested layout silently counting 0 would floor the volume-aware
    stream partition rule to its minimum at any scale (ADVICE r9)."""
    from lagom_kinesis_spark.queries.streaming_ops import _events_num_rows

    sf = tmp_path / "sfX"
    ev = sf / "events.parquet"  # directory layout under the fixture name
    (ev / "day=1").mkdir(parents=True)
    (ev / "day=2" / "hour=3").mkdir(parents=True)
    spark.range(10).coalesce(1).write.parquet(str(ev / "day=1" / "a"))
    spark.range(32).coalesce(1).write.parquet(str(ev / "day=2" / "hour=3" / "b"))
    # flatten: move part files up so only leaf *.parquet files remain
    import glob as g
    import os

    total = 0
    for f in g.glob(str(ev / "**" / "*.parquet"), recursive=True):
        total += 1
    assert total >= 2  # layout sanity: nested leaves exist
    assert _events_num_rows(str(sf)) == 42
