"""``ksim_relay``: the reference's subscriber -> flow -> producer relay.

Open phase (open loop): the generator process puts records into a 4-shard
``kinesis_sim`` stream on a fixed schedule while a resident
``Topic(...).subscribe(...).at_least_once(flow)`` query on a fixed
``processing_time`` trigger republishes each micro-batch to an output
stream through the ``kinesis_sim`` DataSource writer. A record's latency
runs from its due time to the return of the ``flow`` call that published
it; the batch that carried it is found afterwards from the end offsets in
Spark's streaming progress, so the timed path does no extra work.

Drain phase: a fixed backlog is preloaded into a second stream and drained
by one ``availableNow`` run of a fresh consumer group, three times over
(three groups), reporting the median.

Both output streams are read back (untimed) and every generated record
must appear exactly once, in generation order per key.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import harness
import relay_gen

RATE = 2000  # records/s offered in the open phase
TRIGGER = "2 seconds"
DRAIN_RECORDS = 40_000
DRAIN_RUNS = 3
WARMUP_RECORDS = 200
CATCH_UP_S = 30.0


def _stream_files(stream: str) -> dict[str, list[dict]]:
    """Records of each shard, in sequence order, read from the files."""
    out = {}
    for shard in sorted(os.listdir(stream)):
        path = os.path.join(stream, shard, "records.jsonl")
        if not shard.startswith("shard-") or not os.path.exists(path):
            continue
        with open(path) as f:
            out[shard] = [json.loads(ln) for ln in f if ln.strip()]
    return out


def check_stream(stream: str, expected: set[int]) -> dict[str, int]:
    """Lost, duplicated and per-key reordered generated records."""
    seen: dict[int, int] = {}
    reordered = 0
    last: dict[str, int] = {}
    for recs in _stream_files(stream).values():
        for r in recs:
            d = json.loads(r["data"])
            if d["k"] == "warm":
                continue
            i = d["i"]
            seen[i] = seen.get(i, 0) + 1
            if d["k"] != r["partition_key"] or last.get(d["k"], -1) > i:
                reordered += 1
            last[d["k"]] = i
    return {
        "lost": len(expected - set(seen)),
        "duplicated": sum(c - 1 for c in seen.values() if c > 1),
        "unexpected": len(set(seen) - expected),
        "reordered": reordered,
    }


def _offsets(v) -> dict[str, int]:
    if isinstance(v, str):
        v = json.loads(v)
    return {k: int(x) for k, x in (v or {}).items()}


class Relay:
    """The resident relay query and its bookkeeping."""

    def __init__(self, spark, tracer: harness.Tracer, run_dir: str, events: list[dict]):
        from lagom_kinesis_spark.sources.kinesis_sim import SCHEMA, put_records
        from lagom_kinesis_spark.streaming.topics import Topic

        self.spark, self.tracer, self.events = spark, tracer, events
        self.src = os.path.join(run_dir, "in")
        self.dst = os.path.join(run_dir, "out")
        put_records(self.src, [], relay_gen.SHARDS)
        self.topic = Topic(
            name="relay", schema=SCHEMA, spark=spark, source_path=self.src,
            source_format="kinesis_sim", checkpoint_base=os.path.join(run_dir, "ckpt"),
        )
        self.flow_end: dict[int, float] = {}
        self.publish_s: list[float] = []
        self.error: BaseException | None = None
        self.parent = None
        self.thread: threading.Thread | None = None

    def flow(self, df, epoch_id: int) -> None:
        with self.tracer.span(f"batch:{epoch_id}", "streaming", parent=self.parent):
            t0 = time.perf_counter()
            with self.tracer.span("ksim.publish", "kinesis_sim"):
                (df.select("data", "partition_key").write.format("kinesis_sim")
                 .option("path", self.dst).option("n_shards", str(relay_gen.SHARDS))
                 .mode("append").save())
            self.publish_s.append(time.perf_counter() - t0)
            self.flow_end[epoch_id] = time.time()

    def start(self) -> None:
        sub = self.topic.subscribe("open")
        sub.processing_time = TRIGGER

        def body():
            try:
                sub.at_least_once(self.flow)
            except BaseException as e:  # noqa: BLE001 — reported as a failed run
                self.error = e

        self.thread = threading.Thread(target=body, daemon=True)
        self.thread.start()

    def committed(self) -> int:
        """Records covered by the progress events seen so far."""
        ends = [_offsets(e["sources"][0]["endOffset"]) for e in self.events
                if e.get("sources")]
        return max((sum(o.values()) for o in ends), default=0)

    def wait_committed(self, n: int, timeout_s: float) -> bool:
        deadline = time.time() + timeout_s
        while time.time() < deadline and self.error is None:
            if self.committed() >= n:
                return True
            time.sleep(0.05)
        return self.committed() >= n

    def stop(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        if self.thread is not None:
            self.thread.join(timeout=60)


def setup_stream(spark, tracer, run_dir: str, events: list[dict]) -> Relay:
    """Start the resident relay and push one warm-up batch through it."""
    from lagom_kinesis_spark.sources.kinesis_sim import put_records

    relay = Relay(spark, tracer, run_dir, events)
    with tracer.span("relay.start", "streaming"):
        relay.start()
        put_records(relay.src, [relay_gen.record(-1 - j, "warm", time.time())
                                for j in range(WARMUP_RECORDS)], relay_gen.SHARDS)
        if not relay.wait_committed(WARMUP_RECORDS, 60):
            raise RuntimeError(f"relay warm-up batch did not complete: {relay.error}")
    return relay


def run(spark, relay: Relay, seed: int, seconds: float, tracer: harness.Tracer,
        run_span, rss: harness.RssSampler, traced: bool, run_dir: str,
        rate: int = RATE, drain_records: int = DRAIN_RECORDS,
        corrupt: bool = False) -> dict:
    from lagom_kinesis_spark.sources.kinesis_sim import put_records
    from lagom_kinesis_spark.streaming.topics import Topic

    relay.parent = run_span
    first_stage = harness.last_stage_id(spark)
    gen_out = os.path.join(run_dir, "gen.json")
    t0 = time.time() + 0.5
    warm_batches = set(relay.flow_end)
    n_batches_before = len(relay.flow_end)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(harness.HERE, "relay_gen.py"),
         "--dir", relay.src, "--out", gen_out, "--rate", str(rate),
         "--seconds", str(seconds), "--seed", str(seed), "--t0", repr(t0)],
        cwd=harness.ROOT,
    )
    rss.exclude.add(gen.pid)
    try:
        gen.wait(timeout=seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(gen_out) as f:
        puts = json.load(f)["puts"]
    generated = sum(p[3] for p in puts)
    total = WARMUP_RECORDS + generated
    tips = {s: len(r) for s, r in _stream_files(relay.src).items()}
    backlog = sum(tips.values()) - relay.committed()
    stream_bytes = sum(
        os.path.getsize(os.path.join(relay.src, s, "records.jsonl")) for s in tips
    )
    caught_up = relay.wait_committed(total, CATCH_UP_S)
    open_end = time.time()
    # Let the listener deliver the progress of the last batch.
    deadline = time.time() + 10
    batch_ids = set(relay.flow_end)
    while time.time() < deadline and not batch_ids <= {e["batchId"] for e in relay.events}:
        time.sleep(0.05)
    relay.stop()
    if traced:
        open_spark = harness.stage_totals(spark, *harness.stages_after(spark, first_stage))
    else:
        open_spark = {}
    for due, start, end, n in puts:
        tracer.add("ksim.put", "kinesis_sim", start, end, run_span, records=n, due=due)

    # Record latency: due time -> return of the flow call that published it.
    dues = {
        s: [json.loads(r["data"]) for r in recs]
        for s, recs in _stream_files(relay.src).items()
    }
    latencies: list[float] = []
    open_events = [e for e in relay.events
                   if e.get("sources") and e["batchId"] in relay.flow_end
                   and e["batchId"] not in warm_batches and e["numInputRows"] > 0]
    for e in open_events:
        start = _offsets(e["sources"][0]["startOffset"])
        end = _offsets(e["sources"][0]["endOffset"])
        done = relay.flow_end[e["batchId"]]
        for s, hi in end.items():
            for seq in range(start.get(s, 0), hi):
                d = dues[s][seq]
                if d["k"] != "warm":
                    latencies.append(done - d["due"])

    expected = set(range(generated))
    if corrupt:
        expected.add(generated)  # a record the output cannot contain
    open_check = check_stream(relay.dst, expected)
    if not caught_up:
        print(f"# relay did not catch up within {CATCH_UP_S}s", file=sys.stderr)

    # Drain phase: a preloaded backlog, one availableNow run per fresh
    # group, DRAIN_RUNS times over the same backlog (the median is reported).
    drain_src = os.path.join(run_dir, "drain_in")
    rows = [rec for _, batch in relay_gen.schedule(drain_records, 1.0, seed + 1, time.time())
            for rec in batch]
    put_records(drain_src, rows, relay_gen.SHARDS)
    drain_topic = Topic(
        name="drain", schema=relay.topic.schema, spark=spark, source_path=drain_src,
        source_format="kinesis_sim", checkpoint_base=os.path.join(run_dir, "ckpt"),
    )
    drain_s: list[float] = []
    drain_check = {"lost": 0, "duplicated": 0, "unexpected": 0, "reordered": 0}
    for k in range(DRAIN_RUNS):
        dst = os.path.join(run_dir, f"drain_out{k}")

        def drain_flow(df, epoch_id, dst=dst):
            (df.select("data", "partition_key").write.format("kinesis_sim")
             .option("path", dst).option("n_shards", str(relay_gen.SHARDS))
             .mode("append").save())

        with tracer.span(f"drain:{k}", "streaming", parent=run_span):
            t = time.perf_counter()
            drain_topic.subscribe(f"drain{k}").at_least_once(drain_flow)
            drain_s.append(time.perf_counter() - t)
        for key, n in check_stream(dst, set(range(len(rows)))).items():
            drain_check[key] += n

    return {
        "latencies": latencies, "puts": puts, "generated": generated,
        "caught_up": caught_up, "backlog": backlog, "stream_bytes": stream_bytes,
        "publish_s": relay.publish_s[n_batches_before:], "events": open_events,
        "open_wall_s": open_end - t0, "drain_s": drain_s, "drain_records": len(rows) * DRAIN_RUNS,
        "open_check": open_check, "drain_check": drain_check, "spark": open_spark,
        "error": repr(relay.error) if relay.error else None,
    }


def metrics(raw: dict) -> tuple[dict, dict]:
    lat = raw["latencies"]
    e2e = {
        "throughput_per_s": (
            raw["drain_records"] / DRAIN_RUNS / harness.median(raw["drain_s"]), "1/s"),
        "latency_p50_s": (harness.median(lat), "s"),
        # p90, not p99: records of one micro-batch share its fate, and a
        # run holds only 10-20 batches, so p99 is the slowest batch alone.
        "latency_tail_s": (harness.percentile(lat, 90), "s"),
    }
    put_ms = [(end - start) * 1e3 for _, start, end, _ in raw["puts"]]
    lag = [start - due for due, start, _, _ in raw["puts"]]
    ev = raw["events"]

    def dur(k):
        return harness.median([e["durationMs"].get(k, 0) for e in ev])

    layer = {
        "stream.record_p99_s": (harness.percentile(lat, 99), "s"),
        "stream.batches": (len(ev), "count"),
        "stream.rows_per_batch": (harness.median([e["numInputRows"] for e in ev]), "count"),
        "stream.trigger_ms": (dur("triggerExecution"), "ms"),
        "stream.latest_offset_ms": (dur("latestOffset"), "ms"),
        "stream.get_batch_ms": (dur("getBatch"), "ms"),
        "stream.planning_ms": (dur("queryPlanning"), "ms"),
        "stream.add_batch_ms": (dur("addBatch"), "ms"),
        "stream.wal_commit_ms": (dur("walCommit"), "ms"),
        "stream.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "ksim.put_p50_ms": (harness.median(put_ms), "ms"),
        "ksim.put_p99_ms": (harness.percentile(put_ms, 99), "ms"),
        "ksim.generator_lag_s": (max(lag), "s"),
        "ksim.publish_ms": (harness.median(raw["publish_s"]) * 1e3, "ms"),
        "ksim.backlog_records": (raw["backlog"], "count"),
        "ksim.stream_bytes": (raw["stream_bytes"], "bytes"),
    }
    return e2e, layer


def failures(raw: dict) -> tuple[int, int]:
    """(attempted, failed) operations: every generated and drained record,
    each lost, duplicated, unexpected or reordered one counting as failed."""
    attempted = raw["generated"] + raw["drain_records"]
    failed = sum(raw["open_check"].values()) + sum(raw["drain_check"].values())
    if raw["error"]:
        failed = max(failed, 1)
    return attempted, min(failed, attempted)
