"""Repo benchmark: one command, named workloads, end-to-end or per-layer.

    python3 perfbench/run.py --workload ksim_relay --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics, taken from spans around every call into the engine, Spark's status
store and streaming progress. Each run also writes its raw record (machine
state, per-query numbers, checks) to ``perfbench/.work/results/`` and, when
traced, its spans to ``perfbench/.work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

import harness

E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rss_p99_mb": "MB",
}
LAYERS = ("session", "registry", "queries", "spark", "streaming", "kinesis_sim", "bench")
SPARK_KEYS = (
    "spark.jobs spark.stages spark.tasks spark.executor_run_s spark.executor_cpu_s "
    "spark.jvm_gc_s spark.input_bytes spark.shuffle_read_bytes spark.shuffle_write_bytes "
    "spark.spill_bytes"
).split()


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of the benchmark workloads, with its unit."""
    import querybench

    units = {
        "session.get_spark_s": "s", "registry.all_queries_s": "s",
        "setup.register_source_s": "s", "setup.warmup_s": "s", "stream.start_s": "s",
    }
    for k in SPARK_KEYS:
        units[k] = "count" if k in ("spark.jobs", "spark.stages", "spark.tasks") else (
            "bytes" if k.endswith("_bytes") else "s")
    units["spark.core_busy_frac"] = "fraction"
    for layer in LAYERS:
        units[f"self.{layer}_s"] = "s"
    for n in querybench.NEARDUP:
        units[f"query.{n}.p50_s"] = "s"
        units[f"query.{n}.build_s"] = "s"
    units["queries.build_share"] = "fraction"
    for k in ("batches", "rows_per_batch"):
        units[f"stream.{k}"] = "count"
    units["stream.record_p99_s"] = "s"
    for k in ("trigger", "latest_offset", "get_batch", "planning", "add_batch",
              "wal_commit", "commit_offsets"):
        units[f"stream.{k}_ms"] = "ms"
    units.update({
        "ksim.put_p50_ms": "ms", "ksim.put_p99_ms": "ms", "ksim.generator_lag_s": "s",
        "ksim.publish_ms": "ms", "ksim.backlog_records": "count",
        "ksim.stream_bytes": "bytes", "peak_rss_mb": "MB",
    })
    return units


def workloads(selfcheck: bool) -> dict[str, dict]:
    import querybench

    tiny = 0.001
    return {
        "ksim_relay": {"kind": "relay", "rate": 200 if selfcheck else None,
                       "drain": 2000 if selfcheck else None},
        "neardup_sf0.1": {"kind": "queries", "names": querybench.NEARDUP,
                          "sf": tiny if selfcheck else 0.1},
        "query_mix_sf1": {"kind": "queries", "names": querybench.QUERY_MIX,
                          "sf": tiny if selfcheck else 1.0},
    }


def state_metrics(events: list[dict]) -> dict[str, tuple[float, str]]:
    """State-store commit split of the stateful streams a run executed."""
    ops = [op for e in events for op in e.get("stateOperators", [])]
    if not ops:
        return {}
    return {
        "state.commit_ms": (harness.median([op.get("commitTimeMs", 0) for op in ops]), "ms"),
        "state.rows_total": (max(op.get("numRowsTotal", 0) for op in ops), "count"),
        "state.memory_bytes": (max(op.get("memoryUsedBytes", 0) for op in ops), "bytes"),
    }




def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="tiny inputs (sf0.001, 200 rec/s), one pass, one set-up")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop or invent one output record before the check")
    args = ap.parse_args(argv)
    if not harness.repo_present():
        print("perfbench: run from the root of a lagom_kinesis_spark checkout",
              file=sys.stderr)
        return 2
    specs = workloads(args.selfcheck)
    if args.workload not in specs:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(specs)}", file=sys.stderr)
        return 2
    spec = specs[args.workload]
    os.environ.update(harness.engine_env())
    sys.path.insert(0, harness.ROOT)
    tracer = harness.Tracer(bool(args.trace))
    run_dir = os.path.join(harness.WORK, "runs", f"{args.workload}-{tracer.run_id}")
    os.makedirs(run_dir, exist_ok=True)

    import querybench
    import relay

    sf_dir = None
    if spec["kind"] == "queries":
        sf_dir = querybench.fixture_dir(spec["sf"])
    machine = {"pre": harness.machine_state()}

    with harness.RssSampler() as rss, tracer.span("run", "bench") as run_span:
        t = time.perf_counter()
        with tracer.span("setup", "bench"):
            spark, queries, steps = harness.setup_session(tracer, f"perfbench-{args.workload}")
        setup_s = time.perf_counter() - t
        events = harness.progress_listener(spark)
        if spec["kind"] == "relay":
            t = time.perf_counter()
            relay_obj = relay.setup_stream(spark, tracer, run_dir, events)
            steps["stream.start_s"] = time.perf_counter() - t
            raw = relay.run(
                spark, relay_obj, args.seed, args.seconds, tracer, run_span, rss,
                bool(args.trace), run_dir,
                rate=spec["rate"] or relay.RATE,
                drain_records=spec["drain"] or relay.DRAIN_RECORDS,
                corrupt=args.corrupt,
            )
            e2e, layer = relay.metrics(raw)
            attempted, failed = relay.failures(raw)
            timed_wall = raw["open_wall_s"]
            checks = {"open": raw["open_check"], "drain": raw["drain_check"],
                      "caught_up": raw["caught_up"], "error": raw["error"],
                      "drain_s": raw["drain_s"]}
        else:
            names = spec["names"]
            corrupt = random.Random(args.seed).choice(names) if args.corrupt else None
            seconds = 0 if args.selfcheck else args.seconds
            raw = querybench.run(spark, queries, names, sf_dir, args.seed, seconds,
                                 tracer, run_span, bool(args.trace), corrupt)
            e2e, layer = querybench.metrics(raw, names)
            layer.update(state_metrics(events))
            n_exec = sum(len(v) for v in raw["times"].values())
            attempted = len(names) + n_exec + raw["exec_failed"]
            failed = len(raw["check_failed"]) + raw["exec_failed"]
            timed_wall = raw["wall_s"]
            checks = {"failed_queries": raw["check_failed"], "exec_failed": raw["exec_failed"],
                      "passes": raw["passes"]}
        harness.shutdown(spark)
    machine["post"] = harness.machine_state()

    e2e["setup_s"] = (setup_s, "s")
    # p99 of the 4 Hz samples, not the maximum: a sub-second spike of
    # Python workers starting together would otherwise set the figure.
    e2e["rss_p99_mb"] = (harness.percentile(rss.samples, 99) / 2**20, "MB")
    layer["peak_rss_mb"] = (max(rss.samples) / 2**20, "MB")
    cores = len(os.sched_getaffinity(0))
    layer.update({k: (v, "s") for k, v in steps.items()})
    spark_tot = raw["spark"]
    for k in SPARK_KEYS:
        unit = per_layer_units()[k]
        layer[k] = (spark_tot.get(k, 0.0), unit)
    busy = spark_tot.get("spark.executor_run_s", 0.0) / (timed_wall * cores) if timed_wall else 0.0
    layer["spark.core_busy_frac"] = (busy, "fraction")
    self_s = tracer.self_times()
    for name in LAYERS:
        layer[f"self.{name}_s"] = (self_s.get(name, 0.0), "s")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": tracer.run_id, "machine": machine,
        "timed_wall_s": timed_wall,
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "checks": checks, "end_to_end": e2e, "per_layer": layer,
        "spans": len(tracer.spans),
    }
    if spec["kind"] == "queries":
        record["per_query"] = {
            "times_s": raw["times"], "build_s": raw["builds"], "spark": raw["spark_by_query"]}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{tracer.run_id}"
    os.makedirs(os.path.join(harness.WORK, "results"), exist_ok=True)
    with open(os.path.join(harness.WORK, "results", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    tracer.write(os.path.join(harness.WORK, "traces", tag + ".json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} error_rate={record['error_rate']:.4g} "
          f"failed={failed}/{attempted} machine={json.dumps(machine)}")
    if args.trace:
        units = per_layer_units()
        metrics = {k: layer.get(k, (0.0, u)) for k, u in units.items()}
        metrics.update({k: v for k, v in layer.items() if k not in units})
    else:
        metrics = {k: e2e[k] for k in E2E}
    print(harness.result_line(failed == 0, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
