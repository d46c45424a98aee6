"""Shared machinery of the benchmark: set-up, spans, Spark's status store,
streaming progress, memory sampling, machine state and the result line.

Everything here observes the engine from outside, through its public API
and Spark's own status store; nothing is patched into engine code.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Build outputs, fixtures, checkpoints and traces (git-ignored).
WORK = os.path.join(HERE, ".work")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]; 0 for no values."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# --- environment -----------------------------------------------------------


def engine_env() -> dict[str, str]:
    """Environment for every process that starts Spark: ``local[nproc]``,
    a driver heap that fits this box, and scratch inside the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": "4g",
        # The registry's periodic JVM GC would land inside a timed query.
        "SPARK_GRAFT_GC_NUDGE": "0",
        # Shuffle files on the checkout's disk, not in RAM-backed /dev/shm.
        "SPARK_GRAFT_SHM": "0",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file under /tmp, from the driver JVM
        # or from the short-lived JVM spark-submit launches it with.
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
    }


def repo_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "lagom_kinesis_spark", "registry.py"))


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, layer, start, end, parent) sharing one run id,
    written out when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "layer": layer,
                 "run": self.run_id, "start": time.time(), "end": None, **attrs}
            )
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (another thread or process)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "parent": parent, "name": name,
                 "layer": layer, "run": self.run_id, "start": start,
                 "end": end, **attrs}
            )

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


# --- memory ----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _resident_bytes(pid: int) -> int:
    """PSS of a small process, RSS of a large one. The Python workers are
    forked from one daemon and share most pages, which RSS counts once per
    worker; the JVM shares almost nothing, and reading its smaps takes
    ~30 ms under its memory-map lock."""
    rss = _rss_bytes(pid)
    if rss >= 1 << 30:
        return rss
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return rss


class RssSampler:
    """Summed resident memory of this process and its descendants (the
    Spark JVM and its Python workers), sampled from /proc. Pids in ``exclude`` and their
    descendants (the load generator) are left out."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        tree = _children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _resident_bytes(pid)
            todo.extend(tree.get(pid, []))
        self.samples.append(total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# --- machine state ---------------------------------------------------------


def machine_state() -> dict:
    """nproc, load and a single-thread burn (the repo bench's calibrated
    burn unit, best of 3), so a noisy window can be told apart from a slow
    program."""
    sys.path.insert(0, ROOT)
    import bench  # the repo's driver-protocol bench; import has no side effects

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    burn = min(bench._burn_unit(200_000) for _ in range(3))  # noqa: SLF001
    return {"nproc": len(os.sched_getaffinity(0)), "load": load, "burn_single_s": burn}


# --- set-up ----------------------------------------------------------------


def setup_session(tracer: Tracer, app: str):
    """Everything before the first timed operation: session, registry,
    data-source registration and a fixed warm-up job. Returns
    ``(spark, queries, seconds_by_step)``."""
    steps: dict[str, float] = {}
    t = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        from lagom_kinesis_spark.session import get_spark

        spark = get_spark(app)
    steps["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("registry.all_queries", "registry"):
        from lagom_kinesis_spark.registry import all_queries

        queries = all_queries()
    steps["registry.all_queries_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("kinesis_sim.register", "kinesis_sim"):
        from lagom_kinesis_spark.sources.kinesis_sim import KinesisSimDataSource

        spark.dataSource.register(KinesisSimDataSource)
    steps["setup.register_source_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("setup.warmup", "spark"):
        spark.range(100_000, numPartitions=4).selectExpr("sum(id)").collect()
    steps["setup.warmup_s"] = time.perf_counter() - t
    return spark, queries, steps


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    deadline = time.time() + 30
    while time.time() < deadline and _children().get(os.getpid()):
        time.sleep(0.1)


# --- Spark status store ----------------------------------------------------

STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
                "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
                "diskBytesSpilled", "numTasks")


def group_jobs(spark, group: str) -> tuple[int, list[int]]:
    """(job count, stage ids) of the jobs run under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jids = st.getJobIdsForGroup(group)
    sids: list[int] = []
    for jid in jids:
        ji = st.getJobInfo(jid)
        if ji is not None:
            sids.extend(ji.stageIds)
    return len(jids), sids


def _job_stage_ids(spark) -> list[list[int]]:
    """Stage ids of every job the status store holds, job by job."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    return [[int(x) for x in conv.asJava(job.stageIds())]
            for job in conv.asJava(store.jobsList(None))]


def last_stage_id(spark) -> int:
    return max((max(ids) for ids in _job_stage_ids(spark) if ids), default=-1)


def stages_after(spark, after_stage: int) -> tuple[int, list[int]]:
    """(job count, stage ids) of the jobs whose stages all come after
    ``after_stage`` (see :func:`last_stage_id`)."""
    jobs = [ids for ids in _job_stage_ids(spark) if ids and min(ids) > after_stage]
    return len(jobs), [s for ids in jobs for s in ids]


def stage_totals(spark, n_jobs: int, stage_ids: list[int]) -> dict[str, float]:
    """Summed status-store metrics of the last attempt of each stage."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    tot = {k: 0.0 for k in STAGE_FIELDS}
    n_stages = 0
    for sid in set(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — skipped stages have no attempt
            continue
        n_stages += 1
        for k in STAGE_FIELDS:
            tot[k] += float(getattr(s, k)())
    return {
        "spark.jobs": float(n_jobs),
        "spark.stages": float(n_stages),
        "spark.tasks": tot["numTasks"],
        "spark.executor_run_s": tot["executorRunTime"] / 1e3,
        "spark.executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "spark.jvm_gc_s": tot["jvmGcTime"] / 1e3,
        "spark.input_bytes": tot["inputBytes"],
        "spark.shuffle_read_bytes": tot["shuffleReadBytes"],
        "spark.shuffle_write_bytes": tot["shuffleWriteBytes"],
        "spark.spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
    }


def add_totals(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: a.get(k, 0.0) + b.get(k, 0.0) for k in set(a) | set(b)}


# --- streaming progress ----------------------------------------------------


def progress_listener(spark) -> list[dict]:
    """Register a StreamingQueryListener; returns the list it appends every
    progress event to (as parsed JSON)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Collector())
    return events


# --- result ----------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
