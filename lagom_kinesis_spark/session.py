"""SparkSession construction and per-session tuning.

Two entry points:

- :func:`get_spark` builds a session for tests / bench (local[N]).
- :func:`tune` applies the runtime-settable confs we rely on to an
  *externally provided* session (the driver harness owns its own session and
  passes it into ``queries()`` callables), without restarting it.

Scale notes (100 TB): every conf here is also correct on a real cluster —
AQE coalesces post-shuffle partitions and handles skew joins at runtime, so we
do not hand-pick shuffle partition counts inside operators. On a cluster the
static ``spark.sql.shuffle.partitions`` would be sized ~2-3× total cores and
AQE shrinks from there; locally we pin it to the core count.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: The directory that holds this package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Runtime-settable SQL confs every query relies on. Applied idempotently.
RUNTIME_CONFS: dict[str, str] = {
    # Oracle comparison requires naive-UTC timestamps on both engines
    # (DuckDB timestamps are UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS) which Spark cannot natively
    # read; read the raw int64 and convert to µs ourselves (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime re-plan — auto broadcast, skew-join splitting, post-shuffle
    # partition coalescing. Free wins at every scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep Spark's DEFAULT parallelismFirst=true: coalesce only down to
    # defaultParallelism (respecting the 1MB minPartitionSize floor), not
    # to the 64MB advisory target. An earlier round pinned this false for
    # "fewer tiny tasks on small shuffles" — re-measured r8 with a proper
    # two-scale sweep, that was the wrong trade: size-targeted coalescing
    # squashes a CPU-heavy post-shuffle stage (sort+window, multi-distinct
    # expand) into ~⌈bytes/64MB⌉ tasks, serializing 32 cores down to 3 —
    # sf10: win_running_total 4.78→1.06 s, join_asof 3.74→0.96 s,
    # agg_count_distinct_multi 2.07→0.71 s, win_topk 1.84→1.00 s; sf0.1
    # is neutral-to-better (flagship 0.95→0.84 s, worst regression
    # +0.05 s). On a busy multi-tenant cluster size-targeted coalescing
    # saves scheduler load, but there defaultParallelism is the full
    # cluster width — parallelismFirst=true still caps tasks at that,
    # so the default remains the right call beyond this box. The 64MB
    # advisory stays for what still reads it (skew-split targets,
    # rebalance).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    # Arrow for every pandas interchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Right-size shuffles for a single-host session (AQE coalesces further);
    # on a real cluster this would be ~2-3× total cores instead. Derived
    # from the SAME env knob as the local master's core count — a
    # hardcoded value here would silently shadow get_spark's builder
    # config (RUNTIME_CONFS is applied last) AND pin externally provided
    # sessions to the wrong size via tune().
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Honor the SORTED BY metadata of bucketed scans so a bucket-key
    # SortMergeJoin needs NO runtime sort (Spark 3+ stopped propagating
    # the ordering by default — SPARK-28595 — because a bucket split
    # across several files breaks the guarantee). Safe here because every
    # bucketed table in this engine is written by _ensure_bucketed, which
    # repartitions on the bucket key first and then ASSERTS exactly one
    # file per bucket at build/adopt time. Nothing *enforces* that future
    # bucketed tables go through _ensure_bucketed — the backstop for any
    # other writer is Spark's own planning-time check, which still errors
    # on a bucket split across files; what this conf removes is only the
    # redundant runtime sort, never the validity check. Measured at sf10: the two
    # 60M-row runtime sorts under flagship_bucketed's SMJ vanish,
    # 6.3 s → 0.9 s (BENCH_NOTES.md round-7).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


#: owner -> {key: value}; see :func:`memo`.
_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_MEMO_LOCK = threading.Lock()


def memo(owner, key, build):
    """``build()``, computed once per live ``owner`` and ``key``.

    ``owner`` is a session or DataFrame: neither defines ``__eq__``, so the
    weak key is the object's identity, and its entries die with it.
    ``build`` runs outside the lock and the first stored value wins, so
    concurrent callers share one value and a slow build blocks no one. A
    ``build`` that raises stores nothing."""
    with _MEMO_LOCK:
        slot = _MEMO.get(owner)
        if slot is not None and key in slot:
            return slot[key]
    value = build()
    with _MEMO_LOCK:
        return _MEMO.setdefault(owner, {}).setdefault(key, value)


class _Untuned(Exception):
    """A runtime conf failed to apply for a reason that may not recur."""


def _apply_runtime_confs(spark: SparkSession) -> None:
    ok = True
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001
            if "static" in str(e).lower() or "CANNOT_MODIFY" in str(e):
                continue  # static conf on this build — leave as-is
            ok = False  # transient: retry on the next tune() call
    if not ok:
        raise _Untuned


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session, once per session: the
    ~13 py4j conf roundtrips cost tens of ms, and tune runs on every query.
    A session is memoized only after every conf applied or was static, so
    a transient error is retried on the next call rather than leaving a
    session silently without its UTC timezone or nanosAsLong."""
    try:
        memo(spark, "tuned", lambda: _apply_runtime_confs(spark))
    except _Untuned:
        pass
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body, then restore each key: to
    its previous value, or unset again if it was unset before. The unset
    case matters: ``conf.get(k)`` returns a default that ``conf.set`` would
    then pin explicitly."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _gc_stale_local_dirs(root: str, max_age_s: float = 6 * 3600) -> None:
    """Reclaim shuffle dirs a crashed JVM left pinned in tmpfs: RAM-backed
    leftovers accumulate until the free-space gate below fails and every
    future session silently loses the tmpfs speedup. Spark's per-JVM dirs
    carry no pid to liveness-probe (unlike io_scratch), so age is the
    heuristic — anything untouched for hours outlived its round."""
    import shutil
    import time

    if not os.path.isdir(root):
        return
    now = time.time()
    for entry in os.listdir(root):
        p = os.path.join(root, entry)
        try:
            if now - os.path.getmtime(p) > max_age_s:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def get_spark(app_name: str = "lagom-kinesis-spark") -> SparkSession:
    """Session for tests/bench: local[$SPARK_GRAFT_CPUS], AQE on, UTC."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local mode = single JVM; driver memory is the only memory knob.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        # Console progress bars share lines with a non-tty run's output.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers unpickle UDFs and the kinesis_sim DataSource by
        # importing this package; give them its root, so they find it also
        # when only the driver's sys.path names the checkout.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    # Shuffle/spill files on tmpfs when available: a long single-host suite
    # writes map_tasks × reduce_partitions shuffle files PER SHUFFLE (stack
    # sampling showed DiskBlockObjectWriter.initialize + mmap/unmap
    # dominating suite-context runs as files accumulate on the root disk —
    # a measured 2-4× drag on shuffle-heavy queries). A real cluster puts
    # spark.local.dir on fast node-local storage; /dev/shm is this box's
    # equivalent.
    # tmpfs is RAM-backed (typically capped at 50% of RAM): a shuffle volume
    # that would spill fine to disk can ENOSPC mid-query, and files left by
    # a crashed JVM stay pinned in RAM. So the redirect is opt-out-able
    # (SPARK_GRAFT_SHM=0) and gated on generous free space (default 16 GiB,
    # ≫ any fixture-scale shuffle here); below that, fall back to disk.
    shm = "/dev/shm"
    min_free = int(os.environ.get("SPARK_GRAFT_SHM_MIN_FREE_GB", "16")) << 30
    if (
        os.environ.get("SPARK_GRAFT_SHM", "1") != "0"
        and os.path.isdir(shm)
        and os.access(shm, os.W_OK)
    ):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= min_free:
                local_root = f"{shm}/spark-local"
                _gc_stale_local_dirs(local_root)
                builder = builder.config("spark.local.dir", local_root)
        except OSError:
            pass
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)
