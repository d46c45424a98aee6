"""`kinesis_sim` — a Spark 4 Python DataSource with Kinesis semantics.

The reference consumes real Kinesis through the KCL
(`KinesisSubscriberActor.scala:176-207`: one lease per shard, per-shard
ordering, TRIM_HORIZON replay, checkpointed progress). No AWS exists in
this environment, so the transport contract is proven on a faithful local
simulator instead — not a mock of our own consumer, but a real pluggable
``spark.read/readStream.format("kinesis_sim")`` source going through
Spark's public DataSource V2 Python API:

- a *stream* is a directory of ``shard-NNNNN/`` subdirs of append-only
  jsonl files; a *record* is ``(data, partition_key, sequence_number,
  shard_id)``;
- every stream carries a ``shards.json`` descriptor: each shard owns a
  range of the 32-bit md5 hash space, is OPEN or CLOSED, and names its
  parents. ``put_records`` (the KPL-analogue) and the distributed writer
  route a record to the OPEN shard whose range contains the hash of its
  explicit hash key or partition key, and append it at the next per-shard
  sequence number — same partition key ⇒ same shard ⇒ strictly ordered,
  exactly Kinesis's guarantee (`Producer.scala:217-250` relies on the same
  property). A put or write to a path with no descriptor first creates a
  stream of ``n_shards`` equal ranges;
- batch read = TRIM_HORIZON full replay, one InputPartition per shard
  (the KCL's lease-per-shard parallelism);
- stream read exposes per-shard sequence offsets: ``initialOffset`` is
  zeros (TRIM_HORIZON, `KinesisSubscriberActor.scala:193`) or the current
  tip (LATEST); Structured Streaming's checkpoint persists the offsets —
  the DynamoDB lease-table analogue (R17) — so a restarted query resumes
  where it left off.

Scale note: one input partition per shard is exactly Kinesis's
parallelism model; resharding (split/merge, below) = more shard dirs.
Record files are read sequentially per shard — the per-shard order IS the
contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA = (
    "data string, partition_key string, sequence_number bigint, shard_id string"
)


def _shard_name(i: int) -> str:
    return f"shard-{i:05d}"


def _records_path(stream_dir: str, shard: str) -> str:
    return os.path.join(stream_dir, shard, "records.jsonl")


def _record_line(data: str, pk: str, ehk: str | None) -> str:
    payload = {"data": data, "partition_key": pk}
    if ehk is not None:
        payload["explicit_hash_key"] = ehk
    return json.dumps(payload)


def put_records(
    stream_dir: str, records: list[tuple], n_shards: int = 4
) -> dict[str, int]:
    """Append (data, partition_key[, explicit_hash_key]) records — the
    KPL-analogue producer. Each record goes to the OPEN shard whose hash
    range contains hash32(explicit_hash_key or partition_key); the explicit
    key changes placement only, the record still carries its partition key
    (Kinesis PutRecord ExplicitHashKey, KinesisOutboundRecord.scala:5-9).
    ``n_shards`` sizes a new stream only: routing reads the descriptor, so a
    later put cannot move a key to another shard. Returns every shard's tip
    (record count) after the put."""
    shards = _open_shards(stream_dir, n_shards)
    buckets: dict[str, list[str]] = {}
    for rec in records:
        ehk = rec[2] if len(rec) > 2 else None
        sid = covering_open_shard(shards, rec[1], ehk)["id"]
        buckets.setdefault(sid, []).append(_record_line(rec[0], rec[1], ehk))
    for sid, lines in buckets.items():
        with open(_records_path(stream_dir, sid), "a") as f:
            f.write("\n".join(lines) + "\n")
    return {
        s: _count_records(_records_path(stream_dir, s))
        for s in _shards_of(stream_dir)
    }


def _count_records(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for ln in f if ln.strip())


def _shards_of(stream_dir: str) -> list[str]:
    if not os.path.isdir(stream_dir):
        return []
    return sorted(d for d in os.listdir(stream_dir) if d.startswith("shard-"))


def _read_shard(
    stream_dir: str, shard: str, start: int, end: int | None
) -> Iterator[tuple]:
    """Rows of one shard with sequence numbers in [start, end)."""
    path = _records_path(stream_dir, shard)
    if not os.path.exists(path):
        return
    with open(path) as f:
        seq = 0
        for ln in f:
            if not ln.strip():
                continue
            if seq >= start and (end is None or seq < end):
                rec = json.loads(ln)
                yield (rec["data"], rec["partition_key"], seq, shard)
            seq += 1
            if end is not None and seq >= end:
                break


class _ShardPartition(InputPartition):
    def __init__(self, shard: str, start: int, end: int | None):
        self.shard = shard
        self.start = start
        self.end = end


class _BatchReader(DataSourceReader):
    """TRIM_HORIZON full replay; one partition per shard (lease model)."""

    def __init__(self, options):
        self.stream_dir = options["path"]

    def partitions(self):
        return [_ShardPartition(s, 0, None) for s in _shards_of(self.stream_dir)] or [
            _ShardPartition(_shard_name(0), 0, 0)
        ]

    def read(self, partition: _ShardPartition):
        yield from _read_shard(
            self.stream_dir, partition.shard, partition.start, partition.end
        )


class _StreamReader(DataSourceStreamReader):
    """Per-shard sequence offsets, checkpoint-persisted by Spark (R17).

    ``drain_parents_first=true`` enforces the KCL lease-ordering rule
    across a reshard: a child shard's records are withheld from a
    micro-batch until every parent shard (shards.json lineage) has been
    fully SCHEDULED into an earlier micro-batch. Micro-batches execute
    strictly serially, so scheduled-earlier implies processed-earlier —
    no child record is consumed before any parent record, preserving
    per-key order across a SplitShard/MergeShards boundary (one key's
    records live in exactly one parent and one child). Intended for
    TRIM_HORIZON replay consumes of a resharded stream — default off,
    since it staggers child data into later micro-batches.

    Offset-safety invariant: ``latestOffset`` must never return an offset
    below what Spark has already committed, or the offset log records a
    regressed end and a later micro-batch re-delivers processed records.
    The scheduling history lives in ``_scheduled``, floored from every
    offset Spark hands back: ``partitions(start, end)`` during planning,
    and ``commit(end)`` after each batch (the durable lease-table analogue
    is Spark's checkpoint, so its offsets are the authority). This makes a
    restart safe without any persisted reader state: MicroBatchExecution
    always re-plans the last offset-log batch via ``partitions(start, end)``
    BEFORE the first ``latestOffset`` of a restarted run (observed protocol,
    Spark 4.1), so every shard with committed progress floors the gate
    first, and a held child is returned at its floored position — never
    below the checkpoint. On a genuinely fresh query ``latestOffset`` runs
    first with an empty floor, where holding children at 0 is correct.
    """

    def __init__(self, options):
        self.stream_dir = options["path"]
        self.starting = options.get("startingposition", "TRIM_HORIZON").upper()
        if self.starting not in ("TRIM_HORIZON", "LATEST"):
            # Fail fast: a typo silently becoming TRIM_HORIZON would
            # full-replay the stream (mass redelivery from a config slip).
            raise ValueError(
                f"unsupported startingposition: {self.starting!r} "
                "(TRIM_HORIZON or LATEST)"
            )
        self.drain_parents_first = (
            options.get("drain_parents_first", "false").lower() == "true"
        )
        #: Shard → highest offset known scheduled/committed: floored from
        #: our own latestOffset answers AND every offset Spark passes back
        #: (parents count as drained only once scheduled to their tip).
        self._scheduled: dict[str, int] = {}

    def _floor_scheduled(self, offsets: dict) -> None:
        # Zero offsets MUST be recorded too: `_scheduled` non-emptiness is
        # the fresh-vs-seen sentinel for the LATEST fast path below, and a
        # query whose only known offsets are zeros (LATEST start on an
        # empty stream, or a restart re-planning an all-zero batch) has
        # been seen — skipping zeros would re-take the ungated fresh
        # branch after a reshard and break parent-first ordering.
        for shard, off in offsets.items():
            if shard not in self._scheduled or int(off) > self._scheduled[shard]:
                self._scheduled[shard] = int(off)

    def _tips(self) -> dict[str, int]:
        return {
            s: _count_records(_records_path(self.stream_dir, s))
            for s in _shards_of(self.stream_dir)
        }

    def initialOffset(self) -> dict:
        if self.starting == "LATEST":
            off = self._tips()
        else:
            off = {s: 0 for s in _shards_of(self.stream_dir)}
        # Seed scheduling history: a LATEST start treats everything before
        # the tip as already consumed, so gating must not hold children
        # below it (that would regress the start offset).
        self._floor_scheduled(off)
        return off

    def latestOffset(self) -> dict:
        tips = self._tips()
        if not self.drain_parents_first:
            return tips
        if self.starting == "LATEST" and not self._scheduled:
            # First call of a fresh LATEST query (latestOffset precedes
            # initialOffset in the planning protocol): the whole backlog —
            # parents included — is skipped, so there is nothing to drain
            # and holding children at 0 would regress below the tip-valued
            # initial offset. A restarted reader never takes this branch:
            # its floor is already seeded by the partitions() re-plan.
            self._floor_scheduled(tips)
            return tips
        # A shard dir exists only after its stream's descriptor does.
        lineage = shard_lineage(self.stream_dir) if tips else {}
        out: dict[str, int] = {}
        for shard, tip in tips.items():
            undrained = [
                p
                for p in lineage.get(shard, [])
                if p in tips and self._scheduled.get(p, 0) < tips[p]
            ]
            # Hold a child at its already-scheduled position until every
            # parent has been scheduled to its tip (in an earlier batch).
            out[shard] = self._scheduled.get(shard, 0) if undrained else tip
        self._floor_scheduled(out)
        return out

    def partitions(self, start: dict, end: dict):
        # Both bounds are scheduled state by definition (this batch is being
        # planned now); on a restart this re-plan of the last offset-log
        # batch is where the reader first learns the checkpointed offsets.
        self._floor_scheduled(start)
        self._floor_scheduled(end)
        parts = []
        for shard, tip in end.items():
            lo = int(start.get(shard, 0))
            if tip > lo:
                parts.append(_ShardPartition(shard, lo, int(tip)))
        return parts or [_ShardPartition(_shard_name(0), 0, 0)]

    def read(self, partition: _ShardPartition):
        yield from _read_shard(
            self.stream_dir, partition.shard, partition.start, partition.end
        )

    def commit(self, end: dict) -> None:
        # Progress lives in the Structured Streaming checkpoint (R17); the
        # committed offsets also floor the drain gate so it can never hold
        # a shard below what Spark has durably recorded.
        self._floor_scheduled(end)

    def stop(self) -> None:
        pass


class _StagedParts(WriterCommitMessage):
    """Commit message: the shard parts one task staged (shard id, staged
    file path, record count)."""

    def __init__(self, parts: list[tuple[str, str, int]]):
        self.parts = parts


class _Writer(DataSourceWriter):
    """Distributed producer — the KPL-analogue publish path
    (`Producer.scala:217-250`) as a transactional Spark sink.

    Two-phase protocol (the standard exactly-once sink shape): each TASK
    buckets its rows by the OPEN shard whose hash range covers the key
    (the same routing as ``put_records``) and writes one staged part file
    per shard (executor-side, parallel, no contention);
    the driver's ``commit()`` then appends all staged parts to the
    per-shard logs in one deterministic sorted order. A failed/retried
    task stages to a fresh uuid path and only the committed attempt's
    parts are appended — speculative or dead attempts are swept with the
    staging dir, so records never publish twice (the engine-side half of
    the reference's publish-then-save-offset contract,
    `Producer.scala:202-215`).
    """

    def __init__(self, options, overwrite: bool):
        self.stream_dir = options["path"]
        self.overwrite = overwrite
        self.open_shards = _open_shards(
            self.stream_dir, int(options.get("n_shards", "4"))
        )

    def write(self, iterator) -> _StagedParts:
        from pyspark import TaskContext

        # Partition id leads the staging path so commit()'s path sort is a
        # DETERMINISTIC (input partition, shard) order — a bare uuid made
        # same-key records from different tasks land in uuid order. Per-key
        # order through the distributed writer holds when a key lives in
        # one partition (TaggedProducer repartitions by key for exactly
        # this); cross-partition keys are the caller's ordering contract.
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        stage_dir = os.path.join(
            self.stream_dir, "_staging", f"{pid:05d}_{uuid.uuid4().hex}"
        )
        buckets: dict[str, list[str]] = {}
        for row in iterator:
            pk = row.partition_key
            # Optional explicit_hash_key column overrides placement
            # (KinesisOutboundRecord.scala:5-9); absent/null → pk routing.
            ehk = getattr(row, "explicit_hash_key", None)
            sid = covering_open_shard(self.open_shards, pk, ehk)["id"]
            buckets.setdefault(sid, []).append(_record_line(row.data, pk, ehk))
        os.makedirs(stage_dir, exist_ok=True)
        parts: list[tuple[str, str, int]] = []
        for sid, lines in sorted(buckets.items()):
            p = os.path.join(stage_dir, f"{sid}.part")
            with open(p, "w") as f:
                f.write("\n".join(lines) + "\n")
            parts.append((sid, p, len(lines)))
        return _StagedParts(parts)

    def commit(self, messages) -> None:
        import shutil

        if self.overwrite:
            for s in _shards_of(self.stream_dir):
                shutil.rmtree(os.path.join(self.stream_dir, s), ignore_errors=True)
        # Materialize every descriptor shard dir before appending: the
        # overwrite rmtree above deletes OPEN shards and CLOSED parents
        # alike, and a shard this batch left empty must stay readable.
        for s in _load_meta(self.stream_dir):
            os.makedirs(os.path.join(self.stream_dir, s["id"]), exist_ok=True)
        # NOTE on retry semantics: the stage/commit split makes SPECULATIVE
        # and DEAD TASK attempts harmless (their parts are never appended).
        # A driver-side failure mid-append followed by a whole-job retry
        # re-publishes the already-appended parts — at-least-once, exactly
        # like a real Kinesis putRecords retry; exactly-once belongs to the
        # epoch-keyed sink (TaggedProducer.exactly_once), not this layer.
        staged = sorted(
            (part for m in messages if m is not None for part in m.parts),
            key=lambda x: x[1],
        )
        for sid, path, _n in staged:
            with open(path) as src, open(
                _records_path(self.stream_dir, sid), "a"
            ) as out:
                out.write(src.read())
        self._sweep_own_staging(messages)

    def abort(self, messages) -> None:
        self._sweep_own_staging(messages)

    def _sweep_own_staging(self, messages) -> None:
        """Remove ONLY this job's staged part dirs — a concurrent writer to
        the same stream has its own staging dirs in flight, and sweeping
        the whole _staging tree would destroy its uncommitted parts
        mid-commit (partial publish + lost records)."""
        import shutil

        own = {
            os.path.dirname(path)
            for m in (messages or [])
            if m is not None
            for _i, path, _n in m.parts
        }
        for d in own:
            shutil.rmtree(d, ignore_errors=True)
        staging = os.path.join(self.stream_dir, "_staging")
        # Opportunistic GC of DEAD attempts' leftovers: a task that staged
        # parts and then died before returning its message is in nobody's
        # `own` set, so its dir would leak forever. An age threshold keeps
        # this safe for concurrent writers — a live sibling's staging is
        # seconds old, while an hour-old dir can only be an orphan.
        import time

        cutoff = time.time() - 3600
        try:
            for entry in os.listdir(staging):
                p = os.path.join(staging, entry)
                if p not in own:
                    try:
                        if os.path.getmtime(p) < cutoff:
                            shutil.rmtree(p, ignore_errors=True)
                    except OSError:
                        pass  # swept by a sibling mid-listing
        except OSError:
            pass
        try:
            os.rmdir(staging)  # only if empty — siblings may be mid-flight
        except OSError:
            pass


class KinesisSimDataSource(DataSource):
    """``spark.read.format("kinesis_sim").option("path", dir)`` — register
    with ``spark.dataSource.register(KinesisSimDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str | StructType:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _BatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _StreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _Writer(self.options, overwrite)


# ---------------------------------------------------------------------------
# Hash-range shard model and resharding
#
# Kinesis routes by MD5 hash RANGE, and resharding splits a parent shard's
# range between two children (or merges two adjacent ranges into one): the
# parent is CLOSED (its records remain readable to the end — SHARD_END),
# and new records route to whichever OPEN shard's range contains the key
# hash. Consumers must drain the parent before its children to keep
# per-key order (the KCL lease rule the reference inherits). Every stream's
# `shards.json` descriptor carries ranges, status and parentage.
# Ranges live in the 32-bit prefix space of md5 (granular enough for a
# simulator, and representable in every engine's BIGINT for oracles).
# ---------------------------------------------------------------------------

_META = "shards.json"
_RANGE_SPACE = 1 << 32


def hash32(partition_key: str) -> int:
    """First 8 md5 hex chars as uint32 — the range-routing hash (oracle
    mirror: CAST(('0x' || substr(md5(pk), 1, 8)) AS BIGINT))."""
    if partition_key is None:
        # Real Kinesis rejects a missing partition key at the API boundary;
        # fail fast here (the one routing choke point) instead of an opaque
        # AttributeError deep inside an executor's Python worker.
        raise ValueError("partition_key / explicit_hash_key must be non-null")
    return int(hashlib.md5(partition_key.encode()).hexdigest()[:8], 16)


def covering_open_shard(open_shards: list[dict], pk: str, ehk=None) -> dict:
    """The OPEN shard whose hash range contains hash32(ehk or pk) — the
    single definition of routing, shared by the producer helper
    (put_records) and the distributed writer (_Writer.write)."""
    h = hash32(ehk if ehk is not None else pk)
    for s in open_shards:
        if s["lo"] <= h < s["hi"]:
            return s
    raise ValueError(f"no OPEN shard covers hash {h}")  # corrupt meta


def _load_meta(stream_dir: str) -> list[dict]:
    with open(os.path.join(stream_dir, _META)) as f:
        return json.load(f)


def _save_meta(stream_dir: str, shards: list[dict]) -> None:
    # Atomic: every put and write reads the descriptor, and a reader must
    # never see a torn one. The tmp name is unique, so two producers
    # creating one stream at once cannot interleave their bytes.
    os.makedirs(stream_dir, exist_ok=True)
    path = os.path.join(stream_dir, _META)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(shards, f, indent=1)
    os.replace(tmp, path)


def _open_shards(stream_dir: str, n_shards: int) -> list[dict]:
    """The OPEN shards a put or write routes to; a path with no descriptor
    is first created as a stream of ``n_shards`` equal ranges."""
    if os.path.exists(os.path.join(stream_dir, _META)):
        shards = _load_meta(stream_dir)
    else:
        shards = create_stream(stream_dir, n_shards)
    return [s for s in shards if s["status"] == "OPEN"]


def create_stream(stream_dir: str, n_shards: int = 1) -> list[dict]:
    """Initialize a stream: n open shards splitting [0, 2^32)."""
    step = _RANGE_SPACE // n_shards
    shards = [
        {
            "id": _shard_name(i),
            "lo": i * step,
            "hi": (i + 1) * step if i < n_shards - 1 else _RANGE_SPACE,
            "status": "OPEN",
            "parents": [],
        }
        for i in range(n_shards)
    ]
    _save_meta(stream_dir, shards)
    for s in shards:
        os.makedirs(os.path.join(stream_dir, s["id"]), exist_ok=True)
    return shards


def split_shard(stream_dir: str, shard_id: str) -> tuple[str, str]:
    """Kinesis SplitShard: close the parent, create two children covering
    the halves of its hash range. Returns the child ids."""
    shards = _load_meta(stream_dir)
    by_id = {s["id"]: s for s in shards}
    parent = by_id[shard_id]
    if parent["status"] != "OPEN":
        raise ValueError(f"{shard_id} is not OPEN")
    parent["status"] = "CLOSED"
    mid = (parent["lo"] + parent["hi"]) // 2
    next_idx = len(shards)
    children = []
    for lo, hi in ((parent["lo"], mid), (mid, parent["hi"])):
        child = {
            "id": _shard_name(next_idx),
            "lo": lo,
            "hi": hi,
            "status": "OPEN",
            "parents": [shard_id],
        }
        os.makedirs(os.path.join(stream_dir, child["id"]), exist_ok=True)
        shards.append(child)
        children.append(child["id"])
        next_idx += 1
    _save_meta(stream_dir, shards)
    return children[0], children[1]


def shard_lineage(stream_dir: str) -> dict[str, list[str]]:
    """shard id → parent ids; consumers drain parents before children
    (per-key order across a reshard — the KCL lease ordering rule)."""
    return {s["id"]: s["parents"] for s in _load_meta(stream_dir)}


def merge_shards(stream_dir: str, left_id: str, right_id: str) -> str:
    """Kinesis MergeShards: close two ADJACENT open shards, create one
    child owning their combined hash range. Returns the child id."""
    shards = _load_meta(stream_dir)
    by_id = {s["id"]: s for s in shards}
    a, b = by_id[left_id], by_id[right_id]
    if a["status"] != "OPEN" or b["status"] != "OPEN":
        raise ValueError("both shards must be OPEN")
    if a["hi"] != b["lo"]:
        raise ValueError(f"{left_id} and {right_id} are not adjacent")
    a["status"] = b["status"] = "CLOSED"
    child = {
        "id": _shard_name(len(shards)),
        "lo": a["lo"],
        "hi": b["hi"],
        "status": "OPEN",
        "parents": [left_id, right_id],
    }
    os.makedirs(os.path.join(stream_dir, child["id"]), exist_ok=True)
    shards.append(child)
    _save_meta(stream_dir, shards)
    return child["id"]
