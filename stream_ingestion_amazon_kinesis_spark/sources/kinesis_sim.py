"""Kinesis-simulating custom Python DataSource (PySpark 4 DataSource API).

The reference drives Kinesis imperatively: paginated ``list_shards``
(consumer.py:53-94), a TRIM_HORIZON iterator per shard, a
``get_records(Limit=200)`` poll loop that follows ``NextShardIterator``
(consumer.py:108-195), and ``put_record(PartitionKey=session_id)`` on
the produce side (producer_from_cli_my_modifications.py:40-47). This
module re-expresses that protocol in Spark's own source/sink contracts
instead of a driver-side loop:

- shard          -> one slice of a micro-batch (a batch read runs one
                    ``InputPartition`` per shard; the shard LISTING is
                    driver-side metadata, exactly like list_shards
                    pagination)
- shard iterator -> streaming offset (per-shard record index, persisted
                    in the checkpoint rather than in process memory)
- get_records    -> ``read(start)`` of a ``SimpleDataSourceStreamReader``,
                    run in the driver's long-lived source process: it
                    returns every shard's slice as Arrow plus the end
                    offset, and the engine ships the slices to the JVM as
                    the micro-batch's one prefetched partition, so a live
                    batch starts no Python worker; ``readBetweenOffsets``
                    replays an uncommitted batch after a restart
- Limit=200      -> ``maxFetchRecordsPerShard`` cap applied per shard
                    per micro-batch in ``read``
- TRIM_HORIZON / LATEST -> ``startingPosition`` option handled in
                    ``initialOffset``
- put_record(PartitionKey=k) -> batch writer that routes each row to
                    ``crc32(k) % num_shards``, with Spark's two-phase
                    task-write / driver-commit protocol replacing the
                    per-record HTTP call

On-disk stream layout (a "stream" is a directory):

    <stream>/shard-00000/part-<taskid>.jsonl
    <stream>/shard-00001/part-...

Each line is one record envelope: ``{"partitionKey": str, "data": str}``.
A record's sequence number is its 0-based position within the shard
(part files ordered by name), mirroring Kinesis' monotone per-shard
sequence numbers.

Reader and writer methods need only the stdlib and pyarrow (which
PySpark's data source workers import anyway).
"""

from __future__ import annotations

import io
import itertools
import json
import os
import re
import uuid
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.json as pa_json
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = (
    "shard_id string, sequence_number bigint, partition_key string, data string"
)


def _shard_dirs(path: str) -> list[str]:
    """Driver-side shard listing — the list_shards analog. Sorted so
    shard ordering (and thus partition ids) is deterministic."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"kinesis_sim stream directory not found: {path}")
    return sorted(
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("shard-") and os.path.isdir(os.path.join(path, d))
    )


# Committed part files carry a zero-padded per-shard index so appends
# always sort after existing files; anything else is a legacy name that
# commit() migrates before appending (see KinesisSimWriter.commit).
_INDEXED_RE = re.compile(r"^part-\d{8}-")


def _shard_files(shard_dir: str) -> list[str]:
    return sorted(
        os.path.join(shard_dir, f)
        for f in os.listdir(shard_dir)
        if f.endswith(".jsonl")
    )


def _iter_shard_lines(shard_dir: str):
    """Yield the shard's non-blank lines, unparsed, across its part files
    in name order — line i is the record with sequence number i."""
    for fpath in _shard_files(shard_dir):
        with open(fpath, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield line


def _shard_length(shard_dir: str) -> int:
    return sum(1 for _ in _iter_shard_lines(shard_dir))


def _shard_slice(shard_dir: str, start: int, stop: int | None) -> tuple[list, int]:
    """Lines [start, stop) of the shard (stop None: to its tail), and the
    number of lines seen. Lines before the slice are counted, never
    parsed, and reading stops at `stop`; the count is the shard's tail
    whenever the slice came up short."""
    lines = _iter_shard_lines(shard_dir)
    skipped = sum(1 for _ in itertools.islice(lines, start))
    out = list(itertools.islice(lines, None if stop is None else stop - start))
    return out, skipped + len(out)


_ENVELOPE = pa.schema([("partitionKey", pa.string()), ("data", pa.string())])


def _parse_slice(shard_id: str, start: int, lines: list) -> list:
    """Records start, start + 1, ... of one shard as Arrow RecordBatches
    (the columnar batch crosses the Python->JVM boundary whole): one
    vectorised JSON parse of the slice's envelopes, in one block so no
    record straddles a block boundary."""
    if not lines:
        return []
    payload = "\n".join(lines).encode("utf-8")
    env = pa_json.read_json(
        io.BytesIO(payload),
        read_options=pa_json.ReadOptions(use_threads=False, block_size=len(payload)),
        parse_options=pa_json.ParseOptions(
            explicit_schema=_ENVELOPE, unexpected_field_behavior="ignore"
        ),
    )
    # The two generated columns are built from raw buffers: pa.array()
    # over Python values imports pandas, ~0.4 s on the first read of
    # every query's source process.
    n, sid = len(lines), shard_id.encode("utf-8")
    offsets = np.arange(0, (n + 1) * len(sid), len(sid), dtype=np.int32)
    shard = pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(sid * n)]
    )
    seq = pa.Array.from_buffers(
        pa.int64(), n, [None, pa.py_buffer(np.arange(start, start + n, dtype=np.int64))]
    )
    return pa.Table.from_arrays(
        [shard, seq, env.column("partitionKey"), env.column("data")],
        names=["shard_id", "sequence_number", "partition_key", "data"],
    ).to_batches()


@dataclass
class ShardPartition(InputPartition):
    """One shard == one Spark read task of a batch read."""

    shard_dir: str


class KinesisSimBatchReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def partitions(self):
        return [ShardPartition(d) for d in _shard_dirs(self.path)]

    def read(self, partition: ShardPartition):
        lines, _ = _shard_slice(partition.shard_dir, 0, None)
        return iter(_parse_slice(os.path.basename(partition.shard_dir), 0, lines))


class KinesisSimStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader whose offset is the per-shard record index —
    the shard-iterator positions the reference keeps in process memory
    (consumer.py:189-190), made durable by the checkpoint instead.

    `read` runs in the driver's long-lived source process: the engine
    calls it for the next offset, caches the returned slice and ships it
    to the JVM with the batch's partition, so a live micro-batch starts
    no Python worker. `readBetweenOffsets` re-reads an uncommitted batch
    on restart.
    """

    def __init__(self, path: str, starting_position: str, max_fetch: int):
        self.path = path
        self.starting_position = starting_position
        self.max_fetch = max_fetch

    def initialOffset(self) -> dict:
        # TRIM_HORIZON -> start of every shard; LATEST -> current tail.
        if self.starting_position == "LATEST":
            return {os.path.basename(d): _shard_length(d) for d in _shard_dirs(self.path)}
        return {os.path.basename(d): 0 for d in _shard_dirs(self.path)}

    def read(self, start: dict):
        # At most max_fetch records per shard: the get_records(Limit=200)
        # cap, applied per shard per micro-batch.
        return self._read(start, None)

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._read(start, end)[0]

    def _read(self, start: dict, end: dict | None):
        # The end offset keeps `start`'s key order: the engine compares
        # offsets as JSON text, so an idle read must return `start` as is.
        batches, out = [], dict(start)
        for d in _shard_dirs(self.path):
            sid = os.path.basename(d)
            s = start.get(sid, 0)
            stop = s + self.max_fetch if end is None else end.get(sid, s)
            lines, seen = _shard_slice(d, s, stop)
            need = s if end is None else stop
            if seen < need:
                # An offset past the shard's tail means the stream was
                # regenerated or truncated since the checkpoint was
                # written; proceeding would silently skip every record
                # below it. Real Kinesis raises the same way when a
                # stored shard iterator no longer resolves.
                raise RuntimeError(
                    f"kinesis_sim: offset {need} for {sid} exceeds the shard "
                    f"tail ({seen} records) in {self.path} — the stream was "
                    "regenerated or truncated since this checkpoint was "
                    "written. Delete the checkpoint (full reprocess) or "
                    "restore the original stream; refusing to silently "
                    "skip records."
                )
            batches += _parse_slice(sid, s, lines)
            out[sid] = s + len(lines)
        return iter(batches), out


def _consume_killpoint(stream_dir: str, name: str) -> None:
    """kill -9 chaos-drill hook: a file named `name` in the stream dir
    makes the calling code deliver SIGKILL to the etl driver (pid from
    SPARK_GRAFT_DRIVER_PID, set by __main__.main) AND to the calling
    process at this exact point — a genuine uncontrolled death, unlike
    the exception failpoint, which unwinds normally. Single-shot:
    the file is consumed first, so the restarted run proceeds. Test-only;
    two os.path.exists misses per call in normal operation."""
    import signal

    p = os.path.join(stream_dir, name)
    if not os.path.exists(p):
        return
    os.remove(p)
    pid = os.environ.get("SPARK_GRAFT_DRIVER_PID")
    if pid and int(pid) != os.getpid():
        try:
            os.kill(int(pid), signal.SIGKILL)
        except (OSError, ValueError):
            pass
    os.kill(os.getpid(), signal.SIGKILL)


def shard_of(key: str, num_shards: int) -> int:
    """put_record routing: the shard a partition key lands on. crc32 is
    deterministic across processes (Python's hash() is salted) — the
    MD5-of-partition-key role in Kinesis. `shard_column` is its JVM twin."""
    return zlib.crc32(key.encode("utf-8")) % num_shards


def key_column(key):
    """JVM twin of the writer's ``str(key)`` for a string key column: the
    key itself, and 'None' for a null key."""
    from pyspark.sql import functions as F

    return F.coalesce(key.cast("string"), F.lit("None"))


def shard_column(key, num_shards: int):
    """JVM twin of `shard_of` over a `key_column` value: Spark's crc32 of
    the UTF-8 bytes is the same unsigned 32-bit value as zlib.crc32."""
    from pyspark.sql import functions as F

    return F.crc32(key.cast("binary")) % num_shards


def _done_marker(stream_dir: str, token: str) -> str:
    return os.path.join(stream_dir, "_epochs", f"w-{token}")


def is_published(stream_dir: str, token: str) -> bool:
    """Whether `publish` already completed for `token` in this stream."""
    return os.path.exists(_done_marker(stream_dir, token))


def publish(stream_dir: str, staged: list, token: str | None) -> None:
    """Publish staged part files to the tail of their shards — the commit
    half of the two-phase write, shared by `KinesisSimWriter.commit` and
    the routed streaming sink (`streaming.pipeline.kinesis_sim_sink`).

    `staged` lists (relpath, tmp_path) pairs with relpath
    ``shard-NNNNN/part-<suffix>.jsonl``, in publish order. Files move
    with os.replace, so every tmp_path must sit on the stream's
    filesystem. `token` (None for a plain append) is the idempotence
    token of an epoch retry, ``<checkpoint-scope>e<epoch>``: it is
    embedded in the published file names, a torn previous attempt of the
    same token is rolled back before publishing, and a done-marker
    ``_epochs/w-<token>`` is recorded after the last file — so a retried
    epoch converges to exactly one copy no matter where the previous
    attempt died. With the marker already present the staged files are
    dropped and nothing is published.
    """
    # Crash-injection failpoint for the exactly-once tests: a file named
    # _failpoint_before_commit in the stream dir makes the publish die
    # AFTER the records were staged but BEFORE any is published — the
    # torn-write moment. Single-shot (the file is consumed) and
    # file-based because the DataSource commit runs in a separate Python
    # worker process where a test's monkeypatch/env can't reach. No-op in
    # normal operation.
    failpoint = os.path.join(stream_dir, "_failpoint_before_commit")
    if os.path.exists(failpoint):
        os.remove(failpoint)
        raise RuntimeError("kinesis_sim failpoint: injected crash before commit")
    # kill -9 drill points: staged, nothing published yet / torn
    # mid-publish. See _consume_killpoint.
    _consume_killpoint(stream_dir, "_killpoint_before_publish")
    kill_mid_publish = os.path.exists(
        os.path.join(stream_dir, "_killpoint_mid_publish")
    )
    done_marker = _done_marker(stream_dir, token) if token else None
    if done_marker and os.path.exists(done_marker):
        for _rel, tmp in staged:
            if os.path.exists(tmp):
                os.remove(tmp)
        return
    if token and os.path.isdir(stream_dir):
        # Roll back a TORN previous attempt of this same token: any
        # published file carrying the token sits at its shard's tail (it
        # was appended by the dead attempt and the epoch never
        # committed), so deleting it restores the pre-epoch state and the
        # republish below lands at the same sequence numbers.
        for d in _shard_dirs(stream_dir):
            for f in _shard_files(d):
                if f"-{token}-" in os.path.basename(f):
                    os.remove(f)
    # Sequence numbers are defined by FILE-NAME order within a shard
    # (_iter_shard_lines), so appended files MUST sort after every
    # existing file or a later append would renumber records a
    # checkpointed reader already consumed (caught as a real
    # duplicate+skip in the round-4 etl incremental-resume test: a
    # lower-sorting uuid part file shifted the committed offsets).
    # Each new file therefore gets a zero-padded per-shard index =
    # count of existing files + arrival order; the task-id suffix
    # keeps concurrent committers collision-free, and zero-padded
    # indices always sort after lower ones regardless of suffix.
    # Legacy migration: streams written BEFORE the zero-padded-index
    # fix hold uuid-named parts (part-<taskid>.jsonl) that new
    # indexed names can sort BEFORE (e.g. part-00000002-x <
    # part-3fa9...), renumbering offsets a checkpointed reader has
    # already consumed — the same duplicate/skip bug the index fix
    # closed, alive on legacy data. Before appending, rename every
    # existing file to its canonical index in the CURRENT sorted
    # order (the order consumers have been reading), which preserves
    # all record positions and guarantees appends sort after.
    next_idx: dict[str, int] = {}
    for rel, tmp in staged:
        shard_rel = os.path.dirname(rel)
        shard_dir = os.path.join(stream_dir, shard_rel)
        os.makedirs(shard_dir, exist_ok=True)
        if shard_rel not in next_idx:
            existing = _shard_files(shard_dir)
            if any(not _INDEXED_RE.match(os.path.basename(f)) for f in existing):
                for i, f in enumerate(existing):
                    tail = os.path.basename(f)[len("part-"):]
                    canon = os.path.join(shard_dir, f"part-{i:08d}-{tail}")
                    if f != canon:
                        os.replace(f, canon)
                existing = _shard_files(shard_dir)
            next_idx[shard_rel] = len(existing)
        idx = next_idx[shard_rel]
        next_idx[shard_rel] = idx + 1
        suffix = os.path.basename(rel)[len("part-"):]
        if token:
            suffix = f"{token}-{suffix}"
        fname = f"part-{idx:08d}-{suffix}"
        os.replace(tmp, os.path.join(shard_dir, fname))
        if kill_mid_publish:
            # consume + SIGKILL after the FIRST publish: a
            # genuinely torn multi-file publish for the drill.
            _consume_killpoint(stream_dir, "_killpoint_mid_publish")
    if done_marker:
        os.makedirs(os.path.dirname(done_marker), exist_ok=True)
        with open(done_marker, "w", encoding="utf-8") as fh:
            fh.write("ok")


@dataclass
class ShardWriteCommit(WriterCommitMessage):
    files: list  # (final_relpath, tmp_path) pairs


class KinesisSimWriter(DataSourceWriter):
    """put_record twin: route rows to shards by partition key, write
    per-task part files to a staging area, publish on driver commit —
    Spark's two-phase commit standing in for the service-side append.
    """

    def __init__(self, path: str, num_shards: int, key_col: str, data_col: str):
        self.path = path
        self.num_shards = num_shards
        self.key_col = key_col
        self.data_col = data_col

    def write(self, iterator) -> ShardWriteCommit:
        task_id = uuid.uuid4().hex[:12]
        handles, files = {}, []
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        try:
            for row in iterator:
                key = str(row[self.key_col])
                shard = shard_of(key, self.num_shards)
                if shard not in handles:
                    rel = os.path.join(
                        f"shard-{shard:05d}", f"part-{task_id}.jsonl"
                    )
                    tmp = os.path.join(staging, f"{shard:05d}-{task_id}.jsonl")
                    handles[shard] = open(tmp, "w", encoding="utf-8")
                    files.append((rel, tmp))
                env = {"partitionKey": key, "data": row[self.data_col]}
                handles[shard].write(json.dumps(env) + "\n")
        finally:
            for fh in handles.values():
                fh.close()
        return ShardWriteCommit(files=files)

    def commit(self, messages) -> None:
        publish(
            self.path,
            [f for msg in messages if msg is not None for f in msg.files],
            None,
        )
        staging = os.path.join(self.path, "_staging")
        if os.path.isdir(staging) and not os.listdir(staging):
            os.rmdir(staging)

    def abort(self, messages) -> None:
        for msg in messages:
            if msg is None:
                continue
            for _rel, tmp in msg.files:
                if os.path.exists(tmp):
                    os.remove(tmp)


class KinesisSimDataSource(DataSource):
    """``spark.read/readStream/write.format("kinesis_sim")``.

    Options:
      path                     stream directory (required)
      startingPosition         TRIM_HORIZON (default) | LATEST  [stream read]
      maxFetchRecordsPerShard  per-shard per-batch cap, default 200
                               (consumer.py:115's Limit=200)       [stream read]
      numShards                shard count on write, default 4
      partitionKeyColumn       routing column on write, default partition_key
      dataColumn               payload column on write, default data
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str:
        return SCHEMA_DDL

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("kinesis_sim requires option 'path'")
        return path

    def reader(self, schema: StructType) -> KinesisSimBatchReader:
        return KinesisSimBatchReader(self._path())

    def simpleStreamReader(self, schema: StructType) -> KinesisSimStreamReader:
        return KinesisSimStreamReader(
            self._path(),
            self.options.get("startingPosition", "TRIM_HORIZON").upper(),
            int(self.options.get("maxFetchRecordsPerShard", "200")),
        )

    def writer(self, schema: StructType, overwrite: bool) -> KinesisSimWriter:
        path = self._path()
        if overwrite and os.path.isdir(path):
            for d in _shard_dirs(path):
                for f in _shard_files(d):
                    os.remove(f)
        return KinesisSimWriter(
            path,
            int(self.options.get("numShards", "4")),
            self.options.get("partitionKeyColumn", "partition_key"),
            self.options.get("dataColumn", "data"),
        )


def register_format(spark) -> None:
    """Idempotent registration of the kinesis_sim format."""
    spark.dataSource.register(KinesisSimDataSource)


# ---------------------------------------------------------------------------
# Registered roundtrip query: put_record routing -> shard scan -> decode
# ---------------------------------------------------------------------------


def _stream_cache_path(sf_dir: str) -> str:
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    from .catalog import fixture_fingerprint

    return os.path.join(
        tempfile.gettempdir(),
        "spark_graft_kinesis_sim",
        tag,
        f"events_{fixture_fingerprint(sf_dir)}",
    )


def events_stream_dir(spark, sf_dir: str, num_shards: int = 32) -> str:
    """Materialize the events fixture as a kinesis_sim stream once per
    sf: partition key = user_id (the reference keys on session_id,
    producer:46), payload = the record as JSON. Marker file makes the
    cache idempotent across processes."""
    from pyspark.sql import functions as F

    from .catalog import load_table

    register_format(spark)
    path = _stream_cache_path(sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        events = load_table(spark, sf_dir, "events")
        env = events.select(
            F.col("user_id").cast("string").alias("partition_key"),
            F.to_json(
                F.struct("event_id", "user_id", "event_type", "value")
            ).alias("data"),
        )
        (
            env.write.format("kinesis_sim")
            .option("path", path)
            .option("numShards", str(num_shards))
            .mode("overwrite")
            .save()
        )
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("")
    return path


def _register_queries() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..plans.registry import register

    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    @register(
        "kinesis_sim_roundtrip",
        oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_records,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        GROUP BY event_type
        """,
        description="S1/S2/S5 as a custom Python DataSource: events routed "
        "to shards by partition key (put_record twin), scanned back one "
        "task per shard, JSON-decoded, aggregated; oracle reads the same "
        "records from parquet",
    )
    def kinesis_sim_roundtrip(spark, sf_dir: str):
        path = events_stream_dir(spark, sf_dir)
        raw = spark.read.format("kinesis_sim").option("path", path).load()
        rec = raw.select(
            F.from_json("data", payload).alias("r")
        ).select("r.*")
        return rec.groupBy("event_type").agg(
            F.count("*").alias("n_records"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )


_register_queries()
