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

    <stream>/shard-00000/part-<20-digit first sequence number>.jsonl
    <stream>/shard-00001/part-...
    <stream>/_epochs/i-<token>     intent record of a tokened publish
    <stream>/_epochs/w-<token>     done-marker of an idempotent publish

Each line is one record envelope: ``{"partitionKey": str, "data": str}``.
A record's sequence number is its 0-based position within the shard,
mirroring Kinesis' monotone per-shard sequence numbers; a part file is
named by the sequence number of its first record, so name order is
sequence order, a shard's tail is its last file's first sequence number
plus that file's record count, and a reader finds the file that holds
any sequence number by bisecting the listing. `publish` claims a name
exclusively (``os.link``) and never renames over one, so a published
record keeps its sequence number whatever other writers do.

Reader and writer methods need only the stdlib and pyarrow (which
PySpark's data source workers import anyway).
"""

from __future__ import annotations

import bisect
import contextlib
import io
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


def _part_name(first_seq: int) -> str:
    return f"part-{first_seq:020d}.jsonl"


_PART_RE = re.compile(r"part-(\d{20})\.jsonl")


def _first_seq(name: str) -> int:
    """The first sequence number of the part file `name`; any other file
    name is refused, since its records have no place in the sequence."""
    m = _PART_RE.fullmatch(os.path.basename(name))
    if m is None:
        raise ValueError(
            f"kinesis_sim: {name} is not a part-<20-digit first sequence "
            "number>.jsonl file, so its records have no sequence numbers; "
            "refusing to read or append to its shard"
        )
    return int(m.group(1))


def _part_names(shard_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(shard_dir) if f.endswith(".jsonl"))


def _shard_files(shard_dir: str) -> list[str]:
    return [os.path.join(shard_dir, f) for f in _part_names(shard_dir)]


def _lines(path: str) -> list[str]:
    """The file's non-blank lines, unparsed: one per record."""
    with open(path, encoding="utf-8") as fh:
        return [line for line in map(str.strip, fh) if line]


def _iter_shard_lines(shard_dir: str):
    """Yield the shard's non-blank lines, unparsed, across its part files
    in name order — line i is the record with sequence number i."""
    for fpath in _shard_files(shard_dir):
        yield from _lines(fpath)


def _shard_tail(shard_dir: str) -> int:
    """The shard's next sequence number: its last file's first sequence
    number plus that file's record count. Every file name is checked, so
    a shard holding a foreign file is refused before anything lands."""
    files = _shard_files(shard_dir)
    firsts = [_first_seq(f) for f in files]
    if not files:
        return 0
    n = len(_lines(files[-1]))
    if not n:
        raise ValueError(
            f"kinesis_sim: {files[-1]} holds no record, so the next record's "
            "name would be its own; refusing to append to its shard"
        )
    return firsts[-1] + n


def _shard_slice(shard_dir: str, start: int, stop: int) -> tuple[list, int]:
    """Lines [start, stop) of the shard, and the sequence number after the
    last file read, which is the shard's tail whenever the slice came up
    short. The listing is bisected for the file that holds `start`, and
    only the files from there up to the one that holds `stop - 1` (or
    the last file) are opened."""
    names = _part_names(shard_dir)
    if not names:
        return [], 0
    i = max(bisect.bisect_right(names, _part_name(start)) - 1, 0)
    out, pos = [], min(_first_seq(names[i]), start)
    for name in names[i:]:
        path = os.path.join(shard_dir, name)
        if _first_seq(path) != pos:
            raise RuntimeError(
                f"kinesis_sim: {path} does not start at sequence number {pos}, "
                "where the shard's previous part file ends; refusing to "
                "renumber records"
            )
        lines = _lines(path)
        out += lines[max(start - pos, 0) : max(stop - pos, 0)]
        pos += len(lines)
        if pos >= stop:
            break
    return out, pos


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

    def read(self, partition: ShardPartition | None):
        # A stream with no shard plans no partition, and PySpark then
        # calls read(None) once: an empty stream reads as 0 rows.
        if partition is None:
            return iter(())
        lines = list(_iter_shard_lines(partition.shard_dir))
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
            return {os.path.basename(d): _shard_tail(d) for d in _shard_dirs(self.path)}
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


class StaleCheckpointError(RuntimeError):
    """A checkpoint's source stream was regenerated since it was written."""


def guard_checkpoint(stream_dir: str, checkpoint_dir: str) -> None:
    """Refuse a checkpoint whose source stream was regenerated at the
    same path. Published part files are never rewritten and appends only
    add files after them, so each shard's first part file (name, size,
    mtime_ns) fingerprints the shard. The first call over a checkpoint
    records the fingerprints in `<checkpoint>/_source_shards.json`; a
    later call raises if a recorded shard's first file changed or
    vanished, then records the shards that appeared since. This catches
    a stream regenerated to at least its old length, which the reader's
    offset-past-tail check misses. Costs one listdir and one stat per
    shard, at query start only."""
    path = os.path.join(checkpoint_dir, "_source_shards.json")
    current = {}
    for d in _shard_dirs(stream_dir):
        files = _shard_files(d)
        if files:
            st = os.stat(files[0])
            current[os.path.basename(d)] = [
                os.path.basename(files[0]), st.st_size, st.st_mtime_ns
            ]
    try:
        with open(path, encoding="utf-8") as fh:
            seen = json.load(fh)
    except FileNotFoundError:
        seen = {}
    changed = sorted(sid for sid, sig in seen.items() if current.get(sid) != sig)
    if changed:
        raise StaleCheckpointError(
            f"stale checkpoint {checkpoint_dir}: source stream {stream_dir} "
            f"was regenerated since the checkpoint was written (first part "
            f"file of {', '.join(changed)} changed or vanished). Reprocessing "
            "with this checkpoint would silently skip records. Use a fresh "
            "checkpoint (and clean destination streams), or delete this one "
            "to reprocess from scratch."
        )
    if current.keys() - seen.keys():
        _write_json(path, current)


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
    the routed streaming sink (`streaming.pipeline.stage_and_publish`).

    `staged` lists (relpath, tmp_path) pairs in publish order; only the
    shard directory of relpath (``shard-NNNNN/...``) is used. Each staged
    file is published under its first sequence number, read from the
    shard's tail, by hard-linking it to that name: the link fails if the
    name exists, so when another writer took the tail first the tail is
    read again and the claim retried, and no published record is ever
    renumbered. Every tmp_path must sit on the stream's filesystem; it
    is removed once claimed, and a file without records is not
    published.

    `token` (None for a plain append) is the idempotence token of an
    epoch retry, ``<checkpoint-scope>e<epoch>``. Before its first claim
    `publish` records the names it is about to claim in the intent
    record ``_epochs/i-<token>``, and once every file landed the intent
    record becomes the done-marker ``_epochs/w-<token>``. A retry with
    the marker present drops the staged files and publishes nothing; a
    retry of a torn attempt first removes the files its intent record
    lists, which restores the pre-epoch tail as long as no other writer
    claimed those names in between (the routed sink is the only writer
    of its destination streams). So a retried epoch converges to exactly
    one copy, at the same sequence numbers, wherever the previous
    attempt died.
    """
    done_marker = _done_marker(stream_dir, token) if token else None
    if done_marker and os.path.exists(done_marker):
        for _rel, tmp in staged:
            if os.path.exists(tmp):
                os.remove(tmp)
        return
    intent = os.path.join(stream_dir, "_epochs", f"i-{token}") if token else None
    if intent and os.path.exists(intent):
        with open(intent, encoding="utf-8") as fh:
            for rel in json.load(fh):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(stream_dir, rel))
    pending = []
    for rel, tmp in staged:
        n = len(_lines(tmp))
        if n:
            pending.append((os.path.dirname(rel), tmp, n))
        else:
            os.remove(tmp)
    for shard in dict.fromkeys(shard for shard, _tmp, _n in pending):
        os.makedirs(os.path.join(stream_dir, shard), exist_ok=True)
    claimed: list[str] = []
    while True:
        tails = {shard: _shard_tail(os.path.join(stream_dir, shard)) for shard, _t, _n in pending}
        plan = []
        for shard, _tmp, n in pending:
            plan.append(os.path.join(shard, _part_name(tails[shard])))
            tails[shard] += n
        if intent:
            _write_json(intent, claimed + plan)
        landed = 0
        for rel, (_shard, tmp, _n) in zip(plan, pending):
            try:
                os.link(tmp, os.path.join(stream_dir, rel))
            except FileExistsError:
                break  # another writer took this tail: read the tails again
            os.remove(tmp)
            claimed.append(rel)
            landed += 1
        pending = pending[landed:]
        if not pending:
            break
    if done_marker:
        os.replace(intent, done_marker)


def _write_json(path: str, value) -> None:
    """Replace `path` atomically with `value` as JSON."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)


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


# Version of the on-disk layout, part of the cached stream's path, so a
# stream cached in an earlier layout is rebuilt instead of refused.
_LAYOUT_VERSION = 2


def _stream_cache_path(sf_dir: str) -> str:
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    from .catalog import fixture_fingerprint

    return os.path.join(
        tempfile.gettempdir(),
        "spark_graft_kinesis_sim",
        tag,
        f"events_v{_LAYOUT_VERSION}_{fixture_fingerprint(sf_dir)}",
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
