"""Structured Streaming pipelines — the reference's runtime identity.

The reference is a hand-rolled poll loop: enumerate shards, get_records
per shard forever, transform each record in Python, put_record to one
of two destination streams, with in-memory cursors that vanish on
restart (consumer.py:53-94, 108-195 — at-least-once with full
TRIM_HORIZON replay). This module is the same pipeline as ONE logical
plan, incrementalized by the micro-batch engine:

- source: `readStream.format("kinesis_sim")` over a sharded stream
  directory (`sources/kinesis_sim.py`, the local stand-in; a real
  Kinesis/Kafka source is a `format()` swap — the plan and sinks are
  untouched, per BASELINE.json's "Structured Streaming + Kinesis
  source" approach).
- transform: the exact T1-T6 enrichment from operators/enrichment.py —
  same code object as the batch path, which is what makes streaming
  results oracle-checkable by batch replay.
- sink: `foreachBatch` demux to BOTH routes plus a quarantine (the
  reference re-serializes record-at-a-time, consumer.py:160-171, and
  drops malformed records with a log line, consumer.py:177-185). One
  Spark job collects the whole routed micro-batch; the driver then
  stages and publishes each route with the batch's commit token. The
  routed projection (enrichment, route, shard, envelope) is built once
  per query and re-selected on every micro-batch, so a batch pays no
  Python-side plan building.
- state: checkpointed offsets plus the epoch-idempotent publish give
  exactly-once output, replacing the reference's restart-equals-replay
  behavior (consumer.py:76).

Shard -> partition mapping: a live micro-batch is ONE partition, every
shard's capped slice read on the driver and shipped to the JVM with the
batch (no Python worker runs); `trigger(processingTime=...)` replaces
the `time.sleep(2)` pacing (consumer.py:194-195); per-key output
ordering (partition key session_id, consumer.py:170) is preserved by
staging the collected rows in order.
"""

from __future__ import annotations

import contextlib
import datetime
import hashlib
import os
import shutil
import time
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.enrichment import ROUTES, enrichment_columns, route_column
from ..sources.json_source import CORRUPT_COL, PERMISSIVE, SESSION_RECORD_SCHEMA


# ---------------------------------------------------------------------------
# Event-time streaming over the events table shape (G12-G15): the
# streaming twins of operators/event_time.py, validated by batch replay.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-backed event stream. `max_files_per_trigger` throttles each
    micro-batch to N files — the file-source twin of a Kinesis fetch
    cap, used by the state-growth soak to replay a corpus as a long
    sequence of small micro-batches."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(input_dir)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """G12+G13: watermarked tumbling-window aggregate. In append mode a
    window emits once the watermark passes its end; rows later than the
    watermark are dropped — the late-data policy the reference cannot
    express (it replays everything from TRIM_HORIZON instead)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def purchase_click_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """G4 streaming: stream-stream inner join with a time-interval
    condition — each purchase pairs with the same user's clicks from the
    preceding `max_gap`. Both sides carry watermarks so the join state
    is bounded: a click older than (watermark + gap) can never match and
    is evicted. The reference cannot express any cross-record operation,
    let alone a windowed one."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_gap}")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts")


def dedup_event_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """G14: keyed streaming dedup on event_id. State is bounded by the
    watermark — duplicates arriving within the watermark horizon are
    dropped exactly-once across restarts (vs the reference, which
    re-emits every record on restart)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded streaming query to completion synchronously into
    an in-memory table (test/debug harness)."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return query


# Route of a malformed record, and the name of its stream under the
# USA destination stream: the analog of the Firehose `errors/` prefix.
QUARANTINE = "_quarantine"

# Shards per destination stream.
DEST_SHARDS = 4


# The batch column that carries the driver's T1 stamp into the projection.
_T1_COL = "__processing_timestamp_text"


def t1_text(epoch_us: int, time_zone: str) -> str:
    """The text Spark's `to_json` writes for the timestamp `epoch_us`
    (microseconds since the epoch) in session time zone `time_zone`:
    yyyy-MM-dd'T'HH:mm:ss.SSSXXX, milliseconds truncated, 'Z' for a zero
    offset."""
    utc = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    at = (utc + datetime.timedelta(microseconds=epoch_us)).astimezone(ZoneInfo(time_zone))
    text = at.isoformat(timespec="milliseconds")
    return text[: -len("+00:00")] + "Z" if text.endswith("+00:00") else text


def kinesis_sim_sink(dest_streams: dict[str, str], run_scope: str = "default"):
    """foreachBatch body writing each routed split to a kinesis_sim
    DESTINATION STREAM — the reference's dest_streams demux
    (consumer.py:160-171: country == 'USA' -> USA stream, else
    International, PartitionKey=session_id) as one Spark job per
    micro-batch instead of per-record put_record. The JVM computes each
    enriched record's route, shard and {"partitionKey", "data"} envelope,
    and one `collect` brings the envelopes to the driver, where
    `stage_and_publish` stages them once, one file per route and shard,
    under `<USA stream>/_staging/<token>/` and publishes each route's
    files with `kinesis_sim.publish`, whose commit token
    ``<run_scope>e<epoch>`` makes an epoch retry converge to one copy.
    Markers and tokens are scoped to the checkpoint identity (`run_scope`):
    epoch ids restart at 0 under a fresh checkpoint.

    A record whose `_corrupt_record` is set is quarantined instead of
    routed: its raw text is the envelope's data, its key the
    `key_column` of its session_id (null after a failed parse, so
    'None'), and it is published with the same token to the stream
    `<USA stream>/_quarantine`. Readers of the USA stream list only its
    `shard-*` directories, so they never see it.

    `dest_streams` maps route name ('USA'/'International') to a stream
    directory; the directories are created here and must sit on one
    filesystem, since publishing hard-links the staged files.

    The (route, shard, envelope) Columns are built once per query, on
    its first batch, from `enrichment_columns` (keyed on the batch's
    column names); each batch runs `batch.select(*cols).collect()`.
    `processing_timestamp` (T1) is stamped on the driver once per batch,
    as the reference stamps it on the consumer host (consumer.py:126-129):
    the text `to_json` writes for a timestamp in the session time zone
    (`t1_text`), added to the batch as a string literal column that the
    Columns reference. A string literal reaches the generated code as a
    reference object, so every batch of the query runs the same compiled
    code; a timestamp literal would be inlined, and each batch would
    compile and warm up code of its own. T1 stays the record's last
    field, and the destination bytes are those `to_json` writes for the
    timestamp.

    The driver holds one micro-batch's envelopes; the kinesis_sim source
    caps a micro-batch at `maxFetchRecordsPerShard` records per shard.
    Staging on the driver keeps the write free of Python worker tasks
    and of Spark's file writers, whose Hadoop local filesystem spawns a
    `chmod` process per file and directory when native libhadoop is
    absent."""
    from ..sources.kinesis_sim import key_column, shard_column

    missing = [r for r in ROUTES if r not in dest_streams]
    if missing:
        raise ValueError(f"dest_streams lacks routes {missing}: {dest_streams}")
    routes = [(r, dest_streams[r]) for r in ROUTES]
    for _route, path in routes:
        os.makedirs(path, exist_ok=True)
    devices = {path: os.stat(path).st_dev for _route, path in routes}
    if len(set(devices.values())) > 1:
        raise ValueError(
            "kinesis_sim destination streams must sit on one filesystem "
            f"(published with os.link); devices by path: {devices}"
        )
    routes.append((QUARANTINE, os.path.join(routes[0][1], QUARANTINE)))
    # By the batch's column names: the routed Columns and the session time zone.
    projections: dict[tuple[str, ...], tuple[list, str]] = {}

    def routed_projection(columns: tuple[str, ...]) -> list:
        enrich = enrichment_columns(with_processing_ts=False)
        enrich["processing_timestamp"] = F.col(_T1_COL)
        # enrich_sessions' column order: replaced in place, new appended.
        names = [c for c in columns if c != CORRUPT_COL]
        names += [n for n in enrich if n not in columns]
        record = F.struct(
            *[enrich[n].alias(n) if n in enrich else F.col(n) for n in names]
        )
        corrupt = F.col(CORRUPT_COL)
        key = key_column(F.col("session_id"))
        envelope = F.struct(
            key.alias("partitionKey"),
            F.coalesce(corrupt, F.to_json(record)).alias("data"),
        )
        return [
            F.when(corrupt.isNull(), route_column()).otherwise(QUARANTINE),
            shard_column(key, DEST_SHARDS),
            F.to_json(envelope),
        ]

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        def collect() -> list:
            columns = tuple(batch.columns)
            if columns not in projections:
                zone = batch.sparkSession.conf.get("spark.sql.session.timeZone")
                projections[columns] = routed_projection(columns), zone
            cols, zone = projections[columns]
            t1 = F.lit(t1_text(time.time_ns() // 1000, zone))
            return batch.withColumn(_T1_COL, t1).select(*cols).collect()

        stage_and_publish(routes, f"{run_scope}e{epoch_id:020d}", collect)

    return write_batch


def stage_and_publish(routes: list[tuple[str, str]], token: str, collect) -> None:
    """The driver half of a routed micro-batch: stage the (route, shard,
    envelope) rows that `collect()` returns under
    `<first route's stream>/_staging/<token>/`, then `publish` each
    route's files to its stream, in `routes` order, with commit token
    `token`. When every route already holds the token's done-marker the
    epoch is complete and `collect` is not called, so a retried epoch
    runs no Spark job. The stage dir is cleared on every exit, and before
    staging: a dead attempt's staged file may already be hard-linked into
    a stream, and writing the retry's rows into it would rewrite a
    published part file in place."""
    from ..sources.kinesis_sim import is_published, publish

    stage_dir = os.path.join(routes[0][1], "_staging", token)
    try:
        if not all(is_published(path, token) for _route, path in routes):
            shutil.rmtree(stage_dir, ignore_errors=True)
            staged = _stage(stage_dir, collect())
            for route, path in routes:
                publish(path, staged.get(route, []), token)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(stage_dir))


def _stage(stage_dir: str, rows) -> dict[str, list[tuple[str, str]]]:
    """Write (route, shard, envelope) rows to one staged file per route
    and shard, in row order, so records of one key keep their source
    order in their shard. Returns each route's (shard-relative path,
    staged path) pairs, as `kinesis_sim.publish` takes them."""
    os.makedirs(stage_dir, exist_ok=True)
    handles, staged = {}, {}
    try:
        for route, shard, line in rows:
            fh = handles.get((route, shard))
            if fh is None:
                tmp = os.path.join(stage_dir, f"{route}-{shard:05d}.jsonl")
                fh = handles[(route, shard)] = open(tmp, "w", encoding="utf-8")
                rel = os.path.join(f"shard-{shard:05d}", "part-batch.jsonl")
                staged.setdefault(route, []).append((rel, tmp))
            fh.write(line + "\n")
    finally:
        for fh in handles.values():
            fh.close()
    return staged


def read_session_stream_kinesis_sim(
    spark: SparkSession, stream_dir: str
) -> DataFrame:
    """Session records from a kinesis_sim SOURCE stream: the custom
    DataSource yields (shard_id, sequence_number, partition_key, data);
    the JSON payload is parsed PERMISSIVE into the session schema with
    the corrupt column that `kinesis_sim_sink` quarantines on (S3 JSON
    decode, consumer.py:118)."""
    from ..sources.kinesis_sim import register_format

    register_format(spark)
    raw = (
        spark.readStream.format("kinesis_sim").option("path", stream_dir).load()
    )
    return raw.select(
        F.from_json("data", SESSION_RECORD_SCHEMA, PERMISSIVE).alias("r")
    ).select("r.*")


def run_kinesis_sim_pipeline(
    spark: SparkSession,
    input_dir: str,
    dest_streams: dict[str, str],
    checkpoint_dir: str,
    await_all_available: bool = False,
    source_format: str = "kinesis_sim",
):
    """The reference's full topology — kinesis_sim source stream
    `input_dir` -> per-record enrichment -> keyed demux to two
    destination streams through `kinesis_sim_sink` — checkpointed in
    `checkpoint_dir`. `source_format` accepts only "kinesis_sim".

    Before the query starts, `kinesis_sim.guard_checkpoint` refuses
    (`StaleCheckpointError`) a checkpoint whose source stream was
    regenerated since it was written, which the reader's offset-past-
    tail check misses when the new stream is at least as long."""
    from ..sources.kinesis_sim import guard_checkpoint

    if source_format != "kinesis_sim":
        raise ValueError(
            f"source_format must be 'kinesis_sim', got {source_format!r}"
        )
    guard_checkpoint(input_dir, checkpoint_dir)
    stream = read_session_stream_kinesis_sim(spark, input_dir)
    # Commit-token scope = the checkpoint path: one checkpoint == one
    # monotone epoch-id space, so markers from a different (e.g. fresh)
    # checkpoint can never suppress this run's writes.
    scope = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    query = (
        stream.writeStream.foreachBatch(
            kinesis_sim_sink(dest_streams, run_scope=scope)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    if await_all_available:
        query.processAllAvailable()
    return query
