"""Structured Streaming pipelines — the reference's runtime identity.

The reference is a hand-rolled poll loop: enumerate shards, get_records
per shard forever, transform each record in Python, put_record to one
of two destination streams, with in-memory cursors that vanish on
restart (consumer.py:53-94, 108-195 — at-least-once with full
TRIM_HORIZON replay). This module is the same pipeline as ONE logical
plan, incrementalized by the micro-batch engine:

- source: `readStream` over a directory of JSON records (the test/
  local stand-in; a Kinesis/Kafka source is a `format()` swap — the
  plan and sinks are untouched, per BASELINE.json's "Structured
  Streaming + Kinesis source" approach).
- transform: the exact T1-T6 enrichment from operators/enrichment.py —
  same code object as the batch path, which is what makes streaming
  results oracle-checkable by batch replay.
- sink: `foreachBatch` demux to BOTH routes plus a quarantine (the
  reference re-serializes record-at-a-time, consumer.py:160-171, and
  drops malformed records with a log line, consumer.py:177-185). One
  Spark job collects the whole routed micro-batch; the driver then
  stages and publishes each route with the batch's commit token.
- state: checkpointed offsets plus the epoch-idempotent publish give
  exactly-once output, replacing the reference's restart-equals-replay
  behavior (consumer.py:76).

Shard -> partition mapping: each source file of the JSON stream becomes
input partitions processed by parallel tasks; a live kinesis_sim
micro-batch is ONE partition, every shard's capped slice read on the
driver and shipped to the JVM with the batch (no Python worker runs);
`trigger(processingTime=...)`
replaces the `time.sleep(2)` pacing (consumer.py:194-195); per-key
output ordering (partition key session_id, consumer.py:170) is
preserved by staging the collected rows in order.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.enrichment import ROUTES, enrich_sessions, route_column
from ..sources.json_source import CORRUPT_COL, PERMISSIVE, SESSION_RECORD_SCHEMA


def read_session_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source of JSON session records.

    File source here; swapping `.format("kinesis")` / `.format("kafka")`
    with the matching options yields the same downstream plan. The
    `maxFilesPerTrigger` option is the file-source analog of the
    reference's `Limit=200` fetch cap (consumer.py:114-116).
    """
    reader = spark.readStream.schema(SESSION_RECORD_SCHEMA).options(**PERMISSIVE)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(input_dir)


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


def kinesis_sim_sink(
    dest_streams: dict[str, str],
    num_shards: int = 4,
    run_scope: str = "default",
):
    """foreachBatch body writing each routed split to a kinesis_sim
    DESTINATION STREAM — the reference's dest_streams demux
    (consumer.py:160-171: country == 'USA' -> USA stream, else
    International, PartitionKey=session_id) as one Spark job per
    micro-batch instead of per-record put_record. The JVM computes each
    enriched record's route, shard and {"partitionKey", "data"} envelope,
    and one `collect` brings the envelopes to the driver, which stages
    them once, one file per route and shard, under
    `<USA stream>/_staging/<token>/` (`_stage`) and publishes each
    route's files with `kinesis_sim.publish`, whose commit token
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
    filesystem, since publishing moves the staged files with os.replace.

    The driver holds one micro-batch's envelopes; the kinesis_sim source
    caps a micro-batch at `maxFetchRecordsPerShard` records per shard.
    Staging on the driver keeps the write free of Python worker tasks
    and of Spark's file writers, whose Hadoop local filesystem spawns a
    `chmod` process per file and directory when native libhadoop is
    absent."""
    from ..sources.kinesis_sim import (
        _consume_killpoint,
        is_published,
        key_column,
        publish,
        shard_column,
    )

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
            f"(published with os.replace); devices by path: {devices}"
        )
    # kill -9 drill points (tests/test_cli.py) are armed by files in this
    # stream dir: torn WAL with nothing / one route / both routes
    # published. No-ops in normal operation.
    first = routes[0][1]
    routes.append((QUARANTINE, os.path.join(first, QUARANTINE)))

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        token = f"{run_scope}e{epoch_id:020d}"
        stage_dir = os.path.join(first, "_staging", token)
        _consume_killpoint(first, "_killpoint_batch_start")
        try:
            if not all(is_published(path, token) for _route, path in routes):
                shutil.rmtree(stage_dir, ignore_errors=True)
                enriched = enrich_sessions(batch)
                corrupt = F.col(CORRUPT_COL)
                record = F.struct(*[c for c in enriched.columns if c != CORRUPT_COL])
                key = key_column(F.col("session_id"))
                envelope = F.struct(
                    key.alias("partitionKey"),
                    F.coalesce(corrupt, F.to_json(record)).alias("data"),
                )
                staged = _stage(
                    stage_dir,
                    enriched.select(
                        F.when(corrupt.isNull(), route_column()).otherwise(QUARANTINE),
                        shard_column(key, num_shards),
                        F.to_json(envelope),
                    ).collect(),
                )
                for route, path in routes:
                    publish(path, staged.get(route, []), token)
                    _consume_killpoint(first, "_killpoint_between_routes")
            _consume_killpoint(first, "_killpoint_after_routes")
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(stage_dir))

    return write_batch


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
    the corrupt column, so downstream sinks see the exact same shape as
    the file-source path (S3 JSON decode, consumer.py:118)."""
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
    source_format: str = "json",
):
    """The reference's full topology — source stream -> per-record
    enrichment -> keyed demux to two destination streams — with the
    destination side going through the kinesis_sim custom sink.
    `source_format="kinesis_sim"` reads the source from a kinesis_sim
    stream directory instead of a JSON file stream (the CLI pairing
    with `produce`)."""
    if source_format not in ("json", "kinesis_sim"):
        raise ValueError(
            f"source_format must be 'json' or 'kinesis_sim', "
            f"got {source_format!r}"
        )
    if source_format == "kinesis_sim":
        stream = read_session_stream_kinesis_sim(spark, input_dir)
    else:
        stream = read_session_stream(spark, input_dir)
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
