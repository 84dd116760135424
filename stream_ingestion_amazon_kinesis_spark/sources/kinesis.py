"""Kinesis streaming source — the reference's native ingress, pluggable.

The reference polls Kinesis by hand: paginated list_shards, a
TRIM_HORIZON iterator per shard, get_records(Limit=200) in a sleep(2)
loop, cursors in memory (consumer.py:53-94, 108-195). On Spark the
whole loop is a source connector: shards map to input partitions,
iterator positions live in the checkpoint, and pacing is the trigger.

This builder translates the reference's operating parameters to
connector options. The connector jar (spark-sql-kinesis /
spark-streaming-kinesis-asl) is not in this environment, so `load()`
will fail here — the downstream plan is identical either way, which is
the point: tests drive the same pipeline from the kinesis_sim source
(streaming/pipeline.py), and production swaps this reader in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Reference -> connector option mapping (consumer.py:76, :115, :195)
STARTING_POSITION = {
    "TRIM_HORIZON": "earliest",
    "LATEST": "latest",
}


def kinesis_reader_options(
    stream_name: str,
    region: str,
    starting_position: str = "TRIM_HORIZON",
    max_fetch_records_per_shard: int = 200,
) -> dict[str, str]:
    return {
        "streamName": stream_name,
        "region": region,
        "startingPosition": STARTING_POSITION.get(
            starting_position, starting_position
        ),
        # the connector analog of get_records(Limit=200), consumer.py:115
        "maxFetchRecordsPerShard": str(max_fetch_records_per_shard),
    }


def read_kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str,
    starting_position: str = "TRIM_HORIZON",
) -> DataFrame:
    """Streaming DataFrame over a Kinesis stream (binary `data` column +
    shard/sequence metadata — feed it to sources.json_source.
    parse_json_records). Requires a Kinesis connector on the classpath;
    raises a clear error otherwise."""
    reader = spark.readStream.format("kinesis")
    for k, v in kinesis_reader_options(stream_name, region, starting_position).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # connector jar absent in this environment
        raise RuntimeError(
            "Kinesis connector not on the classpath; add a spark-sql-kinesis "
            "connector jar, or use streaming.pipeline.read_session_stream_kinesis_sim "
            "(the kinesis_sim source), which drives the identical downstream plan"
        ) from e
