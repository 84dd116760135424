"""The program surface that the benchmark (`perfbench/`) calls, pinned
without a JVM: dropping or renaming any of it fails here rather than in
every benchmark run."""

from __future__ import annotations

import inspect

from pyspark.sql import types as T

import bench
from scripts.check_oracle import df_to_rows
from stream_ingestion_amazon_kinesis_spark.operators.enrichment import enrich_sessions
from stream_ingestion_amazon_kinesis_spark.sources import json_source
from stream_ingestion_amazon_kinesis_spark.sources.kinesis_sim import (
    KinesisSimWriter,
    register_format,
)
from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

DESTS = {"USA": "usa", "International": "intl"}


def test_streaming_call_surface():
    sig = inspect.signature
    sig(pipeline.run_kinesis_sim_pipeline).bind(
        "spark", "src", DESTS, "ckpt", source_format="kinesis_sim"
    )
    sig(pipeline.kinesis_sim_sink).bind(DESTS, run_scope="scope")
    sig(KinesisSimWriter).bind("stream", 4, "partition_key", "data")
    sig(KinesisSimWriter.write).bind("writer", iter(()))
    sig(KinesisSimWriter.commit).bind("writer", [])
    sig(register_format).bind("spark")
    sig(json_source.parse_json_records).bind("raw", value_col="data")
    sig(enrich_sessions).bind("df")
    assert isinstance(json_source.CORRUPT_COL, str)
    assert isinstance(json_source.SESSION_SCHEMA, T.StructType)


def test_batch_call_surface():
    assert bench.HEADLINE and all(isinstance(q, str) for q in bench.HEADLINE)
    inspect.signature(df_to_rows).bind("pdf")
