from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_ingestion_amazon_kinesis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def write_source_stream(stream: str, shards: dict[int, list[list]]) -> None:
    """A kinesis_sim stream written directly in its on-disk layout: for
    each shard, one part file per list of records, appended after the
    records the shard already holds and named by its first sequence
    number. A record is a session dict, or a str put on the wire as is
    (a malformed payload)."""
    for shard, files in shards.items():
        d = os.path.join(stream, f"shard-{shard:05d}")
        os.makedirs(d, exist_ok=True)
        seq = 0
        for name in os.listdir(d):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                seq += sum(1 for line in fh if line.strip())
        for recs in files:
            with open(os.path.join(d, f"part-{seq:020d}.jsonl"), "w", encoding="utf-8") as fh:
                for rec in recs:
                    if isinstance(rec, str):
                        env = {"partitionKey": "malformed", "data": rec}
                    else:
                        env = {"partitionKey": rec["session_id"], "data": json.dumps(rec)}
                    fh.write(json.dumps(env) + "\n")
            seq += len(recs)
