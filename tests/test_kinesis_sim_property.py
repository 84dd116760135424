"""Property-based round-trip for the kinesis_sim DataSource.

For ANY batch of (partition_key, data) records: write -> batch read
preserves the exact multiset of records, every record lands on the
shard its key hashes to, and per-shard sequence numbers stay dense.
Mirrors tests/test_asof_property.py's strategy of few, large examples
(a Spark job per example).
"""

from __future__ import annotations

import zlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stream_ingestion_amazon_kinesis_spark.sources import kinesis_sim

KEYS = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=12
)
DATA = st.text(min_size=0, max_size=40)
RECORDS = st.lists(st.tuples(KEYS, DATA), min_size=1, max_size=200)


@given(records=RECORDS, num_shards=st.integers(min_value=1, max_value=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_write_read_roundtrip_multiset(spark, tmp_path_factory, records, num_shards):
    kinesis_sim.register_format(spark)
    path = str(tmp_path_factory.mktemp("ksim_prop") / "stream")
    df = spark.createDataFrame(records, "partition_key string, data string")
    (
        df.write.format("kinesis_sim")
        .option("path", path)
        .option("numShards", str(num_shards))
        .mode("overwrite")
        .save()
    )
    back = spark.read.format("kinesis_sim").option("path", path).load().collect()

    assert sorted((r.partition_key, r.data) for r in back) == sorted(records)
    seqs: dict[str, list[int]] = {}
    for r in back:
        expect = zlib.crc32(r.partition_key.encode("utf-8")) % num_shards
        assert r.shard_id == f"shard-{expect:05d}"
        seqs.setdefault(r.shard_id, []).append(r.sequence_number)
    for got in seqs.values():
        assert sorted(got) == list(range(len(got)))


# Any key the JVM can carry: ASCII, non-ASCII, empty, and null (which the
# DataSource writer routes as str(None)). Lone surrogates are excluded:
# they have no UTF-8 encoding on either side.
ANY_KEYS = st.one_of(
    st.none(), st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12)
)
SHARD_COUNTS = (1, 2, 3, 4, 7, 32)


@given(keys=st.lists(ANY_KEYS, min_size=1, max_size=100))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jvm_shard_matches_writer_routing(spark, keys):
    """The routed sink's JVM shard expression sends every key to the shard
    `KinesisSimWriter.write` picks: shard_of(str(key), n)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    key = kinesis_sim.key_column(F.col("k"))
    got = df.select(
        "k",
        key.alias("key"),
        *(kinesis_sim.shard_column(key, n).alias(f"s{n}") for n in SHARD_COUNTS),
    ).collect()
    assert sorted(repr(r.k) for r in got) == sorted(repr(k) for k in keys)
    for r in got:
        assert r.key == str(r.k)
        for n in SHARD_COUNTS:
            assert r[f"s{n}"] == kinesis_sim.shard_of(str(r.k), n), (r.k, n)
