"""Reference-payload ETL semantics (consumer.py:118-185) on synthetic
JSON records: parse, quarantine, enrich, route."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from stream_ingestion_amazon_kinesis_spark.operators.enrichment import (
    enrich_sessions,
    route_column,
)
from stream_ingestion_amazon_kinesis_spark.sources.json_source import (
    parse_json_records,
    to_json_records,
)

RECORDS = [
    # canonical payload (README.md:277-298 shape)
    {
        "session_id": "s1",
        "customer_number": 1,
        "city": "Austin",
        "country": "USA",
        "credit_limit": 1000,
        "browse_history": [
            {"product_code": "a", "quantity": "2", "in_shopping_cart": True},
            {"product_code": "b", "quantity": "3", "in_shopping_cart": False},
        ],
    },
    # empty browse_history
    {
        "session_id": "s2",
        "customer_number": 2,
        "city": "Paris",
        "country": "France",
        "credit_limit": 500,
        "browse_history": [],
    },
    # quantity arrives as int (the notebook warns it may be either)
    {
        "session_id": "s3",
        "customer_number": 3,
        "city": "Lyon",
        "country": "France",
        "credit_limit": 700,
        "browse_history": [
            {"product_code": "c", "quantity": 5, "in_shopping_cart": True}
        ],
    },
]
CORRUPT = ["{not json", '"just a string"']


def _raw_df(spark):
    rows = [(json.dumps(r),) for r in RECORDS] + [(c,) for c in CORRUPT]
    return spark.createDataFrame(rows, "value string")


def test_parse_and_quarantine(spark):
    ok, quarantine = parse_json_records(_raw_df(spark))
    assert ok.count() == 3
    # drop-with-log path (consumer.py:178-185) -> quarantine, not silent drop
    assert quarantine.count() == 2
    assert set(quarantine.columns) == {"raw_record"}


def test_enrichment_semantics(spark):
    ok, _ = parse_json_records(_raw_df(spark))
    out = {
        r["session_id"]: r
        for r in enrich_sessions(ok).collect()
    }
    # T2: sum of int(quantity); T3: only in-cart items; T4: len()
    assert out["s1"]["overall_product_quantity"] == 5
    assert out["s1"]["overall_in_shopping_cart"] == 2
    assert out["s1"]["total_different_products"] == 2
    # empty history folds to 0 / 0 / 0 (consumer.py:131-157 init values)
    assert out["s2"]["overall_product_quantity"] == 0
    assert out["s2"]["overall_in_shopping_cart"] == 0
    assert out["s2"]["total_different_products"] == 0
    # int-typed quantity handled by the same cast path
    assert out["s3"]["overall_product_quantity"] == 5
    # T1 processing timestamp present
    assert out["s1"]["processing_timestamp"] is not None


def test_routing_demux(spark):
    # A null country takes the reference's else-branch: International.
    null_country = dict(RECORDS[1], session_id="s4", country=None)
    raw = _raw_df(spark).union(
        spark.createDataFrame([(json.dumps(null_country),)], "value string")
    )
    ok, _ = parse_json_records(raw)
    enriched = enrich_sessions(ok).withColumn("route", route_column())
    usa = enriched.filter(F.col("route") == "USA")
    intl = enriched.filter(F.col("route") == "International")
    assert [r["session_id"] for r in usa.select("session_id").collect()] == ["s1"]
    assert sorted(r["session_id"] for r in intl.select("session_id").collect()) == [
        "s2",
        "s3",
        "s4",
    ]


def test_json_roundtrip_iso_timestamps(spark):
    ok, _ = parse_json_records(_raw_df(spark))
    enriched = enrich_sessions(ok)
    serialized = to_json_records(enriched)
    row = json.loads(serialized.collect()[0]["value"])
    # S4: timestamps serialize ISO-8601 natively (vs consumer.py:32-41
    # custom serializer)
    assert "T" in row["processing_timestamp"]
    assert row["overall_product_quantity"] == 5


def test_sessionize_max_items_caps_power_keys(spark, sf_dir):
    """A power key (one user with far more events than the rest) must
    not become one unbounded fat row: `max_items` keeps only the
    deterministic earliest-event_id prefix of the sorted array."""
    from stream_ingestion_amazon_kinesis_spark.operators.enrichment import (
        sessionize_events,
    )

    capped = sessionize_events(spark, sf_dir, max_items=3)
    sizes = capped.select(F.size("browse_history").alias("n")).agg(
        F.max("n").alias("mx")
    ).collect()[0]
    assert sizes.mx <= 3

    full = sessionize_events(spark, sf_dir)
    joined = (
        full.select("session_id", F.slice("browse_history", 1, 3).alias("want"))
        .join(capped.select("session_id", F.col("browse_history").alias("got")),
              "session_id")
    )
    assert joined.filter(F.col("want") != F.col("got")).count() == 0
    # and at least one session in the fixture actually exceeded the cap
    assert (
        full.select(F.size("browse_history").alias("n")).filter(F.col("n") > 3).count()
        > 0
    )
