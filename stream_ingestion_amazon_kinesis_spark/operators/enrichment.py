"""Flagship session-enrichment ETL — the semantic core of the reference.

Reference semantics (consumer.py:124-175):
  T1 add processing_timestamp            (consumer.py:126-129)
  T2 overall_product_quantity  = sum(int(p.quantity) for p in browse_history)
                                         (consumer.py:131-139,147-150)
  T3 overall_in_shopping_cart  = sum(int(p.quantity) if p.in_shopping_cart)
                                         (consumer.py:141-145,151-153)
  T4 total_different_products  = len(browse_history)   (consumer.py:155-157)
  T5 defensive string->int cast          (consumer.py:136-139)
  T6 route on a predicate to one of two sinks           (consumer.py:160-165)
  T7 partition output by session_id                     (consumer.py:170)

Here each record's per-array fold is a declarative higher-order function
(`F.aggregate` / `F.filter` / `F.size`) — whole-stage-codegen'd JVM
expressions, not a per-record Python loop — so the same plan vectorizes
across however many partitions the source has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..plans.registry import register

# ---------------------------------------------------------------------------
# Core transforms over the reference payload shape (browse_history array).
# ---------------------------------------------------------------------------


def _qty(x: Column) -> Column:
    # T5: the wire sends quantity as a string; the reference int()-casts.
    return x["quantity"].cast("long")


def enrich_sessions(sessions: DataFrame, with_processing_ts: bool = True) -> DataFrame:
    """T1-T5 over a DataFrame bearing a `browse_history` array column."""
    bh = F.col("browse_history")
    out = sessions.withColumns(
        {
            "overall_product_quantity": F.aggregate(
                bh, F.lit(0).cast("long"), lambda acc, x: acc + _qty(x)
            ),
            "overall_in_shopping_cart": F.aggregate(
                F.filter(bh, lambda x: x["in_shopping_cart"]),
                F.lit(0).cast("long"),
                lambda acc, x: acc + _qty(x),
            ),
            "total_different_products": F.size(bh).cast("long"),
        }
    )
    if with_processing_ts:
        out = out.withColumn("processing_timestamp", F.current_timestamp())
    return out


ROUTES = ("USA", "International")


def route_column() -> Column:
    """T6 route of an enriched session (consumer.py:160-165): 'USA' when
    country == 'USA', else 'International' — a null country included,
    as in the reference's else-branch."""
    return F.when(F.col("country") == "USA", "USA").otherwise("International")


# ---------------------------------------------------------------------------
# Fixture-facing flagship query: sessionize `events` into the payload
# shape, then run the exact T2/T3/T4 folds. Deterministic (no T1 column)
# so it is oracle-hashable; `entry()` adds T1 on top for the smoke check.
# ---------------------------------------------------------------------------


def sessionize_events(
    spark: SparkSession, sf_dir: str, max_items: int | None = None
) -> DataFrame:
    """Build reference-shaped sessions from the `events` fixture: one
    session per user, browse_history = that user's events as
    (product_code, quantity-as-string, in_shopping_cart) structs.

    `sort_array` over (event_id-first) structs makes the array order
    deterministic regardless of shuffle order. floor(value) is the
    quantity so the string->int cast path (T5) is exercised losslessly
    on both engines.

    Scale bound: the per-session array mirrors the reference's payload
    shape (consumer.py:131-157), whose size is bounded by the session
    length a single Kinesis record carries — NOT by corpus size. For
    unboundedly-keyed upstreams (where a power key would otherwise
    become one fat row), pass `max_items`: the sorted array is capped
    with `F.slice(.., 1, max_items)`, keeping the deterministic
    earliest-event_id prefix. Default None = exact reference parity.
    """
    events = load_table(spark, sf_dir, "events")
    item = F.struct(
        F.col("event_id"),
        F.col("event_type").alias("product_code"),
        F.floor("value").cast("long").cast("string").alias("quantity"),
        (F.col("event_type") == "purchase").alias("in_shopping_cart"),
    )
    arr = F.sort_array(F.collect_list(item))
    if max_items is not None:
        arr = F.slice(arr, 1, max_items)
    return (
        events.groupBy(F.col("user_id").alias("session_id"))
        .agg(arr.alias("browse_history"))
        .withColumn(
            "browse_history",
            F.transform(
                "browse_history",
                lambda x: F.struct(
                    x["product_code"].alias("product_code"),
                    x["quantity"].alias("quantity"),
                    x["in_shopping_cart"].alias("in_shopping_cart"),
                ),
            ),
        )
    )


@register(
    "flagship_session_enrichment",
    oracle="""
    SELECT user_id AS session_id,
           CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT)
               AS overall_product_quantity,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(FLOOR(value) AS BIGINT) END), 0) AS BIGINT)
               AS overall_in_shopping_cart,
           COUNT(*) AS total_different_products,
           CASE WHEN COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                       THEN CAST(FLOOR(value) AS BIGINT) END), 0) > 0
                THEN 'cart' ELSE 'no_cart' END AS route
    FROM events
    GROUP BY user_id
    """,
    description="Reference ETL core T1-T7 (consumer.py:124-175) in batch over sessionized events",
)
def flagship_session_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = sessionize_events(spark, sf_dir)
    enriched = enrich_sessions(sessions, with_processing_ts=False)
    routed = enriched.withColumn(
        "route",
        F.when(F.col("overall_in_shopping_cart") > 0, F.lit("cart")).otherwise(
            F.lit("no_cart")
        ),
    )
    return routed.select(
        "session_id",
        "overall_product_quantity",
        "overall_in_shopping_cart",
        "total_different_products",
        "route",
    )


@register(
    "session_routing_split",
    oracle="""
    WITH enriched AS (
        SELECT user_id,
               COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(FLOOR(value) AS BIGINT) END), 0) AS cart_qty,
               SUM(CAST(FLOOR(value) AS BIGINT)) AS total_qty
        FROM events GROUP BY user_id
    )
    SELECT CASE WHEN cart_qty > 0 THEN 'cart' ELSE 'no_cart' END AS route,
           COUNT(*) AS n_sessions,
           CAST(SUM(total_qty) AS BIGINT) AS sum_quantity
    FROM enriched
    GROUP BY 1
    """,
    description="T6 routing demux totals: sessions and quantity per destination sink",
)
def session_routing_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = flagship_session_enrichment(spark, sf_dir)
    return routed.groupBy("route").agg(
        F.count("*").alias("n_sessions"),
        F.sum("overall_product_quantity").alias("sum_quantity"),
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    description="S3 JSON decode (consumer.py:118) as declarative get_json_object + aggregate",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k", F.get_json_object(F.col("props"), "$.k").cast("long")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )
